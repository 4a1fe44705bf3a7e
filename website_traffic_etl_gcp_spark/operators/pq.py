"""Product quantization (PQ) for billion-scale similarity search.

Jégou, Douze, Schmid — "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each D-dim vector into M subvectors, learn
a tiny k-means codebook PER SUBSPACE, store each vector as M small
codes, and answer queries with an Asymmetric Distance Computation
(ADC) scan — per query, precompute an M×k table of
query-subvector-to-centroid distances, then a candidate's approximate
distance is just M table lookups summed.  Memory per vector drops from
D floats to M bytes; the scan does M adds instead of D multiply-adds.

This is the memory-bound tier of the ANN family
(`operators/similarity.py` holds brute force / LSH / IVF): at 100 TB
the raw vectors don't fit the cluster's RAM, the PQ codes do.

Scale shape:
- Training runs ALL M subspaces at once by keying every Spark job on
  the subspace id — per Lloyd iteration it's one argmin join + one
  exact-decimal mean groupBy, independent of M; only the M×k×(D/M)
  centroid floats (= D×k doubles total) ever reach the driver — the
  standard k-means driver loop, bounded state.
- Encoding is one broadcast argmin join — O(corpus × M × k) codegen
  arithmetic, no shuffle beyond the code collect per vector.
- ADC queries broadcast a bounded probe set's distance tables
  (|queries| × M × k doubles); the corpus-side scan is O(corpus × M)
  lookups.  Vectors are L2-NORMALIZED before everything, so squared-L2
  ranking equals cosine ranking and PQ recall is comparable with the
  cosine ground truth used by the other tiers.

Determinism: codebooks initialize from the k smallest vec_ids per
subspace, means aggregate in exact decimal (partition-order
independent), and every argmin tie-breaks through a struct min on
(dist, cell) — identical across reruns and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 16 subspaces × 16 codes = 64 bits/vector; on the 64-dim test
# embeddings this beats 8×16 and 8×32 on measured recall@5 (with the
# exact re-rank: 0.62-0.80 across sf0.001-0.1 vs the family's 0.3
# floor) at the same M-lookup scan cost.
PQ_M = 16  # subspaces
PQ_K = 16  # codes per subspace
PQ_ITERS = 5

# Codebooks train on a bounded deterministic sample once the corpus
# exceeds this (the standard production shape — Jégou et al. train on
# a fixed-size sample regardless of corpus size): M×k=256 centroids
# are saturated long before 4k training vectors, and without the cap
# the 5 Lloyd iterations scan the FULL corpus (measured 28 s of the
# 42 s sf1 PQ pipeline). Below the cap the sample is the whole corpus,
# so test-SF results are bit-identical to the uncapped form.
PQ_TRAIN_SAMPLE_CAP = 4096


def _unit(vec_col: str) -> F.Column:
    sq = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    n = F.sqrt(sq)
    return F.transform(F.col(vec_col), lambda x: x.cast("double") / n)


def subvectors(
    emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, m, sub) — the L2-normalized vector split into ``m``
    contiguous subvectors of dim/m components each.  One narrow
    explode; no shuffle."""
    d_sub = dim // m
    return (
        emb.select(id_col, _unit(vec_col).alias("u"))
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
            F.col("u"),
        )
        .select(
            id_col,
            "m",
            F.slice(F.col("u"), F.col("m") * d_sub + 1, d_sub).alias("sub"),
        )
    )


def _sq_dist(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_codes(
    sub: DataFrame,
    cents: DataFrame,
    id_col: str,
    with_sub: bool = False,
) -> DataFrame:
    """(vec_id, m, code, dist): nearest codebook entry per subvector —
    map-side argmin.  The M×k codebook is folded into one packed row
    PER SUBSPACE (cell list as array<struct>), broadcast-joined on
    ``m`` (no row multiplication — each (vec, m) row gains its
    subspace's cell array), and the argmin is ``array_min`` over
    (dist, cell) structs inside codegen: deterministic ties toward the
    smaller cell, zero exchange of the (vec, m) rows.  The previous
    form fanned out k× and collapsed with a groupBy — an avoidable
    n×M-row shuffle per call (×PQ_ITERS in training).

    ``with_sub`` keeps the subvector column in the output so training
    can recompute means WITHOUT re-joining the assignment back to the
    subvector frame (which cost two more exchanges per iteration)."""
    packed = cents.groupBy("m").agg(
        F.collect_list(F.struct("cell", "centroid")).alias("__cells")
    )

    def sdist(c):
        return F.aggregate(
            F.zip_with(
                F.col("sub"), c["centroid"], lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    best = F.array_min(
        F.transform(
            F.col("__cells"),
            lambda c: F.struct(
                sdist(c).alias("dist"), c["cell"].alias("cell")
            ),
        )
    )
    out_cols = [
        id_col,
        "m",
        F.col("__best")["cell"].alias("code"),
        F.col("__best")["dist"].alias("dist"),
    ]
    if with_sub:
        out_cols.append(F.col("sub"))
    return (
        sub.join(F.broadcast(packed), "m")
        .withColumn("__best", best)
        .select(*out_cols)
    )


def train_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = PQ_TRAIN_SAMPLE_CAP,
) -> DataFrame:
    """Lloyd's per subspace, all subspaces in the same jobs.  Returns
    the codebook as a small DataFrame (m, cell, centroid) — M×k rows,
    broadcastable everywhere downstream.  Only D×k doubles cross the
    driver per iteration.

    Training input is a deterministic ``id % s == 0`` sample bounded
    near ``sample_cap`` vectors (s = n // cap): Lloyd cost is then
    independent of corpus size, while ENCODING always covers the full
    corpus.  Corpora at or under the cap train on everything — the
    sampled and unsampled paths are identical there."""
    from pyspark.sql import Window

    spark = emb.sparkSession
    n = emb.count()
    stride = max(1, n // sample_cap)
    base = (
        emb if stride == 1 else emb.filter(F.col(id_col) % stride == 0)
    )
    sub = subvectors(base, dim, m, id_col, vec_col).persist()
    # seed = the k smallest ids per subspace, renumbered to dense
    # cells 1..k — correct for ANY id distribution (sparse, 1-based,
    # non-integer ordering), not just dense 0-based ids
    wk = Window.partitionBy("m").orderBy(id_col)
    init = (
        sub.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("m", F.col("rn").cast("bigint").alias("cell"), "sub")
        .collect()
    )
    if len(init) < m * k:
        # downstream ADC table layout assumes exactly k cells per
        # subspace — fail loudly instead of silently mis-indexing
        raise ValueError(
            f"PQ training needs at least k={k} vectors; corpus has "
            f"{len(init) // m if m else 0}"
        )
    cents = [(r["m"], r["cell"], [float(x) for x in r["sub"]]) for r in init]

    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            cents, ["m", "cell", "centroid"]
        ).select(
            F.col("m").cast("int").alias("m"),
            F.col("cell").cast("bigint").alias("cell"),
            F.col("centroid").cast("array<double>").alias("centroid"),
        )
        assigned = _assign_codes(sub, cdf, id_col, with_sub=True)
        new = (
            assigned
            .select("m", F.col("code").alias("cell"),
                    F.posexplode("sub").alias("dim", "val"))
            .groupBy("m", "cell", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,10)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("cval")
            )
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in new:
            by_key.setdefault((r["m"], r["cell"]), {})[r["dim"]] = r["cval"]
        cents = [
            (
                mm,
                cell,
                [v for _, v in sorted(by_key[(mm, cell)].items())]
                if (mm, cell) in by_key
                else vec,  # empty cell keeps its previous centroid
            )
            for mm, cell, vec in cents
        ]

    return spark.createDataFrame(cents, ["m", "cell", "centroid"]).select(
        F.col("m").cast("int").alias("m"),
        F.col("cell").cast("bigint").alias("cell"),
        F.col("centroid").cast("array<double>").alias("centroid"),
    )


def pq_encode(
    emb: DataFrame,
    cents: DataFrame,
    dim: int,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<bigint> length m, sq_err) — each vector's
    PQ code word plus its total quantization error (the reconstruction
    residual, a quality diagnostic).

    Round 14: the corpus-wide encode runs as ONE Arrow-batched
    mapInPandas — the explode + broadcast-argmin HOF form it replaces
    evaluated an interpreted K-distance transform per (vector,
    subspace) row (a profile put encode at 0.92 s of the 4.3 s
    knn_pq_rerank at sf0.1, and it grows with corpus × M × K).
    Bit-exact twin of the HOF form (semcell_pairs contract): float
    inputs cast to double, the squared norm and every subspace
    distance accumulate left-to-right over dimensions, argmin
    tie-breaks to the smaller cell (codebook rows scanned in (m, cell)
    order, np.argmin keeps the first minimum), sq_err sums subspace
    distances in ascending-m order — the exact order the replaced
    map-side partial aggregation used. Codebook rides the closure
    (M×k×d_sub doubles, bounded). Training keeps the declarative
    _assign_codes path (its input is the bounded Lloyd sample)."""
    import numpy as np
    import pandas as pd

    d_sub = dim // m
    crows = cents.select("m", "cell", "centroid").collect()
    crows.sort(key=lambda r: (int(r["m"]), int(r["cell"])))
    k = len(crows) // m
    # (m, k, d_sub) centroid tensor + the cell ids per subspace slot
    cmat = np.zeros((m, k, d_sub))
    cells = np.zeros((m, k), dtype=np.int64)
    for pos, r in enumerate(crows):
        mi, ki = divmod(pos, k)
        cmat[mi, ki] = np.asarray(r["centroid"], dtype=np.float64)
        cells[mi, ki] = int(r["cell"])

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            xm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sq = np.zeros(len(ids))
            for i in range(xm.shape[1]):
                sq += xm[:, i] * xm[:, i]
            u = xm / np.sqrt(sq)[:, None]
            codes = np.zeros((len(ids), m), dtype=np.int64)
            err = np.zeros(len(ids))
            for mi in range(m):
                s = u[:, mi * d_sub : (mi + 1) * d_sub]
                d = np.zeros((len(ids), k))
                for ki in range(k):
                    acc = np.zeros(len(ids))
                    for ci in range(d_sub):
                        diff = s[:, ci] - cmat[mi, ki, ci]
                        acc += diff * diff
                    d[:, ki] = acc
                best = np.argmin(d, axis=1)
                codes[:, mi] = cells[mi][best]
                err += d[np.arange(len(ids)), best]
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "codes": list(codes),
                    "sq_err": err,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} bigint, codes array<bigint>, sq_err double"
    )


def adc_shortlist_scan(
    codes: DataFrame,
    qtabs: list,
    k: int,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    by_cell: bool = False,
) -> DataFrame:
    """Shared ADC scan kernel: ``codes`` is (cand_id, codes[, cell_id])
    — in-query or read back from a persisted code table — and
    ``qtabs`` is the COLLECTED bounded query side: (query_id, tab) or,
    with ``by_cell``, (query_id, qcell, tab) rows (probe set × probed
    cells — a few hundred rows of M×k doubles, rides the closure).

    Round 14 (the r13 interpreted-HOF finding): the
    replaced shape joined corpus × queries and evaluated the M-step
    adist fold as an interpreted HOF per pair, feeding the WHOLE pair
    frame to the rank window. This kernel scans the code table once
    per partition in Arrow batches, computes each query's adists as M
    numpy gathers over exactly its candidate rows, and emits only the
    partition top-k per query under the EXACT final comparator
    (adist asc, cand_id asc) — the exchange drops from
    corpus × |queries| rows to |queries| × k × partitions, the same
    pruning argument as similarity.brute_force_topk. Bit-exact: adist
    accumulates the M table entries left-to-right (i = 0..M-1, float64
    adds — the fold order of the replaced F.aggregate), rounded
    half-even to 6dp vs Spark's half-up (differs only on exact
    half-microunit boundaries; measure-zero for sums of squared
    distances, pinned by the oracle sweeps)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    entries = [
        (
            int(r["query_id"]),
            int(r["qcell"]) if by_cell else None,
            np.asarray(r["tab"], dtype=np.float64),
        )
        for r in qtabs
    ]

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["cand_id"].to_numpy(np.int64)
            cmat = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            cell = (
                pdf["cell_id"].to_numpy(np.int64) if by_cell else None
            )
            out_q, out_c, out_s = [], [], []
            for qid, qcell, tab in entries:
                mask = ids != qid
                if by_cell:
                    mask &= cell == qcell
                idx = np.flatnonzero(mask)
                if not len(idx):
                    continue
                sub = cmat[idx]
                d = np.zeros(len(idx))
                for i in range(m):
                    # element_at is 1-based: position i*n_codes+code
                    d += tab[i * n_codes + sub[:, i] - 1]
                d = np.round(d, 6)
                take = min(k, len(idx))
                order = np.lexsort((ids[idx], d))[:take]
                out_q.append(np.full(take, qid, dtype=np.int64))
                out_c.append(ids[idx[order]])
                out_s.append(d[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "adist": np.concatenate(out_s),
                }
            )

    cols = ["cand_id", "codes"] + (["cell_id"] if by_cell else [])
    cand = codes.select(*cols).mapInPandas(
        fn, "query_id bigint, cand_id bigint, adist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist"), F.col("cand_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    dim: int,
    k: int,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, cand_id, adist, rank).

    Per query the M×n_codes distance table flattens to one array laid
    out as position = m·n_codes + cell; a candidate's approximate
    distance is M table lookups over its code word — no vector math on
    the scan side.  The query tables are bounded (fixed probe set) and
    ride the scan kernel's closure; the corpus side stays
    O(corpus × M) with partition-local top-k pruning
    (see adc_shortlist_scan)."""
    qtabs = _query_adc_tables(queries, cents, dim, m, id_col, vec_col).collect()
    codes = pq_encode(emb, cents, dim, m, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), "codes"
    )
    return adc_shortlist_scan(codes, qtabs, k, m, n_codes)


RERANK_MULT = 4


def _query_adc_tables(
    queries: DataFrame,
    cents: DataFrame,
    dim: int,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, tab) — each probe's flattened M×k ADC distance
    table, laid out position = m·n_codes + cell (matches adc_topk)."""
    qsub = subvectors(queries, dim, m, id_col, vec_col)
    return (
        qsub.join(F.broadcast(cents), "m")
        .select(
            F.col(id_col).alias("query_id"),
            "m",
            "cell",
            _sq_dist("sub", "centroid").alias("d"),
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cell", "d"))),
                lambda s: s["d"],
            ).alias("tab")
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    cents: DataFrame,
    dim: int,
    k: int,
    n_probe: int = 2,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    rerank_mult: int = RERANK_MULT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ composed — the billion-scale ANN shape (Jégou et al.
    TPAMI'11 IVFADC; FAISS ``IVFPQ`` with ``by_residual=false``, i.e.
    codes quantize the normalized vectors themselves, not per-cell
    residuals — one shared codebook, no per-cell table rebuild):

    1. the corpus lives bucketed by its nearest coarse cell (one
       shuffle at index-build time, same index as ``ivf_topk``), each
       vector stored as M small PQ codes;
    2. a query probes only its ``n_probe`` nearest cells, ADC-scanning
       the CODES of those cells' members — per query the scan touches
       |corpus| × n_probe / n_cells code words of M bytes each, never
       a raw vector;
    3. the k × rerank_mult shortlist alone fetches raw vectors for an
       exact cosine re-rank (bounded keyed join).

    At 100 TB this is the only tier where BOTH the candidate count
    (IVF) and the per-candidate cost + memory (PQ) are sub-corpus.
    Returns (query_id, cand_id, cosine, rank) like the other tiers."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine
    from .similarity import assign_cells

    ccells = assign_cells(corpus, coarse, 1, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), "cell_id"
    )
    codes = pq_encode(emb=corpus, cents=cents, dim=dim, m=m,
                      id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("cand_id"), "codes"
    )
    coded = ccells.join(codes, "cand_id")
    # query side is bounded: n_probe cells + one flattened ADC table
    # per probe — rides a single broadcast. The cell column renames to
    # qcell (see ivf_topk's expr-id note).
    qcells = assign_cells(queries, coarse, n_probe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("cell_id").alias("qcell")
    )
    tabs = _query_adc_tables(queries, cents, dim, m, id_col, vec_col)
    qtabs = qcells.join(tabs, "query_id").collect()
    shortlist = adc_shortlist_scan(
        coded, qtabs, k * rerank_mult, m, n_codes, by_cell=True
    ).select("query_id", "cand_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        shortlist.join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def adc_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    dim: int,
    k: int,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    rerank_mult: int = RERANK_MULT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ pattern: ADC scan produces a shortlist of
    ``k × rerank_mult`` candidates per query from codes alone, then
    ONLY those candidates' raw vectors are fetched for an exact cosine
    re-rank.  At 100 TB the scan touches M-byte codes (memory
    resident); the expensive raw-vector reads are bounded at
    |queries| × k × rerank_mult rows via a keyed join — never a corpus
    scan.  Returns (query_id, cand_id, cosine, rank)."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine

    shortlist = adc_topk(
        emb, queries, cents, dim, k * rerank_mult, m, n_codes,
        id_col, vec_col,
    ).select("query_id", "cand_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cv = emb.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        shortlist.join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
