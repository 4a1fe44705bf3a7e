"""Similarity search over embedding columns (array<double>).

Two paths:
- Brute-force exact top-k: broadcast the (small) query set against the
  candidate corpus; cosine via zip_with/aggregate — pure codegen, no
  UDF. Cost O(|corpus| × |queries|); right whenever queries are
  bounded (the common "probe set" shape).
- LSH-bucketed approximate top-k (the 100 TB path): random-hyperplane
  signatures computed as dot-product signs against a fixed seeded
  plane set, candidates restricted to the query's bucket (plus
  multi-probe neighbors at hamming distance 1). Shuffle is O(corpus)
  on bucket keys; recall measured against brute force in tests.

Cosine values are rounded to 6dp before ranking so ordering (with
vec_id tie-break) is stable across engines and runs."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm

LSH_PLANES = 8
LSH_SEED = 42
# independent hash tables (the classic L-table LSH construction): a
# miss in one table's probed buckets can still hit in another's, so
# recall composes roughly as 1-(1-p)^L per neighbor — measured
# mean recall@5 on the near-random test vectors rises 0.35-0.42 (L=1)
# → 0.55-0.66 (L=2) for ~2× candidate volume
LSH_TABLES = 2
COSINE_SCALE = 6


def _prenorm_cosine() -> F.Column:
    """cosine from PRE-COMPUTED per-side norms (columns ``nq``/``nc``):
    dot(qv,cv)/(nq·nc). Bit-identical to cosine(qv,cv) — same operation
    order — but the norms are evaluated once per input row instead of
    once per JOINED PAIR. On a probes × corpus join that removes two of
    the three array aggregations from the hot loop (measured 2× at
    sf1: 6.2 s → 3.2 s brute-force scan)."""
    return F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
        COSINE_SCALE,
    )


def _plane_literals(dim: int, n_planes: int = LSH_PLANES, seed: int = LSH_SEED):
    """Deterministic hyperplanes as literal arrays (seeded — no runtime
    randomness, so plans are reproducible and resumable)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return [
        F.array(*[F.lit(float(x)) for x in plane]) for plane in planes
    ]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded).
    ``queries`` must be the bounded side (the fixed probe set) — its
    vectors are collected (≤ PROBE_MAX + 1 rows by construction) and
    ride the kernel closure.

    Round 13: the probes × corpus cosine runs as one Arrow-batched
    mapInPandas over the corpus — the interpreted-HOF pair cosine it
    replaces cost ~1.4 µs per pair·dim, linear in corpus × probes —
    and each partition emits only its own top-k per query under the
    EXACT final comparator (cosine desc, cand_id asc), so the global
    rank window sorts probes × k × partitions rows instead of
    probes × corpus (at sf10 that is 8.2M pair rows cut to ~10k
    before the exchange; partition top-k is a superset of the global
    top-k, so the pruning is result-equivalent). Arithmetic is the
    bit-exact twin of the HOF form: float32 cast to double, dot and
    squared-norm accumulated left-to-right over dimensions, cosine
    rounded to 6dp before ranking (operators/semcell_pairs.py has the
    exactness contract)."""
    import numpy as np
    import pandas as pd

    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        return (
            corpus.sparkSession.createDataFrame(
                [], "query_id bigint, cand_id bigint, cosine double, rank bigint"
            )
        )
    qids = np.array([int(r[id_col]) for r in q_rows], dtype=np.int64)
    qm = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in q_rows]
    )
    nq = np.zeros(len(qids))
    for i in range(qm.shape[1]):
        nq += qm[:, i] * qm[:, i]
    nq = np.sqrt(nq)
    if not (nq > 0).all():
        raise ValueError("zero-norm query vector")

    # the probes × corpus scan is the hot loop — fan a narrow corpus
    # scan out to all cores first (no-op on wide inputs)
    c = widen_narrow_input(
        corpus, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["cand_id"].to_numpy(np.int64)
            cm = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            nc = np.zeros(len(ids))
            for i in range(cm.shape[1]):
                nc += cm[:, i] * cm[:, i]
            nc = np.sqrt(nc)
            # zero-norm guard: lexsort puts a NaN cosine last, the
            # final window ranks it first — fail loudly (ADVICE r13)
            if not (nc > 0).all():
                raise ValueError("zero-norm corpus vector in brute_force_topk")
            acc = np.zeros((len(ids), len(qids)))
            for i in range(cm.shape[1]):
                acc += cm[:, i : i + 1] * qm[:, i]
            cos = np.round(acc / (nc[:, None] * nq[None, :]), 6)
            # np.round(-1e-9, 6) is -0.0; Spark/DuckDB round emit +0.0
            cos[cos == 0] = 0.0
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                idx = np.nonzero(ids != qids[j])[0]
                if not len(idx):
                    continue
                take = min(k, len(idx))
                col = cos[idx, j]
                order = np.lexsort((ids[idx], -col))[:take]
                sel = idx[order]
                out_q.append(np.full(take, qids[j], dtype=np.int64))
                out_c.append(ids[sel])
                out_s.append(cos[sel, j])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    cand = c.mapInPandas(
        fn, "query_id bigint, cand_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return cand.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def lsh_signature(
    vec_col: F.Column, dim: int, seed: int = LSH_SEED
) -> F.Column:
    """Bucket id: sign bits of dot products with the fixed planes.
    Dots are rounded to 6dp BEFORE the sign test so the signature is
    engine-portable (a DuckDB oracle recomputing the same literal
    planes lands in the same bucket even at float ulp boundaries —
    the same round-then-compare contract every cosine in this family
    uses). ``seed`` selects the plane set — distinct seeds give the
    independent hash tables of the L-table construction."""
    planes = _plane_literals(dim, seed=seed)
    sig = F.lit(0)
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec_col, p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(F.round(d, COSINE_SCALE) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = LSH_TABLES,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's LSH
    buckets — per independent hash table, the query's own bucket plus
    every hamming-1/2 neighbor (the multiprobe set, 1 + 8 + 28 = 37/256
    ≈ 14% of buckets — the best recall-per-candidate point of the
    measured sweep on near-random vectors, LSH's hard case).

    Round 13: like brute_force_topk, the corpus scan is ONE
    Arrow-batched mapInPandas with the bounded probe set riding the
    kernel closure. Per batch it derives each row's per-table bucket
    (sign bits of the round-6 plane dots — the bit-exact
    lsh_signature twin), masks the candidate matrix through a
    2^planes × queries boolean membership lookup per table (OR across
    tables reproduces the old per-table join + DISTINCT), and emits
    only its partition top-k per query under the exact final
    comparator. The replaced shape exploded the corpus once per table
    and evaluated an interpreted-HOF cosine per candidate pair — at
    sf10 multiprobe touches ~29% of corpus × queries ≈ 24M pairs, the
    dominant cost of rag_chunk_ann_pipeline's 115 s decade reading.
    Arithmetic contract: operators/semcell_pairs.py."""
    import numpy as np
    import pandas as pd

    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    # spread table seeds so plane sets are independent — the same
    # rng stream _plane_literals uses, so buckets match lsh_signature
    plane_sets = [
        np.random.default_rng(LSH_SEED + 101 * t).standard_normal(
            (LSH_PLANES, dim)
        )
        for t in range(n_tables)
    ]

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id bigint, cand_id bigint, cosine double, rank bigint"
        )
    qids = np.array([int(r[id_col]) for r in q_rows], dtype=np.int64)
    qm = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in q_rows]
    )
    nq = np.zeros(len(qids))
    for i in range(qm.shape[1]):
        nq += qm[:, i] * qm[:, i]
    nq = np.sqrt(nq)
    if not (nq > 0).all():
        raise ValueError("zero-norm query vector")

    def buckets_of(mat: "np.ndarray", planes: "np.ndarray") -> "np.ndarray":
        """Sign-bit bucket per row — left-to-right dots, round-6 sign
        test: the exact lsh_signature arithmetic."""
        b = np.zeros(len(mat), dtype=np.int64)
        for p_i, plane in enumerate(planes):
            d = np.zeros(len(mat))
            for c_i in range(mat.shape[1]):
                d += mat[:, c_i] * plane[c_i]
            b |= (np.round(d, 6) > 0).astype(np.int64) << p_i
        return b

    lookups = []
    for planes_t in plane_sets:
        qb = buckets_of(qm, planes_t)
        lut = np.zeros((1 << LSH_PLANES, len(qids)), dtype=bool)
        for j, b in enumerate(qb):
            probes = {int(b)}
            probes |= {int(b) ^ (1 << i) for i in range(LSH_PLANES)}
            probes |= {
                int(b) ^ ((1 << i) | (1 << jj))
                for i in range(LSH_PLANES)
                for jj in range(i + 1, LSH_PLANES)
            }
            for x in probes:
                lut[x, j] = True
        lookups.append(lut)

    c = widen_narrow_input(
        corpus, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["cand_id"].to_numpy(np.int64)
            cm = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            # candidate mask FIRST (round 14): bucket membership costs
            # planes×dim dots/row; the old order then spent
            # queries×dim on EVERY row before masking — at multiprobe
            # density ~29% that is ~3× the pair flops actually needed.
            # The dot loop below runs per query on just its masked
            # rows. Bit-exact: a pair's dot accumulates left-to-right
            # over dims elementwise, so computing it inside a row
            # subset yields the identical float64 value
            # (operators/semcell_pairs.py exactness contract).
            cand = np.zeros((len(ids), len(qids)), dtype=bool)
            for planes_t, lut in zip(plane_sets, lookups):
                cand |= lut[buckets_of(cm, planes_t)]
            cand &= ids[:, None] != qids[None, :]
            rows = np.flatnonzero(cand.any(axis=1))
            if not len(rows):
                continue
            ids, cm, cand = ids[rows], cm[rows], cand[rows]
            nc = np.zeros(len(ids))
            for i in range(cm.shape[1]):
                nc += cm[:, i] * cm[:, i]
            nc = np.sqrt(nc)
            # zero-norm vectors have no defined cosine: the partition
            # pruner's lexsort puts NaN last while the final window's
            # cosine DESC ranks NaN first — fail loudly rather than
            # silently diverge (ADVICE r13; testdata has none)
            if not (nc > 0).all():
                raise ValueError("zero-norm corpus vector in lsh_topk")
            # density-adaptive dot strategy: below ~50%
            # pair density the per-query masked dots win (~1/density
            # fewer flops); above it the gathers cost what they save
            # and ONE broadcasted matrix pass has far less numpy
            # dispatch overhead. Both produce identical float64 values
            # (elementwise left-to-right accumulation either way).
            dense = cand.sum() >= 0.5 * cand.size
            if dense:
                acc = np.zeros((len(ids), len(qids)))
                for i in range(cm.shape[1]):
                    acc += cm[:, i : i + 1] * qm[:, i]
                cos_all = np.round(acc / (nc[:, None] * nq[None, :]), 6)
                cos_all[cos_all == 0] = 0.0  # -0.0 -> +0.0
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                idx = np.flatnonzero(cand[:, j])
                if not len(idx):
                    continue
                if dense:
                    col = cos_all[idx, j]
                else:
                    sub = cm[idx]
                    d = np.zeros(len(idx))
                    for i in range(sub.shape[1]):
                        d += sub[:, i] * qm[j, i]
                    col = np.round(d / (nc[idx] * nq[j]), 6)
                    col[col == 0] = 0.0  # -0.0 -> +0.0, semcell_pairs
                take = min(k, len(idx))
                order = np.lexsort((ids[idx], -col))[:take]
                out_q.append(np.full(take, qids[j], dtype=np.int64))
                out_c.append(ids[idx[order]])
                out_s.append(col[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    cand = c.mapInPandas(
        fn, "query_id bigint, cand_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return cand.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def pack_centroids(centroids: DataFrame) -> DataFrame:
    """Fold the (small) (cell_id, centroid) frame into ONE row holding
    every centroid — plus its precomputed norm — as an
    array<struct<cell_id,centroid,cn>>. Broadcast-crossJoining this
    single row against the corpus appends the array to each row with
    NO row multiplication, so nearest-cell assignment becomes a pure
    map (``transform`` + ``array_min``/``array_sort`` in codegen)
    instead of a k×-corpus window rank — at 100 TB the window
    formulation forced an Exchange of k× the corpus with full vector
    payloads."""
    return centroids.agg(
        F.collect_list(
            F.struct(
                F.col("cell_id").alias("cell_id"),
                F.col("centroid").alias("centroid"),
                norm(F.col("centroid")).alias("cn"),
            )
        ).alias("__cells")
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``n_probe``
    nearest centroids (by cosine). ``centroids`` is (cell_id,
    centroid<array>) and is small by construction → packed into a
    single broadcast row (see ``pack_centroids``); the assignment is
    a narrow map over the corpus — no shuffle, no row multiplication,
    no window. Ranking is (cosine desc, cell_id asc), realized as
    ``array_sort`` on (−cosine, cell_id) structs — identical ordering
    under Spark's total double order.

    The returned frame keeps the precomputed vector norm as ``__vn``
    so the downstream exact-cosine ranking (ivf_topk) doesn't
    recompute it per candidate pair."""
    v = vectors.withColumn("__vn", norm(F.col(vec_col)))
    packed = F.broadcast(pack_centroids(centroids))

    def neg_cos(c):
        return -F.round(
            dot(F.col(vec_col), c["centroid"])
            / (F.col("__vn") * c["cn"]),
            COSINE_SCALE,
        )

    scored = F.transform(
        F.col("__cells"),
        lambda c: F.struct(
            neg_cos(c).alias("neg_cos"), c["cell_id"].alias("cell_id")
        ),
    )
    top = F.slice(F.array_sort(scored), 1, n_probe)
    return (
        v.crossJoin(packed)
        .select(id_col, vec_col, "__vn", F.explode(top).alias("__cell"))
        .select(
            id_col,
            vec_col,
            "__vn",
            F.col("__cell")["cell_id"].alias("cell_id"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single
    nearest cell; each query probes its ``n_probe`` nearest cells and
    ranks exact cosine only against those cells' members. At 100 TB
    the corpus shuffles ONCE on cell_id (index build); each query
    touches |corpus| × n_probe / n_cells candidates in expectation.

    Round 15: like brute_force_topk/lsh_topk, the whole probe runs as
    ONE Arrow-batched mapInPandas over the corpus with the bounded
    query set AND the (small by construction) centroid set riding the
    kernel closure. Per batch it assigns each corpus row its nearest
    cell (the bit-exact assign_cells twin: per-centroid cosine
    rounded to 6dp, argmin scanning cells in ascending cell_id with
    strict-less updates — Spark's struct comparison short-circuits on
    numeric ``==``, so ±0.0 ties fall to the cell id exactly like the
    numpy scan), masks candidates through each query's probe-cell set
    (computed driver-side with the same arithmetic), computes exact
    pair cosines only for masked pairs, and emits the partition-local
    top-k per query under the exact final comparator. The replaced
    shape evaluated an interpreted-HOF cosine per (query, cell-mate)
    pair after a pair-exploding broadcast join, plus corpus × cells
    interpreted HOF steps for the cell assignment, and fed the global
    rank window queries × corpus/n_cells × n_probe rows instead of
    queries × k × partitions. Arithmetic contract:
    operators/semcell_pairs.py. ``ivf_topk_hof`` keeps the replaced
    Catalyst form as the equivalence-test reference."""
    import numpy as np
    import pandas as pd

    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    cent_rows = centroids.select("cell_id", "centroid").collect()
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows or not cent_rows:
        # HOF twin: no queries (or no cells) → no candidate pairs
        return corpus.sparkSession.createDataFrame(
            [], "query_id bigint, cand_id bigint, cosine double, rank bigint"
        )

    # centroids in ascending cell_id — the argmin scan order below
    # relies on it for the lowest-cell tie-break
    cents = sorted(
        (
            (int(r["cell_id"]), np.asarray(r["centroid"], dtype=np.float64))
            for r in cent_rows
        ),
        key=lambda cv: cv[0],
    )

    def _norm(vec: "np.ndarray") -> float:
        # left-to-right sumsq + sqrt: functions/vectors.norm twin
        acc = 0.0
        for x in vec:
            acc += x * x
        return float(np.sqrt(acc))

    cns = [(_cid, cv, _norm(cv)) for _cid, cv in cents]

    qids = np.array([int(r[id_col]) for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    nq = np.zeros(len(qids))
    for i in range(qm.shape[1]):
        nq += qm[:, i] * qm[:, i]
    nq = np.sqrt(nq)
    if not (nq > 0).all():
        raise ValueError("zero-norm query vector")

    def _cell_cosines(mat: "np.ndarray", vn: "np.ndarray") -> "np.ndarray":
        """(rows × cells) cosine vs every centroid, rounded to 6dp —
        the assign_cells scoring arithmetic (dot and norms accumulate
        left-to-right; round before any comparison)."""
        out = np.empty((len(mat), len(cns)))
        for j, (_cid, cv, cn) in enumerate(cns):
            d = np.zeros(len(mat))
            for i in range(mat.shape[1]):
                d += mat[:, i] * cv[i]
            out[:, j] = np.round(d / (vn * cn), COSINE_SCALE)
        return out

    # query probe cells, driver-side: rank (−cosine, cell_id) exactly
    # like assign_cells' array_sort — Python tuple sort matches
    # Spark's struct comparison here because float == also treats
    # -0.0 == 0.0 and the zero-norm guard above excludes NaN
    qcells: list[set] = []
    qcos = _cell_cosines(qm, nq)
    for jq in range(len(qids)):
        ranked = sorted(
            (-(qcos[jq, j]), cid)
            for j, (cid, _cv, _cn) in enumerate(cns)
        )
        qcells.append({cid for _negc, cid in ranked[:n_probe]})
    cell_ids = np.array([cid for cid, _cv, _cn in cns], dtype=np.int64)
    # per-cell boolean mask over queries: lut[cell_index, query] — the
    # corpus row's assigned cell indexes straight into it
    lut = np.zeros((len(cns), len(qids)), dtype=bool)
    for jq, cells in enumerate(qcells):
        for j, cid in enumerate(cell_ids):
            if int(cid) in cells:
                lut[j, jq] = True

    c = widen_narrow_input(
        corpus, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["cand_id"].to_numpy(np.int64)
            cm = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            nc = np.zeros(len(ids))
            for i in range(cm.shape[1]):
                nc += cm[:, i] * cm[:, i]
            nc = np.sqrt(nc)
            if not (nc > 0).all():
                raise ValueError("zero-norm corpus vector in ivf_topk")
            # nearest cell per row: strict-less argmin over the
            # 6dp-rounded cosines, cells scanned in ascending cell_id
            ccos = _cell_cosines(cm, nc)
            best = ccos[:, 0].copy()
            cell_ix = np.zeros(len(ids), dtype=np.int64)
            for j in range(1, len(cns)):
                upd = ccos[:, j] > best
                best = np.where(upd, ccos[:, j], best)
                cell_ix = np.where(upd, j, cell_ix)
            cand = lut[cell_ix]
            cand &= ids[:, None] != qids[None, :]
            rows = np.flatnonzero(cand.any(axis=1))
            if not len(rows):
                continue
            ids, cm, nc, cand = ids[rows], cm[rows], nc[rows], cand[rows]
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                idx = np.flatnonzero(cand[:, j])
                if not len(idx):
                    continue
                sub = cm[idx]
                d = np.zeros(len(idx))
                for i in range(sub.shape[1]):
                    d += sub[:, i] * qm[j, i]
                col = np.round(d / (nc[idx] * nq[j]), COSINE_SCALE)
                col[col == 0] = 0.0  # -0.0 -> +0.0, semcell_pairs
                take = min(k, len(idx))
                order = np.lexsort((ids[idx], -col))[:take]
                out_q.append(np.full(take, qids[j], dtype=np.int64))
                out_c.append(ids[idx[order]])
                out_s.append(col[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    cand = c.mapInPandas(
        fn, "query_id bigint, cand_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return cand.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def ivf_topk_hof(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The replaced Catalyst form of ``ivf_topk`` — assign_cells on
    both sides, a cell-equality broadcast join, per-pair HOF cosine,
    global rank window. Kept as the bit-equivalence reference for
    tests (the chunk-embedding-kernel precedent)."""
    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    c = assign_cells(
        widen_narrow_input(
            corpus, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
        ),
        centroids,
        1,
        id_col,
        vec_col,
    ).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        F.col("__vn").alias("nc"),
        "cell_id",
    )
    # the query-side cell column is RENAMED (qcell): both sides' cell
    # ids descend from the same centroid attribute, and an expr-id-
    # equal comparison makes Spark warn about (and in the table-backed
    # case FOLD) a trivially-true predicate — see ann_index.py
    q = assign_cells(queries, centroids, n_probe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("__vn").alias("nq"),
        F.col("cell_id").alias("qcell"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    # no dedup needed: each corpus vector lives in exactly ONE cell
    # (n_probe=1 on the corpus side), so a (query, candidate) pair can
    # meet through at most one cell — a distinct here would be a
    # full extra shuffle for nothing
    return (
        c.join(
            F.broadcast(q),
            (F.col("cell_id") == F.col("qcell"))
            & (F.col("cand_id") != F.col("query_id")),
        )
        .select("query_id", "cand_id", _prenorm_cosine().alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one: |approx ∩ exact| / k. Queries the approximate index
    missed entirely still appear (recall 0) via the left join from the
    exact side — silently dropping them would overstate quality.

    Both inputs are (query_id, cand_id, ...) top-k frames, already tiny
    (|queries| × k rows), so every join here is broadcast-sized
    regardless of corpus scale."""
    hits = (
        approx.select("query_id", "cand_id")
        .join(exact.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k))
            ).alias("recall"),
        )
    )
