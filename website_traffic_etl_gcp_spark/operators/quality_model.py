"""Trained quality classifier: hashed char-n-gram ridge regression.

The CCNet/RefinedWeb "quality model" stage re-expressed Spark-first:
a linear model over hashed character-3-gram counts, TRAINED IN-ENGINE
with bounded driver state and scored map-side — no ML library, no
Python UDFs, and (unusually for a trained model) an EXACT cross-engine
oracle, because the whole training procedure is defined in integer
arithmetic both Spark and DuckDB reproduce bit-for-bit.

Pipeline shape (the pca.py / opq.py bounded-driver-state pattern):

1. **Features** — char 3-grams of the normalized text, md5-hashed into
   ``N_BUCKETS`` buckets, per-doc counts capped at ``COUNT_CAP``
   (fastText-style bounded bag; the cap also bounds every downstream
   moment so int64 never overflows), plus a constant intercept
   feature. One explode + one groupBy; corpus-linear.
2. **Moments** — the ridge normal-equation inputs: the Gram matrix
   ``A = XᵀX + λI`` and ``c = Xᵀy`` over the training half
   (``doc_id % TRAIN_MOD == 0``). Feature counts and 0/1 labels are
   integers, so every moment is an EXACT int64 sum. The per-doc pair
   explode emits ≤ D² rows per doc that map-side partial aggregation
   collapses to ≤ D² per partition before the (tiny) shuffle —
   corpus-size-independent, exactly the pca.moment_sums shape.
3. **Solve** — ``N_ITERS`` fixed steps of row-sum-preconditioned
   Richardson iteration on the normal equations, in integer
   micro-units with floor division:

       W⁰ = 0;  Wᵗ⁺¹_i = Wᵗ_i + (c_i·1e6 − Σ_j A_ij·Wᵗ_j) fdiv S_i

   where ``S_i = Σ_j A_ij`` (row sums; all A entries ≥ 0). Since
   ``diag(S) ⪰ A ≻ 0``, the iteration contracts — and because every
   step is integer ops on exact integers, the SQL oracle can unroll
   the same ``N_ITERS`` steps as CTEs and land on the IDENTICAL
   weight vector. Driver state: a D×D int matrix (65×65 here).
4. **Score** — per-doc ``score_micro = Σ_b n_b·W_b`` with the learned
   weights as an array LITERAL (whole-stage codegen, zero Python in
   the hot path), thresholded at 0.5 for the keep prediction.

The supervision target is deliberately pluggable: the registry queries
distill the C4/Gopher composite heuristic (plans/documents.py
quality_filter_verdicts) into this cheap model — the standard "train a
fast classifier to mimic the expensive filter" move.

Scale: at 100 TB the corpus-side work is two linear passes (feature
extraction + scoring) and one moment aggregation whose shuffle is D²
rows per partition; the solve is O(K·D²) driver arithmetic. Nothing
collects corpus-sized data.

Reference: JosephGillData/website_traffic-etl-gcp has no model
training; this extends the engine's LLM-data surface (SURVEY.md §2D).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.texthash import md5_long, normalize_text

N_BUCKETS = 64  # hashed char-3-gram feature space
INTERCEPT = N_BUCKETS  # constant-1 feature index; D = N_BUCKETS + 1
N_FEATURES = N_BUCKETS + 1
COUNT_CAP = 63  # fastText-style per-doc count cap (bounds moments)
RIDGE_LAMBDA = 1  # integer ridge term (strict PD; negligible shrink)
N_ITERS = 16  # fixed unrolled solver steps (AUC plateaus by ~16)
W_SCALE = 1_000_000  # weights live in integer micro-units
TRAIN_MOD = 2  # train on doc_id % TRAIN_MOD == 0, hold out the rest


def char_ngram_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, b, n): capped hashed char-3-gram counts plus one
    intercept row (b = INTERCEPT, n = 1) for EVERY doc — so every doc
    has at least one feature row and the intercept is learned like any
    other weight."""
    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    norm = normalize_text(text_col)
    # fan a narrow scan out before the per-char md5 explode — the
    # hashing dominates and a small parquet arrives as 1-2 splits
    d = widen_narrow_input(
        docs, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(F.col(id_col).alias("doc_id"), norm.alias("norm"))
    grams = (
        d.filter(F.length("norm") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("norm") - 2)
            ).alias("i"),
            "norm",
        )
        .select(
            "doc_id",
            (md5_long(F.expr("substring(norm, i, 3)")) % N_BUCKETS).alias(
                "b"
            ),
        )
        .groupBy("doc_id", "b")
        .agg(F.least(F.count(F.lit(1)), F.lit(COUNT_CAP)).alias("n"))
    )
    intercept = d.select(
        "doc_id",
        F.lit(INTERCEPT).cast("bigint").alias("b"),
        F.lit(1).cast("bigint").alias("n"),
    )
    return grams.select(
        "doc_id", F.col("b").cast("bigint"), F.col("n").cast("bigint")
    ).unionByName(intercept)


def train_moments(
    feats: DataFrame, labels: DataFrame
) -> tuple[list[list[int]], list[int]]:
    """(A, c) — the exact integer normal-equation moments over the
    given (already train-filtered) features. ``labels`` is
    (doc_id, y) with y ∈ {0, 1}. Two aggregations, both collapsing to
    ≤ D² / ≤ D rows before the shuffle; the collect is bounded driver
    state (D×D ints), never corpus-sized."""
    # the feature table is CORPUS-sized — force the self-join to
    # shuffle on doc_id rather than letting a post-aggregation size
    # underestimate talk AQE into broadcasting ~30M rows (observed
    # driver OOM at sf10); co-partitioned merge join is the plan that
    # survives any corpus size
    xtx = (
        feats.alias("a")
        .join(feats.alias("b2").hint("merge"), "doc_id")
        .groupBy(F.col("a.b").alias("i"), F.col("b2.b").alias("j"))
        .agg(F.sum(F.col("a.n") * F.col("b2.n")).alias("v"))
        .collect()
    )
    xty = (
        feats.join(labels, "doc_id")
        .groupBy(F.col("b").alias("i"))
        .agg(F.sum(F.col("n") * F.col("y")).alias("c"))
        .collect()
    )
    a = [[0] * N_FEATURES for _ in range(N_FEATURES)]
    for r in xtx:
        a[r["i"]][r["j"]] = r["v"]
    for i in range(N_FEATURES):
        a[i][i] += RIDGE_LAMBDA
    c = [0] * N_FEATURES
    for r in xty:
        c[r["i"]] = r["c"]
    return a, c


def solve_weights(a: list[list[int]], c: list[int]) -> list[int]:
    """N_ITERS exact integer Richardson steps preconditioned by the
    Gram row sums. Pure-Python ints (arbitrary precision — overflow
    is impossible here; the SQL twin's BIGINT sums error loudly if a
    corpus ever pushes a moment past int64). Python's ``//`` is floor
    division, which the SQL side reproduces via the posmod identity
    ``(x - ((x % s) + s) % s) // s``."""
    d = len(c)
    s = [sum(a[i]) for i in range(d)]
    w = [0] * d
    for _ in range(N_ITERS):
        w = [
            w[i] + (c[i] * W_SCALE - sum(a[i][j] * w[j] for j in range(d)))
            // s[i]
            for i in range(d)
        ]
    return w


def score_col(weights: list[int]) -> Column:
    """Σ n·W_b as a codegen literal-array lookup — apply to the
    (doc_id, b, n) feature frame, then groupBy doc_id."""
    warr = F.array(*[F.lit(int(x)) for x in weights])
    return F.sum(F.col("n") * F.element_at(warr, F.col("b").cast("int") + 1))


def score_documents(feats: DataFrame, weights: list[int]) -> DataFrame:
    """(doc_id, n_feats, score_micro, pred_keep): exact integer scores
    for every doc; pred thresholds the micro-unit score at 0.5."""
    return feats.groupBy("doc_id").agg(
        F.sum(F.when(F.col("b") < N_BUCKETS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_feats"),
        score_col(weights).cast("bigint").alias("score_micro"),
        (F.lit(2) * score_col(weights) >= F.lit(W_SCALE)).alias(
            "pred_keep"
        ),
    )


# ---- published model registry (the persisted-ANN-index precedent) ------
#
# Training is deterministic and integer-exact, so the solved weight
# vector is a pure function of (corpus state, training constants) —
# exactly the property that makes a content-keyed published artifact
# safe: same key → same weights, changed corpus (or changed training
# hyperparameters) → different key → rebuild. Scoring then probes the
# published model instead of re-deriving the moments, which is the
# production shape: train once per corpus version, score every scan.

_SALT_CACHE: str | None = None


def _model_salt() -> str:
    """Everything the solved weight vector is a function of, besides
    the corpus bytes: trainer hyperparameters, the supervision-label
    predicate (the quality-filter constants + STOPWORDS that define
    ``keep``), and the feature/normalization code itself. Folding the
    label spec and code hashes in means retuning a filter constant or
    editing the featurizer rotates the registry key — the published
    model can never be silently stale. Lazy import breaks the
    operators → plans cycle; module-level cache keeps it one-time."""
    global _SALT_CACHE
    if _SALT_CACHE is not None:
        return _SALT_CACHE

    import hashlib
    import inspect

    from ..operators import textstats as ts
    from ..plans import documents as dp

    hyper = f"{N_BUCKETS}:{COUNT_CAP}:{RIDGE_LAMBDA}:{N_ITERS}:{W_SCALE}:{TRAIN_MOD}"
    label = ":".join(
        str(x)
        for x in (
            dp.MIN_TOKENS,
            dp.MAX_CHARS_PER_TOKEN,
            dp.MAX_DUP3_NUM,
            dp.MAX_DUP3_DEN,
            dp.MAX_PUNCT_NUM,
            dp.MAX_PUNCT_DEN,
        )
    )
    stop = hashlib.md5(
        "\x00".join(sorted(ts.STOPWORDS)).encode()
    ).hexdigest()[:10]
    code = hashlib.md5(
        (
            inspect.getsource(char_ngram_features)
            + inspect.getsource(normalize_text)
            + inspect.getsource(dp.quality_filter_verdicts)
        ).encode()
    ).hexdigest()[:10]
    _SALT_CACHE = f"{hyper}|L{label}|S{stop}|C{code}"
    return _SALT_CACHE


def model_path(sf_dir: str) -> str:
    """Content-keyed JSON path under the shared index root: the key
    folds the documents table's file-stat state AND the training
    constants, so a regenerated corpus or retuned trainer can never
    read stale weights."""
    import hashlib

    from ..catalog import state_key, table_path
    from ..sources.bucketing import index_path

    key = _model_salt() + "|" + state_key(table_path(sf_dir, "documents"))
    h = hashlib.md5(key.encode()).hexdigest()[:10]
    return index_path(f"wtes_qcmodel_{h}.json")


def load_published_weights(sf_dir: str) -> list[int] | None:
    """The published weight vector for this corpus state, or None."""
    import json
    import os

    p = model_path(sf_dir)
    try:
        with open(p) as fh:
            d = json.load(fh)
        w = [int(x) for x in d["w"]]
        return w if len(w) == N_FEATURES else None
    except (OSError, ValueError, KeyError):
        return None


def publish_weights(sf_dir: str, w: list[int]) -> None:
    """Atomic publish (tmp + rename — first writer wins; identical
    content either way because training is deterministic)."""
    import json
    import os
    import uuid

    p = model_path(sf_dir)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump({"w": [int(x) for x in w], "salt": _model_salt()}, fh)
    os.replace(tmp, p)
