"""§2D+ — Data-selection & sketch-quality diagnostics (round 5).

Operators a training-data pipeline runs AFTER cleaning/dedup to decide
WHAT to train on and to audit its own sketches:

- ``dsir_importance_weights`` — DSIR-style hashed-bigram importance
  weights (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling"): log p_target/p_raw under bag-of-hashed-
  n-gram models, the standard cheap domain-relevance score.
- ``doc_token_entropy`` — per-doc unigram Shannon entropy, the
  diversity complement to the repetition score.
- ``minhash_quality_eval`` / ``simhash_quality_eval`` /
  ``winnow_quality_eval`` — precision/recall of each sketch tier's
  candidate pairs against the SAME exact-Jaccard ground truth: the
  gates that tell you whether a sketch tier is safe to trust at
  scale, and how the tiers' similarity notions disagree.
- ``contrastive_pair_mining`` — hardest positive / hardest negative
  per probe vector (metric-learning batch construction).
- ``tokenizer_fertility_by_lang`` — tokens-per-character by language,
  the standard tokenizer-coverage diagnostic.

Float determinism: every log is rounded to integer MICRO-NATS
(``round(ln(x) * 1e6)`` → int64) before any aggregation, so all sums
are exact integer arithmetic and the single final int→double division
is IEEE-identical on both engines. Cosines follow the embeddings
family's round-to-6dp contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.texthash import md5_long, normalize_text, word_tokens
from ..operators import dedup as dd
from ..operators.similarity import COSINE_SCALE
from ..operators import quality_model as qm
from ..operators import textstats as ts
from .documents import _MD5L, _SQL_DOCS_NORM, _SQL_JACCARD_PAIRS
from .documents import _SQL_DOCS_SH, _sql_minhash_prefix
from .documents import JACCARD_MAX_DF, NGRAM_JACCARD_THRESHOLD
from .documents import _QF_SH, _QF_TOKS
from .documents import MAX_CHARS_PER_TOKEN, MAX_DUP3_DEN, MAX_DUP3_NUM
from .documents import MAX_PUNCT_DEN, MAX_PUNCT_NUM, MIN_TOKENS
from .embeddings import _PROBE_PRED, _probe_filter, _sql_cos
from .registry import REGISTRY, register

DSIR_BUCKETS = 128  # hashed-bigram feature space (B)
DSIR_TARGET_LANG = "en"  # target-domain proxy: the labeled-en slice

_SQL_BIGRAM_BUCKETS = f"""
    SELECT doc_id, lang,
           {_MD5L.format(x='bigram')} % {DSIR_BUCKETS} AS b,
           COUNT(*) AS n
    FROM (
        SELECT doc_id, lang,
               unnest(list_transform(
                   range(2, len(t) + 1),
                   i -> t[i-1] || ' ' || t[i])) AS bigram
        FROM (SELECT doc_id, lang, string_split(norm, ' ') AS t
              FROM ({_SQL_DOCS_NORM}))
    )
    GROUP BY 1, 2, 3
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _micro_nats(col: F.Column) -> F.Column:
    """round(ln(x)·1e6) as int64 — the engine-portable log unit."""
    return F.round(F.log(col) * F.lit(1e6), 0).cast("bigint")


# (doc_id, n_feats, lw) for every doc — lw = exact int64 micro-nat
# weight. Shared by the weight report and the Gumbel resampler so the
# two oracles can never drift apart.
_SQL_DSIR_W = f"""
    SELECT d.doc_id,
           CAST(COALESCE(w.n_feats, 0) AS BIGINT) AS n_feats,
           CAST(COALESCE(w.lw, 0) AS BIGINT) AS lw
    FROM documents d LEFT JOIN (
        WITH pb AS ({_SQL_BIGRAM_BUCKETS}),
        bs AS (
            SELECT b, SUM(n) AS c_r,
                   COALESCE(SUM(n) FILTER (lang = '{DSIR_TARGET_LANG}'), 0)
                       AS c_t
            FROM pb GROUP BY 1
        ),
        tot AS (SELECT SUM(c_r) AS r_tot, SUM(c_t) AS t_tot FROM bs),
        lr AS (
            SELECT b,
                   CAST(round((ln(c_t + 1) * 1e6), 0) AS BIGINT)
                 - CAST(round((ln(t_tot + {DSIR_BUCKETS}) * 1e6), 0) AS BIGINT)
                 - CAST(round((ln(c_r + 1) * 1e6), 0) AS BIGINT)
                 + CAST(round((ln(r_tot + {DSIR_BUCKETS}) * 1e6), 0) AS BIGINT)
                       AS lr_micro
            FROM bs, tot
        )
        SELECT doc_id, SUM(n) AS n_feats, SUM(n * lr_micro) AS lw
        FROM pb JOIN lr USING (b) GROUP BY 1
    ) w USING (doc_id)
"""


@register(
    "dsir_importance_weights",
    oracle=f"""
    SELECT doc_id, n_feats, CAST(lw AS DOUBLE) / 1e6 AS logw
    FROM ({_SQL_DSIR_W})
    """,
    tags=("documents", "selection"),
    doc="DSIR-style importance weights: bag-of-hashed-bigrams "
    f"({DSIR_BUCKETS} md5 buckets) language models for the target "
    f"slice (lang='{DSIR_TARGET_LANG}') and the raw corpus, Laplace "
    "smoothing, per-doc weight = Σ n_b·log(p_t(b)/p_r(b)). Log terms "
    "are pre-rounded to integer micro-nats PER BUCKET (≤B rows) so "
    "every per-doc sum is exact int64 — order-independent, "
    "engine-portable. Plan: one explode+groupBy for features, a "
    "B-row broadcast of the log-ratio table, one groupBy on doc_id — "
    "no shuffle grows with pair counts, corpus-linear at 100 TB.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_weight_frame(spark, sf_dir).select(
        "doc_id",
        "n_feats",
        (F.col("lw").cast("double") / F.lit(1e6)).alias("logw"),
    )


def _dsir_weight_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, lw) for EVERY doc — lw is the exact int64
    micro-nat importance weight (0 for bigram-less docs). Shared by
    the weight report and the Gumbel resampler."""
    d = _docs(spark, sf_dir)
    toks = word_tokens("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    per_doc = (
        widen_narrow_input(d, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES)
        .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        .select(
            "doc_id",
            "lang",
            (md5_long(F.col("bigram")) % DSIR_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        # feeds bucket stats AND weights: persist (columnar cache,
        # spills to disk) beats localCheckpoint here ~4x at sf0.1 —
        # the checkpoint's RDD materialization barrier costs >1 s of
        # fixed overhead, while the diamond reuse needs no lineage
        # truncation. At 100 TB both compute the explode exactly once.
        .persist()
    )
    stats = per_doc.groupBy("b").agg(
        F.sum("n").alias("c_r"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n"))),
            F.lit(0),
        ).alias("c_t"),
    )
    totals = stats.agg(
        F.sum("c_r").alias("r_tot"), F.sum("c_t").alias("t_tot")
    )
    lr = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                _micro_nats(F.col("c_t") + 1)
                - _micro_nats(F.col("t_tot") + DSIR_BUCKETS)
                - _micro_nats(F.col("c_r") + 1)
                + _micro_nats(F.col("r_tot") + DSIR_BUCKETS)
            ).alias("lr_micro"),
        )
    )
    w = (
        per_doc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n") * F.col("lr_micro")).alias("lw"),
        )
    )
    return d.select("doc_id").join(w, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
        F.coalesce("lw", F.lit(0)).cast("bigint").alias("lw"),
    )


@register(
    "doc_token_entropy",
    oracle=f"""
    WITH tc AS (
        SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS token
              FROM ({_SQL_DOCS_NORM}))
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id,
               SUM(c) AS n,
               COUNT(*) AS k,
               SUM(c * CAST(round(ln(c) * 1e6, 0) AS BIGINT)) AS s_micro
        FROM tc GROUP BY 1
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(k AS BIGINT) AS n_distinct,
           CAST(CAST(round(ln(n) * 1e6, 0) AS BIGINT) * n - s_micro
                AS DOUBLE)
             / CAST(n * 1000000 AS DOUBLE) AS entropy_nats
    FROM agg
    """,
    tags=("documents", "selection"),
    doc="Per-doc unigram Shannon entropy in nats: "
    "H = ln(n) − (Σ c·ln c)/n over token counts — the diversity "
    "signal (low entropy ⇒ repetitive/templated text; pairs with "
    "doc_repetition_score for quality filtering). Inner Σ c·ln c is "
    "exact int64 over per-count micro-nats; one token-explode "
    "groupBy then a doc_id groupBy — corpus-linear.",
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    d = _docs(spark, sf_dir)
    tc = (
        widen_narrow_input(d, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES)
        .select("doc_id", F.explode(word_tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("c") * _micro_nats(F.col("c"))).alias("s_micro"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("k").cast("bigint").alias("n_distinct"),
        (
            (_micro_nats(F.col("n")) * F.col("n") - F.col("s_micro"))
            .cast("double")
            / (F.col("n") * F.lit(1000000)).cast("double")
        ).alias("entropy_nats"),
    )


def _sql_pr_eval(cand_sql: str) -> str:
    """Precision/recall of a candidate-pair SELECT (any sketch tier)
    against exact-Jaccard ground truth — the same truth CTEs as the
    minhash gate, so the three tier evals can never drift apart."""
    return f"""
    WITH cand AS (
        SELECT DISTINCT doc_a, doc_b FROM ({cand_sql})
    ),
    sh AS ({_SQL_DOCS_SH}),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex2 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM ex2 a JOIN ex2 b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE)
                / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
              >= {NGRAM_JACCARD_THRESHOLD}
    ),
    j AS (
        SELECT COALESCE(t.in_t, 0) AS in_t, COALESCE(c.in_c, 0) AS in_c
        FROM (SELECT doc_a, doc_b, 1 AS in_t FROM truth) t
        FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_c FROM cand) c
        USING (doc_a, doc_b)
    )
    SELECT CAST(COALESCE(SUM(in_t), 0) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(in_c), 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(in_t * in_c), 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(in_t * in_c), 0) AS DOUBLE)
             / CAST(NULLIF(COALESCE(SUM(in_c), 0), 0) AS DOUBLE)
               AS precision,
           CAST(COALESCE(SUM(in_t * in_c), 0) AS DOUBLE)
             / CAST(NULLIF(COALESCE(SUM(in_t), 0), 0) AS DOUBLE)
               AS recall
    FROM j
    """


def _pr_frame(truth: DataFrame, cand: DataFrame) -> DataFrame:
    """(in_t, in_c) full-outer membership join → one-row P/R report.
    ``truth``/``cand`` carry (doc_a, doc_b, in_t|in_c=1)."""
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_t", F.lit(0)).alias("in_t"),
        F.coalesce("in_c", F.lit(0)).alias("in_c"),
    )
    n_truth = F.coalesce(F.sum("in_t"), F.lit(0)).cast("bigint")
    n_cand = F.coalesce(F.sum("in_c"), F.lit(0)).cast("bigint")
    n_hits = F.coalesce(
        F.sum(F.col("in_t") * F.col("in_c")), F.lit(0)
    ).cast("bigint")
    return j.agg(
        n_truth.alias("n_truth"),
        n_cand.alias("n_candidates"),
        n_hits.alias("n_hits"),
        (
            n_hits.cast("double")
            / F.nullif(n_cand, F.lit(0)).cast("double")
        ).alias("precision"),
        (
            n_hits.cast("double")
            / F.nullif(n_truth, F.lit(0)).cast("double")
        ).alias("recall"),
    )


def _jaccard_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard ground-truth pairs (unbucketed, full corpus) —
    shared by every sketch-tier quality gate."""
    return dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir), F.lit("all"), NGRAM_JACCARD_THRESHOLD
    ).select("doc_a", "doc_b", F.lit(1).alias("in_t"))


@register(
    "minhash_quality_eval",
    oracle=f"""
    {_sql_minhash_prefix()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex2 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM ex2 a JOIN ex2 b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE)
                / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
              >= {NGRAM_JACCARD_THRESHOLD}
    ),
    j AS (
        SELECT COALESCE(t.in_t, 0) AS in_t, COALESCE(c.in_c, 0) AS in_c
        FROM (SELECT doc_a, doc_b, 1 AS in_t FROM truth) t
        FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS in_c FROM cand) c
        USING (doc_a, doc_b)
    )
    SELECT CAST(COALESCE(SUM(in_t), 0) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(in_c), 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(in_t * in_c), 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(in_t * in_c), 0) AS DOUBLE)
             / CAST(NULLIF(COALESCE(SUM(in_c), 0), 0) AS DOUBLE)
               AS precision,
           CAST(COALESCE(SUM(in_t * in_c), 0) AS DOUBLE)
             / CAST(NULLIF(COALESCE(SUM(in_t), 0), 0) AS DOUBLE)
               AS recall
    FROM j
    """,
    tags=("documents", "dedup", "selection"),
    doc="Sketch-quality gate for the MinHash-LSH tier: candidate "
    "pairs from banding vs GROUND-TRUTH exact-Jaccard pairs "
    f"(threshold {NGRAM_JACCARD_THRESHOLD}, same shingle spec, no "
    "bucket restriction so cross-bucket candidates count). Emits "
    "n_truth / n_candidates / n_hits plus precision & recall as "
    "single exact-int divisions. This is how you VALIDATE a sketch "
    "config before trusting it on 100 TB — run on a sampled slice, "
    "check recall, then ship the banding constants.",
)
def minhash_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cand = dd.minhash_band_pairs(dd.minhash_signatures(d)).select(
        "doc_a", "doc_b", F.lit(1).alias("in_c")
    )
    return _pr_frame(_jaccard_truth(spark, sf_dir), cand)


@register(
    "simhash_quality_eval",
    oracle=_sql_pr_eval(REGISTRY["dedup_simhash"].oracle),
    tags=("documents", "dedup", "selection"),
    doc="Sketch-quality gate for the SimHash tier: banded "
    "hamming-radius candidate pairs vs the SAME exact-Jaccard ground "
    "truth as the minhash gate. SimHash approximates token-set COSINE, "
    "not Jaccard, so this eval quantifies exactly how the two notions "
    "disagree on this corpus before anyone trusts the cheaper tier at "
    "100 TB. Candidates reuse the registered dedup_simhash plan (one "
    "source of truth per tier); truth is quadratic-exact, so this runs "
    "on sampled slices, like every quality gate in this family.",
)
def simhash_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = (
        REGISTRY["dedup_simhash"]
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("in_c", F.lit(1))
    )
    return _pr_frame(_jaccard_truth(spark, sf_dir), cand)


@register(
    "winnow_quality_eval",
    oracle=_sql_pr_eval(REGISTRY["dedup_winnow_pairs"].oracle),
    tags=("documents", "dedup", "selection", "fingerprint"),
    doc="Sketch-quality gate for the winnowing tier: inverted-index "
    "pairs over winnow-SELECTED fingerprints (~1/3 shingle volume, "
    "df-capped, >=2 shared) vs exact-Jaccard ground truth. Winnowing "
    "guarantees shared-SPAN detection, not Jaccard similarity — this "
    "gate measures how much of the high-Jaccard truth the span "
    "detector recovers (recall) and how much boilerplate noise the "
    "df cap lets through (precision). Candidates reuse the registered "
    "dedup_winnow_pairs plan; same P/R contract as the minhash and "
    "simhash gates.",
)
def winnow_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = (
        REGISTRY["dedup_winnow_pairs"]
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("in_c", F.lit(1))
    )
    return _pr_frame(_jaccard_truth(spark, sf_dir), cand)


@register(
    "contrastive_pair_mining",
    oracle=f"""
    WITH sc AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               (q.label = c.label) AS is_pos,
               {_sql_cos('q.embedding', 'c.embedding')} AS cosine
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.{_PROBE_PRED.replace(' AND ', ' AND q.')}
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id, is_pos
                   ORDER BY cosine DESC, cand_id) AS rn
        FROM sc
    )
    SELECT query_id,
           MIN(cand_id) FILTER (is_pos) AS pos_id,
           MIN(cosine) FILTER (is_pos) AS pos_cos,
           MIN(cand_id) FILTER (NOT is_pos) AS neg_id,
           MIN(cosine) FILTER (NOT is_pos) AS neg_cos,
           round(MIN(cosine) FILTER (is_pos)
                 - MIN(cosine) FILTER (NOT is_pos), 6) AS margin
    FROM best WHERE rn = 1
    GROUP BY query_id
    """,
    tags=("embeddings", "selection"),
    doc="Metric-learning batch mining: for each probe vector, the "
    "HARDEST POSITIVE (same label, max cosine) and HARDEST NEGATIVE "
    "(different label, max cosine) with the triplet margin — the "
    "standard contrastive/triplet batch-construction step. Broadcast "
    "probe set × corpus scan (the knn_bruteforce shape, O(corpus)); "
    "cosines rounded to 6dp before ranking, ties on cand_id.",
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )
    from ..functions.vectors import dot, norm

    # norms once per side, not per joined pair (bit-identical to
    # cosine() — same op order); corpus side fanned out below
    emb = load_table(spark, sf_dir, "embeddings")
    q = _probe_filter(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("nq"),
        F.col("label").alias("qlabel"),
    )
    c = widen_narrow_input(
        emb, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        norm(F.col("embedding")).alias("nc"),
        F.col("label").alias("clabel"),
    )
    cos = F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
        COSINE_SCALE,
    )
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.col("qlabel") == F.col("clabel")).alias("is_pos"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id", "is_pos").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    pos_cos = F.min(F.when(F.col("is_pos"), F.col("cosine")))
    neg_cos = F.min(F.when(~F.col("is_pos"), F.col("cosine")))
    return best.groupBy("query_id").agg(
        F.min(F.when(F.col("is_pos"), F.col("cand_id"))).alias("pos_id"),
        pos_cos.alias("pos_cos"),
        F.min(F.when(~F.col("is_pos"), F.col("cand_id"))).alias("neg_id"),
        neg_cos.alias("neg_cos"),
        F.round(pos_cos - neg_cos, 6).alias("margin"),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(norm, ' '))) AS BIGINT)
               AS n_tokens,
           CAST(SUM(len(norm)) AS BIGINT) AS n_chars,
           CAST(SUM(len(string_split(norm, ' '))) AS DOUBLE)
             / CAST(SUM(len(norm)) AS DOUBLE) AS tokens_per_char,
           CAST(SUM(len(norm)) AS DOUBLE)
             / CAST(SUM(len(string_split(norm, ' '))) AS DOUBLE)
               AS chars_per_token
    FROM ({_SQL_DOCS_NORM})
    GROUP BY lang
    """,
    tags=("documents", "selection"),
    doc="Tokenizer-coverage diagnostic: per-language token and "
    "character totals with fertility ratios (tokens/char and its "
    "inverse) — the first thing you check when a tokenizer "
    "under-serves a language (e.g. zh whitespace tokens are whole "
    "clauses). Exact integer sums, two final divisions; one "
    "5-row groupBy.",
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = normalize_text("text")
    per = d.select(
        "lang",
        F.size(word_tokens("text")).cast("bigint").alias("nt"),
        F.length(norm).cast("bigint").alias("nc"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.sum("nc").alias("n_chars"),
        (F.sum("nt").cast("double") / F.sum("nc").cast("double")).alias(
            "tokens_per_char"
        ),
        (F.sum("nc").cast("double") / F.sum("nt").cast("double")).alias(
            "chars_per_token"
        ),
    )


@register(
    "dup_graph_degree_stats",
    oracle=f"""
    WITH pairs AS ({_SQL_JACCARD_PAIRS}),
    deg AS (
        SELECT doc_id, COUNT(*) AS degree
        FROM (SELECT doc_a AS doc_id FROM pairs
              UNION ALL SELECT doc_b FROM pairs)
        GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n_graph_docs FROM deg)
    SELECT CAST(degree AS BIGINT) AS degree,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(MAX(tot.n_graph_docs) AS DOUBLE) AS share
    FROM deg, tot
    GROUP BY degree
    """,
    tags=("documents", "dedup", "selection"),
    doc="Near-dup GRAPH diagnostics: the degree distribution of the "
    "df-capped Jaccard pair graph — (degree, doc count, share of "
    "graph members). The skew early-warning for cluster formation: a "
    "heavy tail here means boilerplate floods that will hot-spot the "
    "connected-components shuffle (mitigate via salting / df-cap "
    "tightening) BEFORE burning cluster rounds on them. Two tiny "
    "aggregations over the pair list; the one-row total broadcasts.",
)
def dup_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tot = deg.agg(F.count(F.lit(1)).alias("n_graph_docs"))
    return (
        deg.groupBy(F.col("degree").cast("bigint").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_docs",
            (
                F.col("n_docs").cast("double")
                / F.col("n_graph_docs").cast("double")
            ).alias("share"),
        )
    )


def _sql_pagerank(iters: int) -> str:
    """Unrolled integer-micro PageRank — one CTE per iteration, each
    step the same int64 floor arithmetic as the Spark operator."""
    step = """
    r{t} AS (
        SELECT d.src, d.degree,
               CAST({base} + (85 * COALESCE(SUM(r.rank_micro // r.degree), 0))
                    // 100 AS BIGINT) AS rank_micro
        FROM deg d
        LEFT JOIN edges e ON e.dst = d.src
        LEFT JOIN r{p} r ON r.src = e.src
        GROUP BY 1, 2
    )"""
    chain = ",".join(
        step.format(t=t, p=t - 1, base=dd.PAGERANK_BASE_MICRO)
        for t in range(1, iters + 1)
    )
    return f"""
    WITH pairs AS ({_SQL_JACCARD_PAIRS}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY 1),
    r0 AS (SELECT src, degree,
                  CAST({dd.PAGERANK_INIT_MICRO} AS BIGINT) AS rank_micro
           FROM deg),
    {chain}
    SELECT src AS doc_id, CAST(degree AS BIGINT) AS degree, rank_micro,
           CAST(rank_micro AS DOUBLE) / 1e6 AS rank
    FROM r{iters}
    """


@register(
    "dup_graph_pagerank",
    oracle=_sql_pagerank(dd.PAGERANK_ITERS),
    tags=("documents", "dedup", "selection", "graph"),
    doc=f"Duplication CENTRALITY: {dd.PAGERANK_ITERS}-iteration "
    "PageRank over the df-capped Jaccard pair graph in exact integer "
    "micro-units — ranks boilerplate/template hubs that degree alone "
    "understates (a doc bridging several dup clusters outranks one "
    "inside a single clique). The engine's iterative-graph shape: "
    "per round one edges⋈ranks hash join + one groupBy-sum, edge list "
    "checkpointed once — the same loop runs label propagation or HITS "
    "unchanged. All arithmetic is int64 floor ops (micro-nat "
    "contract), so ranks are bit-identical across engines and cluster "
    "sizes. operators/dedup.py:pagerank_micro.",
)
def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    )
    return dd.pagerank_micro(pairs, iters=dd.PAGERANK_ITERS)


DSIR_SAMPLE_K = 200
DSIR_SAMPLE_SALT = ":dsir"


@register(
    "dsir_gumbel_sample",
    oracle=f"""
    WITH w AS ({_SQL_DSIR_W}),
    keyed AS (
        SELECT doc_id, lw,
               lw + CAST(round(-ln(-ln(
                        (CAST({_MD5L.format(x=f"CAST(doc_id AS VARCHAR) || '{DSIR_SAMPLE_SALT}'")}
                              % 1000000 AS DOUBLE) + 0.5) / 1e6
                    )) * 1e6, 0) AS BIGINT) AS key_micro
        FROM w
    )
    SELECT doc_id,
           CAST(lw AS DOUBLE) / 1e6 AS logw,
           CAST(key_micro AS DOUBLE) / 1e6 AS sample_key,
           ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS rank
    FROM keyed
    ORDER BY key_micro DESC, doc_id
    LIMIT {DSIR_SAMPLE_K}
    """,
    tags=("documents", "selection"),
    doc=f"The DSIR APPLY step — importance RESAMPLING via the Gumbel "
    f"top-k trick: key = logw + Gumbel(0,1) noise, take the top "
    f"{DSIR_SAMPLE_K}; equivalent to sampling without replacement "
    "with probability ∝ exp(logw) (Xie et al. 2023 §2.3). The noise "
    "is a deterministic md5-coin uniform (doc_id-salted) pushed "
    "through -ln(-ln u) and rounded to micro-nats, so keys are exact "
    "int64 — the same draw on any engine, cluster size, or rerun. "
    "Global top-k runs as per-partition top-k + merge (TakeOrdered), "
    "no full sort at 100 TB.",
)
def dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _dsir_weight_frame(spark, sf_dir)
    u = (
        (
            md5_long(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(DSIR_SAMPLE_SALT),
                )
            )
            % 1000000
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(1e6)
    g_micro = F.round(-F.log(-F.log(u)) * F.lit(1e6), 0).cast("bigint")
    keyed = w.select(
        "doc_id", "lw", (F.col("lw") + g_micro).alias("key_micro")
    )
    ranked = keyed.orderBy(
        F.col("key_micro").desc(), F.col("doc_id")
    ).limit(DSIR_SAMPLE_K)
    win = Window.orderBy(F.col("key_micro").desc(), F.col("doc_id"))
    return ranked.select(
        "doc_id",
        (F.col("lw").cast("double") / F.lit(1e6)).alias("logw"),
        (F.col("key_micro").cast("double") / F.lit(1e6)).alias(
            "sample_key"
        ),
        F.row_number().over(win).cast("bigint").alias("rank"),
    )


@register(
    "doc_lm_perplexity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
               generate_subscripts(string_split(norm, ' '), 1) AS pos
        FROM ({_SQL_DOCS_NORM})
    ),
    dbi AS (
        SELECT a.doc_id, a.token AS w1, b.token AS w2, COUNT(*) AS n
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2, 3
    ),
    bi AS (SELECT w1, w2, SUM(n) AS c12 FROM dbi GROUP BY 1, 2),
    uni AS (SELECT w1, SUM(c12) AS c1 FROM bi GROUP BY 1),
    voc AS (SELECT COUNT(DISTINCT token) AS v FROM tok),
    lp AS (
        SELECT w1, w2,
               CAST(round(ln(c12 + 1) * 1e6, 0) AS BIGINT)
             - CAST(round(ln(c1 + v) * 1e6, 0) AS BIGINT) AS lp_micro
        FROM bi JOIN uni USING (w1), voc
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(-SUM(n * lp_micro) AS DOUBLE)
             / CAST(SUM(n) * 1000000 AS DOUBLE) AS cross_entropy_nats,
           round(exp(CAST(-SUM(n * lp_micro) AS DOUBLE)
             / CAST(SUM(n) * 1000000 AS DOUBLE)), 6) AS ppl
    FROM dbi JOIN lp USING (w1, w2)
    GROUP BY doc_id
    """,
    tags=("documents", "selection", "quality"),
    doc="Model-based quality filter (the CCNet / Wikipedia-LM "
    "perplexity proxy): per-doc cross-entropy in nats under an "
    "add-one-smoothed bigram LM trained on the corpus itself — "
    "p(w2|w1) = (c12+1)/(c1+V). High-perplexity docs are gibberish / "
    "boilerplate candidates; low-perplexity docs are repetitive. "
    "Per-(w1,w2) log-probs are integer micro-nats, per-doc sums are "
    "exact int64 weighted by the doc's bigram counts, one final "
    "int->double division (+ a 6dp-rounded exp for the familiar ppl "
    "number). Scale shape (r11 rework of the sf10 superlinear flag): "
    "bigrams are built IN-ROW with zip_with over the token array — "
    "token instances never shuffle (the old plan's window-lead "
    "shuffled every token with its string payload) — and every "
    "shuffle key is a 64-bit hash: bid = xxhash64(w1, w2), "
    "w1id = xxhash64(w1). Map-side combine reduces instance volume "
    "to distinct per-doc bigrams BEFORE the wire, so the two "
    "doc-sized shuffles (the per-doc count and the LM join) carry "
    "~24-byte int rows, never strings; the LM table itself is "
    "O(distinct corpus bigrams) on int keys. Vocabulary is counted "
    "over in-row-distinct hashed tokens (no second string explode). "
    "Docs with <2 tokens have no bigrams and are absent by "
    "construction.",
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", word_tokens("text").alias("t"))
    # in-row bigram ids: no window, no token-instance shuffle
    big = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.struct(
                    F.xxhash64(a).alias("w1id"),
                    F.xxhash64(a, b).alias("bid"),
                ),
            )
        ).alias("bg"),
    )
    dbi = big.groupBy(
        "doc_id",
        F.col("bg.w1id").alias("w1id"),
        F.col("bg.bid").alias("bid"),
    ).agg(F.count(F.lit(1)).alias("n"))
    bi = dbi.groupBy("bid").agg(
        F.sum("n").alias("c12"), F.max("w1id").alias("w1id")
    )
    uni = bi.groupBy("w1id").agg(F.sum("c12").alias("c1"))
    voc = toks.select(
        F.explode(
            F.array_distinct(F.transform("t", lambda x: F.xxhash64(x)))
        ).alias("tid")
    ).agg(F.countDistinct("tid").alias("v"))
    lp = (
        bi.join(uni, "w1id")
        .crossJoin(F.broadcast(voc))
        .select(
            "bid",
            (
                _micro_nats(F.col("c12") + 1)
                - _micro_nats(F.col("c1") + F.col("v"))
            ).alias("lp_micro"),
        )
    )
    agg = (
        dbi.join(lp, "bid")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("lp_micro")).alias("s_micro"),
        )
    )
    ent = (-F.col("s_micro")).cast("double") / (
        F.col("n_bigrams") * F.lit(1000000)
    ).cast("double")
    return agg.select(
        "doc_id",
        "n_bigrams",
        ent.alias("cross_entropy_nats"),
        F.round(F.exp(ent), 6).alias("ppl"),
    )


@register(
    "doc_lm_perplexity_tri",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
               generate_subscripts(string_split(norm, ' '), 1) AS pos
        FROM ({_SQL_DOCS_NORM})
    ),
    dtr AS (
        SELECT a.doc_id, a.token AS w1, b.token AS w2, c.token AS w3,
               COUNT(*) AS n
        FROM tok a
        JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        GROUP BY 1, 2, 3, 4
    ),
    tri AS (SELECT w1, w2, w3, SUM(n) AS c123 FROM dtr GROUP BY 1, 2, 3),
    ctx AS (SELECT w1, w2, SUM(c123) AS c12 FROM tri GROUP BY 1, 2),
    voc AS (SELECT COUNT(DISTINCT token) AS v FROM tok),
    lp AS (
        SELECT w1, w2, w3,
               CAST(round(ln(c123 + 1) * 1e6, 0) AS BIGINT)
             - CAST(round(ln(c12 + v) * 1e6, 0) AS BIGINT) AS lp_micro
        FROM tri JOIN ctx USING (w1, w2), voc
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_trigrams,
           CAST(-SUM(n * lp_micro) AS DOUBLE)
             / CAST(SUM(n) * 1000000 AS DOUBLE) AS cross_entropy_nats,
           round(exp(CAST(-SUM(n * lp_micro) AS DOUBLE)
             / CAST(SUM(n) * 1000000 AS DOUBLE)), 6) AS ppl
    FROM dtr JOIN lp USING (w1, w2, w3)
    GROUP BY doc_id
    """,
    tags=("documents", "selection", "quality", "lm"),
    doc="Trigram companion to doc_lm_perplexity — per-doc cross-entropy "
    "under an add-one-smoothed TRIGRAM LM trained on the corpus itself: "
    "p(w3|w1,w2) = (c123+1)/(c12+V). A higher-order model separates "
    "templated/boilerplate text (trigram-predictable, low ppl) from "
    "merely common-word text far more sharply than the bigram filter; "
    "running both gives the CCNet-style filter an order-sensitivity "
    "axis. Same exact-arithmetic contract as the bigram query: "
    "per-trigram log-probs in integer micro-nats, exact int64 per-doc "
    "sums, one final int->double division. Same scale shape as the r11 "
    "bigram rework: trigrams are built IN-ROW from the token array "
    "(transform over an index sequence — token instances never "
    "shuffle), every shuffle key is a 64-bit hash (tid = "
    "xxhash64(w1,w2,w3), cid = xxhash64(w1,w2)), map-side combine "
    "reduces to distinct per-doc trigrams before the wire, and the LM "
    "table is O(distinct corpus trigrams) on int keys. Docs with <3 "
    "tokens have no trigrams and are absent by construction.",
)
def doc_lm_perplexity_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Collision caveat (r12 advice): V, cid, and tid key the LM tables
    # on xxhash64 of the token strings while the oracle keys on the
    # exact strings, so the advertised parity is collision-
    # probabilistic, not unconditional — a 64-bit collision silently
    # merges two distinct trigrams/contexts. At the ~10^9-distinct-
    # trigram scale of a 100 TB corpus the birthday bound puts the
    # chance of ANY collision near 3%, and a single collision perturbs
    # only the two merged trigrams' smoothed counts (same accepted
    # trade as the r11 bigram tier). Keying on raw (w1,w2,w3) strings
    # would make parity exact at ~3× the shuffle width.
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", word_tokens("text").alias("t"))
    # in-row trigram ids: no window, no token-instance shuffle
    tri_in = toks.filter(F.size("t") >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.struct(
                    F.xxhash64(
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                    ).alias("cid"),
                    F.xxhash64(
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                        F.element_at(F.col("t"), i + 2),
                    ).alias("tid"),
                ),
            )
        ).alias("tg"),
    )
    dtr = tri_in.groupBy(
        "doc_id",
        F.col("tg.cid").alias("cid"),
        F.col("tg.tid").alias("tid"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tri = dtr.groupBy("tid").agg(
        F.sum("n").alias("c123"), F.max("cid").alias("cid")
    )
    ctx = tri.groupBy("cid").agg(F.sum("c123").alias("c12"))
    voc = toks.select(
        F.explode(
            F.array_distinct(F.transform("t", lambda x: F.xxhash64(x)))
        ).alias("uid")
    ).agg(F.countDistinct("uid").alias("v"))
    lp = (
        tri.join(ctx, "cid")
        .crossJoin(F.broadcast(voc))
        .select(
            "tid",
            (
                _micro_nats(F.col("c123") + 1)
                - _micro_nats(F.col("c12") + F.col("v"))
            ).alias("lp_micro"),
        )
    )
    agg = (
        dtr.join(lp, "tid")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_trigrams"),
            F.sum(F.col("n") * F.col("lp_micro")).alias("s_micro"),
        )
    )
    ent = (-F.col("s_micro")).cast("double") / (
        F.col("n_trigrams") * F.lit(1000000)
    ).cast("double")
    return agg.select(
        "doc_id",
        "n_trigrams",
        ent.alias("cross_entropy_nats"),
        F.round(F.exp(ent), 6).alias("ppl"),
    )


# ---- trained quality classifier (hashed char-3-gram ridge) -------------
#
# The CCNet-style "quality model": distill the composite heuristic
# filter (quality_filter_verdicts' keep bit) into a linear model over
# hashed char-3-gram counts, trained in-engine. The ENTIRE training
# procedure — capped integer features, exact integer Gram/moment sums,
# N_ITERS row-sum-preconditioned Richardson steps in integer
# micro-units — is reproduced verbatim by the DuckDB oracle below, so
# unlike most trained models the weights AND per-doc scores have an
# EXACT cross-engine oracle. operators/quality_model.py holds the
# Spark side; tests/test_quality_model.py asserts the AUC floor.

_QC_KEEP = f"""(len({_QF_TOKS}) >= {MIN_TOKENS}
    AND length(norm) <= {MAX_CHARS_PER_TOKEN} * len({_QF_TOKS})
    AND {ts.sql_count_in_set(_QF_TOKS, ts.STOPWORDS)} >= 1
    AND (CASE WHEN len({_QF_TOKS}) >= 3
         THEN (len({_QF_TOKS}) - 2 - len({_QF_SH})) * {MAX_DUP3_DEN}
              <= (len({_QF_TOKS}) - 2) * {MAX_DUP3_NUM}
         ELSE TRUE END)
    AND length(regexp_replace(norm, '[^.,;:!?]', '', 'g'))
            * {MAX_PUNCT_DEN} <= length(norm) * {MAX_PUNCT_NUM})"""


def _sql_qc_fdiv(a: str, s: str) -> str:
    """Floor division for s > 0 via the posmod identity — matches
    Python's ``//`` exactly (DuckDB's bare ``//`` on a negative
    dividend truncates toward zero, which would diverge)."""
    return f"((({a}) - (((({a}) % ({s})) + ({s})) % ({s}))) // ({s}))"


def _sql_qc_with() -> str:
    """The shared CTE chain: features → train-half moments → N_ITERS
    unrolled integer solver steps → qc_wfin(i, w). Every value is an
    exact int64; the final per-step CAST to BIGINT makes DuckDB error
    loudly (instead of silently diverging from Spark) if a corpus ever
    pushes a weight past int64."""
    b, d = qm.N_BUCKETS, qm.N_FEATURES
    grams_hash = _MD5L.format(x="g")
    parts = [
        f"""qc_d AS MATERIALIZED (SELECT doc_id, norm FROM ({_SQL_DOCS_NORM})),
    qc_lab AS (
        SELECT doc_id, CAST({_QC_KEEP} AS BIGINT) AS y FROM qc_d),
    qc_feats AS MATERIALIZED (
        SELECT doc_id, {grams_hash} % {b} AS b,
               LEAST(COUNT(*), {qm.COUNT_CAP}) AS n
        FROM (SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS g
              FROM qc_d, unnest(range(1, length(norm) - 1)) AS t(i)
              WHERE length(norm) >= 3)
        GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, {b}, 1 FROM qc_d),
    qc_tr AS MATERIALIZED (SELECT * FROM qc_feats
              WHERE doc_id % {qm.TRAIN_MOD} = 0),
    qc_buckets AS (
        SELECT CAST(unnest(range(0, {d})) AS BIGINT) AS i),
    qc_xtx AS (
        SELECT a.b AS i, b2.b AS j, SUM(a.n * b2.n) AS v
        FROM qc_tr a JOIN qc_tr b2 USING (doc_id) GROUP BY 1, 2),
    qc_amat AS MATERIALIZED (
        SELECT s1.i, s2.i AS j,
               CAST(COALESCE(x.v, 0)
                    + CASE WHEN s1.i = s2.i
                           THEN {qm.RIDGE_LAMBDA} ELSE 0 END AS BIGINT)
                   AS v
        FROM qc_buckets s1 CROSS JOIN qc_buckets s2
        LEFT JOIN qc_xtx x ON x.i = s1.i AND x.j = s2.i),
    qc_rowsum AS MATERIALIZED (
        SELECT i, CAST(SUM(v) AS BIGINT) AS s FROM qc_amat GROUP BY 1),
    qc_cvec AS MATERIALIZED (
        SELECT sp.i, CAST(COALESCE(cv.c, 0) AS BIGINT) AS c
        FROM qc_buckets sp LEFT JOIN (
            SELECT f.b AS i, SUM(f.n * l.y) AS c
            FROM qc_tr f JOIN qc_lab l USING (doc_id) GROUP BY 1) cv
          ON cv.i = sp.i),
    qc_w0 AS MATERIALIZED (SELECT i, CAST(0 AS BIGINT) AS w FROM qc_buckets)"""
    ]
    step = _sql_qc_fdiv(f"cv.c * {qm.W_SCALE} - d.dot", "r.s")
    for k in range(qm.N_ITERS):
        parts.append(
            f"""qc_w{k + 1} AS MATERIALIZED (
        SELECT r.i, CAST(p.w + {step} AS BIGINT) AS w
        FROM qc_rowsum r
        JOIN qc_cvec cv ON cv.i = r.i
        JOIN qc_w{k} p ON p.i = r.i
        JOIN (SELECT a.i, SUM(a.v * p2.w) AS dot
              FROM qc_amat a JOIN qc_w{k} p2 ON p2.i = a.j
              GROUP BY 1) d ON d.i = r.i)"""
        )
    parts.append(
        f"qc_wfin AS (SELECT i, w FROM qc_w{qm.N_ITERS})"
    )
    return "WITH " + ",\n    ".join(parts)


def _qc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .documents import quality_filter_verdicts

    return quality_filter_verdicts(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("bigint").alias("y")
    )


def _qc_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[int]], list[int], list[int], list[int]]:
    """(A, c, row_sums, W) — moments over the train half + solved
    weights. Bounded driver state (65×65 ints). Publishes the solved
    weights to the content-keyed model registry as a side effect
    (training is deterministic, so concurrent publishes agree)."""
    feats = qm.char_ngram_features(_docs(spark, sf_dir))
    tr = feats.filter(F.col("doc_id") % qm.TRAIN_MOD == 0)
    a, c = qm.train_moments(tr, _qc_labels(spark, sf_dir))
    s = [sum(row) for row in a]
    w = qm.solve_weights(a, c)
    qm.publish_weights(sf_dir, w)
    return a, c, s, w


def _qc_weights(spark: SparkSession, sf_dir: str) -> list[int]:
    """Weights for SCORING: probe the published model first (the
    persisted-ANN-index precedent — train once per corpus version,
    score every scan); on a miss, train and publish."""
    w = qm.load_published_weights(sf_dir)
    if w is not None:
        return w
    return _qc_train(spark, sf_dir)[3]


@register(
    "quality_classifier_train",
    oracle=f"""
    {_sql_qc_with()}
    SELECT r.i AS bucket,
           dg.v AS xtx_diag,
           cv.c AS xty,
           r.s AS row_sum,
           w.w AS w_micro
    FROM qc_rowsum r
    JOIN qc_cvec cv ON cv.i = r.i
    JOIN qc_wfin w ON w.i = r.i
    JOIN (SELECT i, v FROM qc_amat WHERE i = j) dg ON dg.i = r.i
    """,
    tags=("documents", "selection", "model"),
    doc="Trained quality classifier — TRAINING: ridge regression over "
    f"hashed char-3-gram counts ({qm.N_BUCKETS} md5 buckets + "
    "intercept, counts capped at "
    f"{qm.COUNT_CAP}) distilling the C4/Gopher composite keep verdict "
    f"(quality_filter_verdicts), fit on the doc_id % {qm.TRAIN_MOD} "
    "== 0 half. The normal-equation moments are EXACT int64 sums "
    "(capped integer features × 0/1 labels) aggregated map-side — "
    f"shuffle ≤ {qm.N_FEATURES}² rows per partition, corpus-size-"
    f"independent — and the solver is {qm.N_ITERS} fixed row-sum-"
    "preconditioned Richardson steps in integer micro-units, so the "
    "DuckDB oracle unrolls the SAME steps as CTEs and lands on the "
    "IDENTICAL weights: an exact oracle for a trained model. Output: "
    "one row per feature (diag/moment/row-sum/weight). Driver state "
    "is the 65×65 Gram matrix (the pca.py/opq.py pattern); AUC floor "
    "asserted in tests/test_quality_model.py. "
    "operators/quality_model.py.",
)
def quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    a, c, s, w = _qc_train(spark, sf_dir)
    rows = [
        (i, a[i][i], c[i], s[i], w[i]) for i in range(qm.N_FEATURES)
    ]
    return spark.createDataFrame(
        rows,
        "bucket bigint, xtx_diag bigint, xty bigint, "
        "row_sum bigint, w_micro bigint",
    )


@register(
    "quality_classifier_score",
    oracle=f"""
    {_sql_qc_with()}
    SELECT doc_id, n_feats, score_micro,
           2 * score_micro >= {qm.W_SCALE} AS pred_keep
    FROM (
        SELECT f.doc_id,
               CAST(COUNT(*) FILTER (f.b < {qm.N_BUCKETS}) AS BIGINT)
                   AS n_feats,
               CAST(SUM(f.n * w.w) AS BIGINT) AS score_micro
        FROM qc_feats f JOIN qc_wfin w ON w.i = f.b
        GROUP BY 1
    )
    """,
    tags=("documents", "selection", "model"),
    doc="Trained quality classifier — SCORING: every doc (train AND "
    "held-out halves) scored map-side against the learned weights as "
    "a codegen array literal — score_micro = Σ n_b·W_b is an exact "
    "int64, pred_keep thresholds it at 0.5. At 100 TB this is one "
    "linear pass over the corpus (feature groupBy + per-doc sum); "
    "the model ships to executors as 65 literal ints, no broadcast "
    "table, no Python. Scores are EXACTLY oracle-checked because "
    "training is integer-deterministic (see quality_classifier_train)."
    " Held-out AUC floor asserted in tests/test_quality_model.py.",
)
def quality_classifier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = _qc_weights(spark, sf_dir)
    feats = qm.char_ngram_features(_docs(spark, sf_dir))
    return qm.score_documents(feats, w)


# ---- distributed BPE vocabulary learning -------------------------------
#
# operators/bpe.py: one corpus-linear word-count aggregation, then
# N_MERGES deterministic merge rounds on the bounded distinct-word
# table. Re-segmentation is DEFINED as leftmost non-overlapping
# replace (identical in Spark and DuckDB), so the learned merge table
# and the downstream fertility rollup both carry EXACT oracles — the
# DuckDB side just unrolls the same rounds as CTEs.

from ..operators import bpe as bp  # noqa: E402


def _sql_bpe_with() -> str:
    """Shared CTE chain: word counts → char segmentation → N_MERGES
    unrolled (pair-count, argmax-merge, re-segment) rounds."""
    parts = [
        f"""bpe_seg0 AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
               array_to_string(
                   list_filter(string_split(word, ''), x -> x != ''),
                   ' ') AS seg
        FROM (SELECT unnest(string_split(norm, ' ')) AS word
              FROM ({_SQL_DOCS_NORM}))
        WHERE word != ''
        GROUP BY 1)"""
    ]
    for k in range(1, bp.N_MERGES + 1):
        parts.append(
            f"""bpe_pc{k} AS MATERIALIZED (
        SELECT t.s[i] AS l, t.s[i + 1] AS r,
               CAST(SUM(t.n) AS BIGINT) AS cnt
        FROM (SELECT n, string_split(seg, ' ') AS s
              FROM bpe_seg{k - 1}) t,
             unnest(range(1, len(t.s))) AS u(i)
        GROUP BY 1, 2),
    bpe_mg{k} AS MATERIALIZED (
        SELECT l, r, cnt FROM bpe_pc{k}
        ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    bpe_seg{k} AS MATERIALIZED (
        SELECT word, n,
               trim(replace(' ' || seg || ' ',
                    COALESCE((SELECT ' ' || l || ' ' || r || ' '
                              FROM bpe_mg{k}), chr(1)),
                    COALESCE((SELECT ' ' || l || r || ' '
                              FROM bpe_mg{k}), chr(1)))) AS seg
        FROM bpe_seg{k - 1})"""
        )
    return "WITH " + ",\n    ".join(parts)


_SQL_BPE_MERGES_UNION = "\n    UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, "
    f"cnt AS pair_count FROM bpe_mg{k}"
    for k in range(1, bp.N_MERGES + 1)
)


@register(
    "bpe_train_merges",
    oracle=f"""
    {_sql_bpe_with()}
    SELECT merge_rank, lhs, rhs, pair_count
    FROM ({_SQL_BPE_MERGES_UNION})
    """,
    tags=("documents", "tokenizer"),
    doc=f"Distributed BPE vocabulary learning: {bp.N_MERGES} merge "
    "rounds, each one pair-count groupBy over the DISTINCT-WORD table "
    "(built by the single corpus-linear aggregation — segmentation is "
    "a function of the word, so the merge loop is corpus-size-"
    "independent, the sentencepiece scale trick) followed by a "
    "deterministic argmax (count DESC, then lexicographic pair — no "
    "floats) collected as ONE driver row and applied as a literal "
    "replace; a localCheckpoint every few rounds keeps the iterative "
    "plan flat (the PageRank shape) without paying a materialization "
    "job per round. Re-segmentation is leftmost non-"
    "overlapping replace — identical in both engines — so the merge "
    "table has an EXACT oracle: the DuckDB side unrolls the same "
    "rounds as CTEs. operators/bpe.py; planted-corpus merge-order "
    "test in tests/test_bpe.py.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = bp.train_merges(_docs(spark, sf_dir))
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, lhs string, rhs string, pair_count bigint",
    )


@register(
    "bpe_fertility_by_lang",
    oracle=f"""
    {_sql_bpe_with()},
    bpe_wl AS MATERIALIZED (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT lang, unnest(string_split(norm, ' ')) AS word
              FROM ({_SQL_DOCS_NORM}))
        WHERE word != ''
        GROUP BY 1, 2)
    SELECT lang, n_words, n_chars, n_bpe_tokens,
           CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
               AS tokens_per_word,
           CAST(n_bpe_tokens AS DOUBLE) / CAST(n_chars AS DOUBLE)
               AS tokens_per_char
    FROM (
        SELECT w.lang,
               CAST(SUM(w.n) AS BIGINT) AS n_words,
               CAST(SUM(w.n * length(w.word)) AS BIGINT) AS n_chars,
               CAST(SUM(w.n * len(string_split(s.seg, ' '))) AS BIGINT)
                   AS n_bpe_tokens
        FROM bpe_wl w JOIN bpe_seg{bp.N_MERGES} s USING (word)
        GROUP BY 1
    )
    """,
    tags=("documents", "tokenizer"),
    doc="Tokenizer-coverage diagnostic RE-MEASURED under the LEARNED "
    "BPE vocab (the companion to the char-proxy "
    "tokenizer_fertility_by_lang): apply the trained merge table to "
    "the distinct-word segmentation, join word instances (lang, word, "
    "count) against per-word BPE token counts, roll up tokens-per-"
    "word / tokens-per-char by language. All counts exact int64; the "
    "two fertility ratios are single int→double divisions. The "
    "corpus-side work is one explode+groupBy and one key join against "
    "the bounded word table — corpus-linear at 100 TB. ✓exact oracle "
    "(shared unrolled training CTEs).",
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    _, segs = bp.train_merges(d)
    wl = (
        d.select("lang", F.explode(word_tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    per_word = segs.select(
        "word", F.size(F.split("seg", " ")).cast("bigint").alias("k")
    )
    agg = (
        wl.join(per_word, "word")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.length("word"))
            .cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("n") * F.col("k"))
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        (
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_words").cast("double")
        ).alias("tokens_per_word"),
        (
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_chars").cast("double")
        ).alias("tokens_per_char"),
    )


# ---- unigram-LM tokenizer (SentencePiece-style hard-EM round) ----------

from ..operators import unigram_lm as ulm  # noqa: E402


def _sql_viterbi_ctes(pre: str, cost_cte: str) -> list[str]:
    """The unrolled Viterbi DP + backtrace CTE block, parameterized by
    name prefix and cost table so the seed round and the refined round
    share one generator (segmentations from ``{pre}seg``)."""
    P, W = ulm.MAX_PIECE_LEN, ulm.MAX_WORD_LEN
    parts = [
        f"""{pre}dp0 AS (SELECT word, n, 0 AS pos, CAST(0 AS BIGINT) AS cost,
                      0 AS np, 0 AS bp FROM ug_words)"""
    ]
    for i in range(1, W + 1):
        branches = "\n            UNION ALL ".join(
            f"""SELECT d.word, d.n, d.cost + v.cost_micro AS cost,
                   d.np + 1 AS np, {j} AS bp
            FROM {pre}dp{j} d JOIN {cost_cte} v
              ON v.piece = substr(d.word, {j + 1}, {i - j})
            WHERE d.n >= {i}"""
            for j in range(max(0, i - P), i)
        )
        parts.append(
            f"""{pre}dp{i} AS MATERIALIZED (
        SELECT word, n, {i} AS pos, cost, np, bp FROM (
            SELECT word, n, cost, np, bp,
                   row_number() OVER (PARTITION BY word
                       ORDER BY cost, np, bp) AS rk
            FROM ({branches}))
        WHERE rk = 1)"""
        )
    parts.append(
        f"{pre}dp_all AS MATERIALIZED ("
        + " UNION ALL ".join(
            f"SELECT word, pos, cost, np, bp FROM {pre}dp{i}"
            for i in range(1, W + 1)
        )
        + ")"
    )
    parts.append(
        f"""{pre}bt0 AS (
        SELECT w.word, w.c, w.n AS pos, d.cost AS cost_micro,
               d.np AS n_pieces, '' AS s
        FROM ug_words w JOIN {pre}dp_all d
          ON d.word = w.word AND d.pos = w.n)"""
    )
    for k in range(1, W + 1):
        parts.append(
            f"""{pre}bt{k} AS (
        SELECT b.word, b.c,
               CASE WHEN b.pos > 0 THEN d.bp ELSE b.pos END AS pos,
               b.cost_micro, b.n_pieces,
               CASE WHEN b.pos > 0
                    THEN substr(b.word, d.bp + 1, b.pos - d.bp)
                         || (CASE WHEN b.s = '' THEN ''
                             ELSE ' ' || b.s END)
                    ELSE b.s END AS s
        FROM {pre}bt{k - 1} b LEFT JOIN {pre}dp_all d
          ON d.word = b.word AND d.pos = b.pos)"""
        )
    parts.append(
        f"""{pre}seg AS MATERIALIZED (
        SELECT word, c, CAST(n_pieces AS BIGINT) AS n_pieces,
               cost_micro, s AS pieces FROM {pre}bt{W})"""
    )
    return parts


def _sql_unigram_with() -> str:
    """The shared CTE chain for the unigram-LM family: distinct words
    → seed substring frequencies → vocab (all single chars + top
    multi-char pieces) → integer micro-nat costs → MAX_WORD_LEN
    unrolled Viterbi DP steps (row_number argmin per word per
    position, ORDER BY cost, np, bp — the engine-shared lexicographic
    tie-break) → MAX_WORD_LEN backtrace steps rebuilding the ordered
    piece string. Every value is an exact integer, so segmentations
    and counts match the Spark side bit-for-bit."""
    P, W, V = ulm.MAX_PIECE_LEN, ulm.MAX_WORD_LEN, ulm.VOCAB_MULTI
    parts = [
        f"""ug_words AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(length(word) AS INT) AS n
        FROM (SELECT unnest(string_split(norm, ' ')) AS word
              FROM ({_SQL_DOCS_NORM}))
        WHERE length(word) BETWEEN 1 AND {W}
        GROUP BY 1),
    ug_freq AS MATERIALIZED (
        SELECT piece, CAST(SUM(c) AS BIGINT) AS f
        FROM (SELECT c,
                     substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
              FROM ug_words,
                   unnest(range(1, n + 1)) AS t(i),
                   unnest(range(1, least({P}, n - i + 1) + 1)) AS u(l))
        GROUP BY 1),
    ug_vocab AS MATERIALIZED (
        SELECT piece, f FROM ug_freq WHERE length(piece) = 1
        UNION ALL
        SELECT piece, f FROM (
            SELECT piece, f,
                   row_number() OVER (ORDER BY f DESC, piece) AS rk
            FROM ug_freq WHERE length(piece) >= 2)
        WHERE rk <= {V}),
    ug_cost AS MATERIALIZED (
        SELECT piece, f,
               CAST(round(ln((SELECT SUM(f) FROM ug_vocab)) * 1e6, 0)
                    AS BIGINT)
             - CAST(round(ln(f) * 1e6, 0) AS BIGINT) AS cost_micro
        FROM ug_vocab)"""
    ]
    parts += _sql_viterbi_ctes("ug_", "ug_cost")
    return "WITH " + ",\n    ".join(parts)


def _sql_unigram_refined_with() -> str:
    """Round-2 chain: the seed round's Viterbi counts re-estimate the
    piece costs (pieces with zero uses pruned — every word stays
    segmentable because its own round-1 segmentation survives), then
    the SAME unrolled DP re-segments under the refined costs."""
    base = _sql_unigram_with()
    refine = """ug2_cost AS MATERIALIZED (
        SELECT piece,
               CAST(nv AS BIGINT) AS f,
               CAST(round(ln((SELECT SUM(c * n_pieces) FROM ug_seg))
                          * 1e6, 0) AS BIGINT)
             - CAST(round(ln(nv) * 1e6, 0) AS BIGINT) AS cost_micro
        FROM (SELECT piece, SUM(c) AS nv
              FROM (SELECT c, unnest(string_split(pieces, ' ')) AS piece
                    FROM ug_seg)
              GROUP BY 1))"""
    parts = [refine] + _sql_viterbi_ctes("ug2_", "ug2_cost")
    return base + ",\n    " + ",\n    ".join(parts)


@register(
    "unigram_lm_segment",
    oracle=f"""
    {_sql_unigram_with()}
    SELECT word, c, n_pieces, cost_micro, pieces FROM ug_seg
    """,
    tags=("documents", "tokenizer"),
    doc="Unigram-LM tokenizer segmentation (the SentencePiece model, "
    "Kudo 2018): every distinct corpus word Viterbi-segmented under a "
    "frequency-seeded piece vocabulary (all single chars for coverage "
    f"+ top {ulm.VOCAB_MULTI} multi-char substrings), costs in exact "
    "integer micro-nats. The ENTIRE DP runs IN-ROW as one F.aggregate "
    "expression over the word's positions with the vocabulary shipped "
    "as a literal map (bounded driver state, the kmeans centroid-"
    "literal precedent): one map stage over the distinct-word table — "
    "no per-position joins, no iterative lineage, no shuffle after "
    "the one corpus-linear word count. array_min over (cost, np, bp) "
    "structs gives the same lexicographic tie-break the oracle's "
    "ORDER BY uses, so segmentations match bit-for-bit. "
    "operators/unigram_lm.py.",
)
def unigram_lm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    words = ulm.distinct_words(d)
    vocab = ulm.seed_vocab(words)
    return ulm.viterbi_segment(words, vocab)


@register(
    "unigram_lm_train",
    oracle=f"""
    {_sql_unigram_with()}
    SELECT v.piece, v.f AS f_seed,
           CAST(COALESCE(u.nv, 0) AS BIGINT) AS n_viterbi,
           CAST(COALESCE(u.nv, 0) AS DOUBLE)
             / CAST((SELECT SUM(c * n_pieces) FROM ug_seg) AS DOUBLE)
               AS p
    FROM ug_cost v LEFT JOIN (
        SELECT piece, SUM(c) AS nv
        FROM (SELECT c, unnest(string_split(pieces, ' ')) AS piece
              FROM ug_seg)
        GROUP BY 1) u USING (piece)
    """,
    tags=("documents", "tokenizer"),
    doc="The hard-EM M-step of unigram-LM training: per-piece Viterbi "
    "usage counts weighted by word frequency and the re-estimated "
    "unigram probability (single exact int→double division) — one "
    "full E+M round of the Kudo 2018 procedure, with pieces the "
    "Viterbi never uses kept at zero so pruning decisions are "
    "auditable. Everything downstream of the single corpus-linear "
    "word count is vocabulary-sized. operators/unigram_lm.py.",
)
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    words = ulm.distinct_words(d)
    vocab = ulm.seed_vocab(words)
    seg = ulm.viterbi_segment(words, vocab)
    return ulm.mstep_piece_stats(seg, vocab)


@register(
    "unigram_lm_refine",
    oracle=f"""
    {_sql_unigram_refined_with()}
    SELECT word, c, n_pieces, cost_micro, pieces FROM ug2_seg
    """,
    tags=("documents", "tokenizer"),
    doc="The SECOND EM round of unigram-LM training: the seed round's "
    "Viterbi usage counts re-estimate the piece costs (never-used "
    "pieces pruned — the Kudo vocabulary-shrink move; every word "
    "stays segmentable because its own round-1 segmentation "
    "survives), and the same in-row F.aggregate Viterbi re-segments "
    "every distinct word under the refined costs. Demonstrates the "
    "EM LOOP, not just one round — the oracle chains a second "
    "unrolled DP over the refined cost table. Same scale shape: one "
    "corpus pass, then vocabulary-sized work.",
)
def unigram_lm_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    words = ulm.distinct_words(d)
    vocab = ulm.seed_vocab(words)
    seg = ulm.viterbi_segment(words, vocab)
    vocab2 = ulm.refine_vocab(ulm.mstep_piece_stats(seg, vocab))
    return ulm.viterbi_segment(words, vocab2)


@register(
    "tokenizer_compare",
    oracle=f"""
    {_sql_bpe_with()},
    {_sql_unigram_refined_with()[5:]}
    SELECT 'bpe' AS tokenizer,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(SUM(n) AS BIGINT) AS n_word_occurrences,
           CAST(SUM(n * len(string_split(seg, ' '))) AS BIGINT)
               AS n_pieces_total,
           CAST(SUM(n * len(string_split(seg, ' '))) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) AS fertility
    FROM bpe_seg{bp.N_MERGES}
    UNION ALL
    SELECT 'unigram_lm' AS tokenizer,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c) AS BIGINT),
           CAST(SUM(c * n_pieces) AS BIGINT),
           CAST(SUM(c * n_pieces) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
    FROM ug_seg
    UNION ALL
    SELECT 'unigram_lm_r2' AS tokenizer,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c) AS BIGINT),
           CAST(SUM(c * n_pieces) AS BIGINT),
           CAST(SUM(c * n_pieces) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
    FROM ug2_seg
    """,
    tags=("documents", "tokenizer"),
    doc="Head-to-head tokenizer diagnostic: corpus fertility (weighted "
    "pieces per word) for the learned BPE vocabulary vs the unigram-LM "
    "vocabulary after EM rounds 1 and 2, each over its own training "
    "frame (BPE trains on all words; unigram excludes words longer "
    "than MAX_WORD_LEN — the trainers' own documented scopes). Exact "
    "integer totals, one int→double division per row; the oracle "
    "chains BOTH trainers' CTE pipelines. The standard 'which "
    "tokenizer is cheaper per word on MY corpus' question, answered "
    "in-engine with three vocabulary-sized pipelines after one corpus "
    "pass each.",
)
def tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    _, bpe_segs = bp.train_merges(d)
    n_pieces_bpe = F.size(F.split("seg", " "))
    bpe_row = bpe_segs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        F.sum("n").cast("bigint").alias("n_word_occurrences"),
        F.sum(F.col("n") * n_pieces_bpe).cast("bigint").alias(
            "n_pieces_total"
        ),
    ).select(
        F.lit("bpe").alias("tokenizer"),
        "n_distinct_words",
        "n_word_occurrences",
        "n_pieces_total",
        (
            F.col("n_pieces_total").cast("double")
            / F.col("n_word_occurrences").cast("double")
        ).alias("fertility"),
    )

    def _uni_row(seg: DataFrame, tag: str) -> DataFrame:
        return seg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
            F.sum("c").cast("bigint").alias("n_word_occurrences"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("bigint").alias(
                "n_pieces_total"
            ),
        ).select(
            F.lit(tag).alias("tokenizer"),
            "n_distinct_words",
            "n_word_occurrences",
            "n_pieces_total",
            (
                F.col("n_pieces_total").cast("double")
                / F.col("n_word_occurrences").cast("double")
            ).alias("fertility"),
        )

    words = ulm.distinct_words(d)
    vocab = ulm.seed_vocab(words)
    seg1 = ulm.viterbi_segment(words, vocab)
    vocab2 = ulm.refine_vocab(ulm.mstep_piece_stats(seg1, vocab))
    seg2 = ulm.viterbi_segment(words, vocab2)
    return bpe_row.unionByName(_uni_row(seg1, "unigram_lm")).unionByName(
        _uni_row(seg2, "unigram_lm_r2")
    )
