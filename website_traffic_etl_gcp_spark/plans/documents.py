"""§2D — Documents / text-analysis queries (LLM-data pipeline).

The dedup tiers' DuckDB oracles are machine-generated from the same
constants (shingle K, minhash K/bands, simhash bits) as the Spark
operators, so both sides share one spec. All hashing is md5-based —
identical across engines."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.texthash import normalize_text
from ..operators import dedup as dd
from ..operators import redact as _redact
from ..operators import textstats as ts
from ..sources import bucketing
from .registry import register

NGRAM_JACCARD_THRESHOLD = 0.8

# ---- shared DuckDB fragments (generated from the same spec) ------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
_MD5L = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_SQL_DOCS_NORM = f"SELECT doc_id, lang, source, n_chars, {_NORM} AS norm FROM documents"
_SQL_DOCS_SH = f"""
    SELECT doc_id, lang, n_chars,
           {ts.SQL_SHINGLES.format(toks='toks', norm='norm')} AS shingles
    FROM (SELECT doc_id, lang, n_chars, norm, string_split(norm, ' ') AS toks
          FROM ({_SQL_DOCS_NORM}))
"""


def _docs(spark, sf_dir) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---- exact / fingerprint ----------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5(norm) AS fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_id
    FROM ({_SQL_DOCS_NORM})
    GROUP BY 1
    """,
    tags=("documents", "dedup"),
    doc="Exact dedup: md5 of normalized text, hash-groupBy — one "
    "shuffle, map-side combinable. operators/dedup.py:exact_groups.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_groups(_docs(spark, sf_dir))


@register(
    "dedup_incremental_exact",
    oracle=f"""
    WITH fp AS (SELECT doc_id, md5(norm) AS fingerprint
                FROM ({_SQL_DOCS_NORM})),
    existing AS (
        SELECT fingerprint, MIN(doc_id) AS canonical_id
        FROM fp WHERE doc_id % 2 = 0 GROUP BY 1
    )
    SELECT n.doc_id, n.fingerprint,
           e.canonical_id,
           e.canonical_id IS NOT NULL AS is_dup_of_existing
    FROM fp n LEFT JOIN existing e USING (fingerprint)
    WHERE n.doc_id % 2 = 1
    """,
    tags=("documents", "dedup"),
    doc="Incremental ingest dedup — the production shape: an incoming "
    "batch (odd doc ids here) is checked against the EXISTING corpus's "
    "fingerprint index (even ids) instead of re-deduping the whole "
    "corpus per ingest. The index is PERSISTED as a bucketed table on "
    "fingerprint (operators/dedup_index.py, register-or-build) so the "
    "probe join runs with no exchange on the index side — only the "
    "batch shuffles into the bucket layout; "
    "tests/test_bucketing.py asserts the exchange-free plan.",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup_index as di

    fp = di.exact_fingerprints(_docs(spark, sf_dir))
    existing = fp.filter(F.col("doc_id") % 2 == 0)
    incoming = fp.filter(F.col("doc_id") % 2 == 1)
    table = bucketing.index_table_name("fp", sf_dir)
    di.ensure_exact_index(existing, table)
    return di.probe_exact_index(spark, incoming, table)


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(norm) AS fingerprint,
           n_chars // 100 AS len_bucket
    FROM ({_SQL_DOCS_NORM})
    """,
    tags=("documents",),
    doc="Per-doc md5 content fingerprint + coarse length bucket.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("fingerprint"),
        F.expr("n_chars div 100").alias("len_bucket"),
    )


# ---- token counting / quality / lang-id --------------------------------


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(regexp_extract_all({_NORM}, '[a-z0-9]+')) AS n_words
    FROM documents
    """,
    tags=("documents",),
    doc="Whitespace token count + regex word count, both JVM-side.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = normalize_text("text")
    return d.select(
        "doc_id",
        F.size(F.split(norm, " ")).cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit("[a-z0-9]+"), 0))
        .cast("bigint")
        .alias("n_words"),
    )


_SQL_QSCORE = f"""
    SELECT doc_id, n_chars_norm, n_tokens, n_stop, n_punct, n_digit,
           CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.4
             + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_norm AS DOUBLE)) * 0.3
             + (1.0 - CAST(n_digit AS DOUBLE) / CAST(n_chars_norm AS DOUBLE)) * 0.3
             AS quality_score
    FROM (
        SELECT doc_id,
               greatest(length(norm), 1) AS n_chars_norm,
               greatest(len(string_split(norm, ' ')), 1) AS n_tokens,
               {ts.sql_count_in_set("string_split(norm, ' ')", ts.STOPWORDS)} AS n_stop,
               length(regexp_replace(norm, '[^.,;:!?]', '', 'g')) AS n_punct,
               length(regexp_replace(norm, '[^0-9]', '', 'g')) AS n_digit
        FROM ({_SQL_DOCS_NORM})
    )
"""


@register(
    "text_quality_score",
    oracle=_SQL_QSCORE,
    tags=("documents",),
    doc="Composite quality score: stopword ratio (fluency proxy) + "
    "punctuation + digit density. Same closed-form on both engines — "
    "deterministic double arithmetic.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    norm = normalize_text("text")
    toks = F.split(norm, " ")
    base = d.select(
        "doc_id",
        F.greatest(F.length(norm), F.lit(1)).cast("bigint").alias("n_chars_norm"),
        F.greatest(F.size(toks), F.lit(1)).cast("bigint").alias("n_tokens"),
        ts.count_in_set(toks, ts.STOPWORDS).cast("bigint").alias("n_stop"),
        F.length(F.regexp_replace(norm, r"[^.,;:!?]", "")).cast("bigint").alias("n_punct"),
        F.length(F.regexp_replace(norm, r"[^0-9]", "")).cast("bigint").alias("n_digit"),
    )
    score = (
        F.col("n_stop").cast("double") / F.col("n_tokens").cast("double") * 0.4
        + (
            F.lit(1.0)
            - F.col("n_punct").cast("double") / F.col("n_chars_norm").cast("double")
        )
        * 0.3
        + (
            F.lit(1.0)
            - F.col("n_digit").cast("double") / F.col("n_chars_norm").cast("double")
        )
        * 0.3
    )
    return base.withColumn("quality_score", score)


@register(
    "quality_curriculum_buckets",
    oracle=f"""
    WITH qs AS (
        SELECT doc_id,
               CAST(round(quality_score * 1e6, 0) AS BIGINT) AS score_micro
        FROM ({_SQL_QSCORE})
    ),
    hist AS (SELECT score_micro, COUNT(*) AS cnt FROM qs GROUP BY 1),
    cum AS (
        SELECT score_micro,
               SUM(cnt) OVER (ORDER BY score_micro
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cume
        FROM hist
    ),
    tot AS (SELECT COUNT(*) AS n FROM qs),
    bounds AS (
        SELECT MIN(CASE WHEN cume >= (n + 3) // 4 THEN score_micro END) AS b25,
               MIN(CASE WHEN cume >= (n + 1) // 2 THEN score_micro END) AS b50,
               MIN(CASE WHEN cume >= (3 * n + 3) // 4 THEN score_micro END) AS b75
        FROM cum, tot
    )
    SELECT CASE WHEN score_micro <= b25 THEN 1
                WHEN score_micro <= b50 THEN 2
                WHEN score_micro <= b75 THEN 3
                ELSE 4 END AS curriculum_bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(score_micro) AS BIGINT) AS min_score_micro,
           CAST(MAX(score_micro) AS BIGINT) AS max_score_micro,
           CAST(SUM(score_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
               AS mean_score
    FROM qs, bounds
    GROUP BY 1
    """,
    tags=("documents", "selection"),
    doc="Quality-curriculum assignment: exact QUARTILE boundaries "
    "without a global sort. The double score is fixed to integer "
    "micro-units (round(q·1e6) — the family's micro determinism "
    "contract), so the score HISTOGRAM has ≤ 1e6+1 distinct values "
    "REGARDLESS of corpus size; boundaries come from a running sum "
    "over that bounded histogram (smallest score whose cumulative "
    "count ≥ ceil(p·n), all-integer ceil), then every doc is bucketed "
    "map-side against the broadcast 1-row boundary frame. This is how "
    "you do exact global order statistics at 100 TB: aggregate to a "
    "value-bounded histogram, never sort the corpus. (Curriculum "
    "training consumes the buckets low→high quality.)",
)
def quality_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality_score") * 1e6, 0).cast("bigint").alias(
            "score_micro"
        ),
    )
    hist = qs.groupBy("score_micro").agg(F.count(F.lit(1)).alias("cnt"))
    # single-partition running sum is safe HERE: the frame is bounded
    # at 1e6+1 rows by construction (micro scores of a [0,1] quantity)
    w = Window.orderBy("score_micro").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cume", F.sum("cnt").over(w))
    tot = qs.agg(F.count(F.lit(1)).alias("n"))
    bounds = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    F.col("cume") >= F.expr("(n + 3) div 4"), F.col("score_micro")
                )
            ).alias("b25"),
            F.min(
                F.when(
                    F.col("cume") >= F.expr("(n + 1) div 2"), F.col("score_micro")
                )
            ).alias("b50"),
            F.min(
                F.when(
                    F.col("cume") >= F.expr("(3 * n + 3) div 4"),
                    F.col("score_micro"),
                )
            ).alias("b75"),
        )
    )
    bucket = (
        F.when(F.col("score_micro") <= F.col("b25"), 1)
        .when(F.col("score_micro") <= F.col("b50"), 2)
        .when(F.col("score_micro") <= F.col("b75"), 3)
        .otherwise(4)
    )
    return (
        qs.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("curriculum_bucket"), "score_micro")
        .groupBy("curriculum_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score_micro").alias("min_score_micro"),
            F.max("score_micro").alias("max_score_micro"),
            (
                F.sum("score_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e6)
            ).alias("mean_score"),
        )
    )


def _sql_lang_pred() -> str:
    score = {
        lang: ts.sql_count_in_set(_TOKS, markers)
        for lang, markers in ts.LANG_MARKERS.items()
    }
    cases = []
    for lang in ts.LANG_PRIORITY[:-1]:
        conds = " AND ".join(
            f"({score[lang]}) >= ({score[o]})"
            for o in ts.LANG_PRIORITY
            if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{ts.LANG_PRIORITY[-1]}' END"


@register(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           {_sql_lang_pred()} AS pred_lang
    FROM documents
    """,
    tags=("documents",),
    doc="Marker-stopword language ID: per-language hit counts → "
    "fixed-priority argmax (deterministic under ties).",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    scores = ts.lang_scores("text")
    return d.select("doc_id", "lang", ts.predicted_lang(scores).alias("pred_lang"))


# ---- near-dup tiers ----------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_DOCS_SH}),
    bucketed AS (
        SELECT doc_id,
               lang || ':' || CAST(n_chars // 50 AS VARCHAR) AS bucket,
               shingles
        FROM sh
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM bucketed),
    ex AS (SELECT doc_id, bucket, unnest(shingles) AS shingle FROM bucketed),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b
          ON a.bucket = b.bucket AND a.shingle = b.shingle
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
          >= {NGRAM_JACCARD_THRESHOLD}
    """,
    tags=("documents", "dedup"),
    doc="Exact 3-gram Jaccard near-dup pairs via inverted-index "
    "self-join within (lang × length-band) buckets — candidate count "
    "is bounded by shared-shingle co-occurrence, never a cross join. "
    "This is the EXACT tier: posting lists are unbounded, so it's for "
    "small/curated corpora; at scale default to the df-capped tier "
    "(dedup_jaccard_dfcap), which everything downstream (clusters, "
    "ensemble) builds on. operators/dedup.py:ngram_jaccard_pairs.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    return dd.ngram_jaccard_pairs(d, bucket, NGRAM_JACCARD_THRESHOLD)


JACCARD_MAX_DF = 2


@register(
    "dedup_jaccard_dfcap",
    oracle=f"""
    WITH sh AS ({_SQL_DOCS_SH}),
    bucketed AS (
        SELECT doc_id,
               lang || ':' || CAST(n_chars // 50 AS VARCHAR) AS bucket,
               shingles
        FROM sh
    ),
    ex AS (SELECT doc_id, bucket, unnest(shingles) AS shingle FROM bucketed),
    kept AS (
        SELECT ex.doc_id, ex.bucket, ex.shingle
        FROM ex
        JOIN (SELECT bucket, shingle FROM ex
              GROUP BY 1, 2 HAVING COUNT(*) <= {JACCARD_MAX_DF}) rare
          USING (bucket, shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM kept a JOIN kept b
          ON a.bucket = b.bucket AND a.shingle = b.shingle
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
          >= {NGRAM_JACCARD_THRESHOLD}
    """,
    tags=("documents", "dedup"),
    doc=f"Jaccard near-dup pairs with a df cap ({JACCARD_MAX_DF}): "
    "shingles appearing in more docs than the cap are dropped before "
    "the inverted-index join, bounding every posting list — the "
    "worst-case join output goes from quadratic in corpus size to "
    "O(shingles × cap²). Score is exact Jaccard over the kept sets. "
    "operators/dedup.py:ngram_jaccard_pairs_dfcap.",
)
def dedup_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    return dd.ngram_jaccard_pairs_dfcap(
        d, bucket, NGRAM_JACCARD_THRESHOLD, JACCARD_MAX_DF
    )


CONTAINMENT_THRESHOLD = 0.9
CONTAINMENT_MAX_DF = 4


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sh AS ({_SQL_DOCS_SH}),
    ex AS (SELECT doc_id, lang AS bucket, unnest(shingles) AS shingle
           FROM sh),
    kept AS (
        SELECT ex.doc_id, ex.bucket, ex.shingle
        FROM ex
        JOIN (SELECT bucket, shingle FROM ex
              GROUP BY 1, 2 HAVING COUNT(*) <= {CONTAINMENT_MAX_DF}) rare
          USING (bucket, shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM kept a JOIN kept b
          ON a.bucket = b.bucket AND a.shingle = b.shingle
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_inter AS DOUBLE)
             / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE)
            / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)
          >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("documents", "dedup"),
    doc=f"Asymmetric containment near-dup pairs (quote/excerpt "
    "detection): shared-shingle inverted-index join within lang "
    f"buckets, df cap {CONTAINMENT_MAX_DF}, score = |A∩B| / min(|A|, "
    "|B|) over the capped sets — catches a short doc embedded in a "
    "long one, which symmetric Jaccard structurally misses (union "
    "dominated by the long doc). Lang-only buckets on purpose: the "
    "interesting pairs have very different lengths, so a length-band "
    "bucket would split them. operators/dedup.py:containment_pairs.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return dd.containment_pairs(
        d, F.col("lang"), CONTAINMENT_THRESHOLD, CONTAINMENT_MAX_DF
    )


def _sql_minhash_prefix() -> str:
    """Shared sh/ex/sigs/bands CTE prefix — the batch and incremental
    minhash oracles MUST be generated from one fragment or a constant
    tweak (prime, band separator) silently desynchronizes them."""
    base = _MD5L.format(x="shingle") + f" % {dd.MINHASH_PRIME}"
    mins = ", ".join(
        f"MIN(({dd._MINHASH_A[i]} * x + {dd._MINHASH_B[i]}) % {dd.MINHASH_PRIME})"
        f" AS h{i}"
        for i in range(dd.MINHASH_K)
    )
    rows = dd.MINHASH_K // dd.MINHASH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band_idx, md5({key}) AS band_key FROM sigs".format(
            j=j,
            key=" || '-' || ".join(
                f"CAST(h{j * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for j in range(dd.MINHASH_BANDS)
    )
    return f"""
    WITH sh AS ({_SQL_DOCS_SH}),
    ex AS (
        SELECT doc_id, {base} AS x
        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
    ),
    sigs AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
    bands AS ({band_selects})"""


def _sql_minhash() -> str:
    return f"""
    {_sql_minhash_prefix()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """


def _sql_incremental_minhash() -> str:
    agree = " + ".join(
        f"CASE WHEN n.h{i} = e.h{i} THEN 1 ELSE 0 END"
        for i in range(dd.MINHASH_K)
    )
    return f"""
    {_sql_minhash_prefix()},
    cand AS (
        SELECT DISTINCT i.doc_id AS doc_id, x.doc_id AS matched_id
        FROM bands i JOIN bands x
          ON i.band_idx = x.band_idx AND i.band_key = x.band_key
         AND i.doc_id % 2 = 1 AND x.doc_id % 2 = 0
    )
    SELECT c.doc_id, c.matched_id,
           CAST({agree} AS BIGINT) AS n_hash_agree,
           CAST({agree} AS DOUBLE) / {dd.MINHASH_K}.0 AS est_jaccard
    FROM cand c
    JOIN sigs n ON n.doc_id = c.doc_id
    JOIN sigs e ON e.doc_id = c.matched_id
    """


@register(
    "dedup_incremental_minhash",
    oracle=_sql_incremental_minhash(),
    tags=("documents", "dedup"),
    doc="Incremental NEAR-dup ingest: the incoming batch's (odd ids) "
    "minhash band keys probe the existing corpus's (even ids) band "
    "index — no self-join over the whole corpus per ingest. Candidates "
    "score est_jaccard = agreeing minhash fraction (exact rational, "
    "engine-portable). The corpus band index AND signatures are "
    "PERSISTED as bucketed tables (operators/dedup_index.py, "
    "register-or-build: band_id for the probe, doc_id for the "
    "scoring join), so both corpus-side joins run exchange-free; "
    "tests/test_bucketing.py asserts the plan.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup_index as di

    sigs = dd.minhash_signatures(_docs(spark, sf_dir)).persist()
    existing = sigs.filter(F.col("doc_id") % 2 == 0)
    incoming = sigs.filter(F.col("doc_id") % 2 == 1)
    bands_t = bucketing.index_table_name("mhbands", sf_dir)
    sigs_t = bucketing.index_table_name("mhsigs", sf_dir)
    di.ensure_minhash_index(existing, bands_t, sigs_t)
    return di.probe_minhash_index(spark, incoming, bands_t, sigs_t)


@register(
    "dedup_minhash_lsh",
    oracle=_sql_minhash(),
    tags=("documents", "dedup"),
    doc=f"MinHash({dd.MINHASH_K})+LSH({dd.MINHASH_BANDS} bands) candidate "
    "pairs. Signatures come from ONE groupBy over the shingle explode; "
    "banding makes shuffle O(docs × bands) regardless of pair count. "
    "operators/dedup.py:minhash_signatures/minhash_band_pairs.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signatures(_docs(spark, sf_dir))
    return dd.minhash_band_pairs(sigs)


def _sql_simhash() -> str:
    h = _MD5L.format(x="token")
    votes = ", ".join(
        f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(dd.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(dd.SIMHASH_BITS)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band_idx, "
        f"(simhash >> {dd.SIMHASH_BAND_WIDTH * j}) & {dd.SIMHASH_BAND_MASK}"
        " AS band_val FROM fps"
        for j in range(dd.SIMHASH_BANDS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(norm, ' '))) AS token
        FROM ({_SQL_DOCS_NORM})
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM tok),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes),
    bands AS ({bands})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {dd.SIMHASH_MAX_HAMMING}
    """


@register(
    "dedup_simhash",
    oracle=_sql_simhash(),
    tags=("documents", "dedup"),
    doc=f"SimHash({dd.SIMHASH_BITS}-bit) near-dup pairs, hamming ≤ "
    f"{dd.SIMHASH_MAX_HAMMING}, banded candidate generation (any pair "
    f"within the radius must share ≥1 of {dd.SIMHASH_BANDS} "
    f"{dd.SIMHASH_BAND_WIDTH}-bit bands). "
    "operators/dedup.py:simhash_fingerprints/simhash_near_pairs.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = dd.simhash_fingerprints(_docs(spark, sf_dir))
    return dd.simhash_near_pairs(fps).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


# ---- corpus statistics -------------------------------------------------


@register(
    "doc_stats_by_source",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avg_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    HAVING COUNT(*) >= 5
    """,
    tags=("documents",),
    doc="Per-source corpus profile with a HAVING floor — the shape of "
    "every 'which crawl sources are worth keeping' triage query.",
)
def doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (
                F.sum("n_chars").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .filter(F.col("n_docs") >= 5)
    )


@register(
    "top_bigrams",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
               generate_subscripts(string_split(norm, ' '), 1) AS pos
        FROM ({_SQL_DOCS_NORM})
    ),
    bigrams AS (
        SELECT a.token || ' ' || b.token AS bigram
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY COUNT(*) DESC, bigram
    LIMIT 25
    """,
    tags=("documents",),
    doc="Corpus-wide top-25 bigrams (with multiplicity): posexplode + "
    "lead window -> count -> deterministic (count, bigram) order. The "
    "n-gram frequency pass every tokenizer-training pipeline starts "
    "with.",
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        tok.withColumn("nxt", F.lead("token", 1).over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "token", "nxt").alias("bigram"))
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(25)
    )


@register(
    "lang_source_matrix",
    oracle=f"""
    SELECT source, pred_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           COUNT(*) FILTER (pred_lang = lang) AS n_label_agree
    FROM (
        SELECT source, lang, n_chars, {_sql_lang_pred()} AS pred_lang
        FROM documents
    )
    GROUP BY source, pred_lang
    """,
    tags=("documents",),
    doc="Corpus-composition matrix: per (source, predicted language) "
    "doc counts, total characters, and agreement with the labeled "
    "lang — the triage view a training-data pipeline uses to decide "
    "what to keep per source. Language ID runs inline (no second "
    "pass); one groupBy on two low-cardinality keys.",
)
def lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pred = ts.predicted_lang(ts.lang_scores("text"))
    return (
        d.select("source", "lang", "n_chars", pred.alias("pred_lang"))
        .groupBy("source", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
            F.count(F.when(F.col("pred_lang") == F.col("lang"), 1)).alias(
                "n_label_agree"
            ),
        )
    )


# Pair CTE for the downstream consumers (clusters, ensemble) — the
# DF-CAPPED tier, matching the Spark side: uncapped posting lists are
# the one dedup shape that degrades quadratically at 100 TB, so
# everything built ON TOP of jaccard pairs defaults to the cap. The
# standalone dedup_ngram_jaccard query remains the exact-all-shingles
# tier for small/curated corpora.
_SQL_JACCARD_PAIRS = f"""
    WITH sh AS ({_SQL_DOCS_SH}),
    bucketed AS (
        SELECT doc_id,
               lang || ':' || CAST(n_chars // 50 AS VARCHAR) AS bucket,
               shingles
        FROM sh
    ),
    ex AS (SELECT doc_id, bucket, unnest(shingles) AS shingle FROM bucketed),
    kept AS (
        SELECT ex.doc_id, ex.bucket, ex.shingle
        FROM ex
        JOIN (SELECT bucket, shingle FROM ex
              GROUP BY 1, 2 HAVING COUNT(*) <= {JACCARD_MAX_DF}) rare
          USING (bucket, shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM kept a JOIN kept b
          ON a.bucket = b.bucket AND a.shingle = b.shingle
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
          >= {NGRAM_JACCARD_THRESHOLD}
"""


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS}),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    closure(a, b) AS (
        SELECT doc_a, doc_a FROM edges
        UNION
        SELECT c.a, e.doc_b
        FROM closure c JOIN edges e ON c.b = e.doc_a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id
    FROM closure GROUP BY a
    """,
    tags=("documents", "dedup"),
    doc="Duplicate-cluster formation: connected components over the "
    "jaccard near-dup pair graph via alternating large-star/small-star "
    "(O(log n) rounds regardless of component diameter; lineage "
    "truncated per round, loud failure on round exhaustion). The "
    "keep/drop decision of a dedup pipeline happens per CLUSTER, not "
    "per pair — keep cluster_id, drop the rest. Oracle is a "
    "recursive-CTE transitive closure. "
    "operators/dedup.py:connected_components.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    )
    return dd.connected_components(pairs)


@register(
    "dedup_keep_list",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS}),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    closure(a, b) AS (
        SELECT doc_a, doc_a FROM edges
        UNION
        SELECT c.a, e.doc_b
        FROM closure c JOIN edges e ON c.b = e.doc_a
    ),
    clusters AS (
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM closure GROUP BY a
    ),
    assigned AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM assigned GROUP BY 1
    )
    SELECT f.doc_id, f.cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           f.doc_id = f.cluster_id AS keep
    FROM assigned f JOIN sizes s USING (cluster_id)
    """,
    tags=("documents", "dedup"),
    doc="The dedup pipeline's end deliverable — a removal MANIFEST over "
    "the whole corpus: every doc's cluster id (singletons are their own "
    "cluster), the cluster size, and the keep verdict (canonical = "
    "cluster minimum). Plan: clusters from the near-dup graph "
    "(log-round connected components) left-joined back onto the corpus "
    "id scan — the join is on doc_id, and cluster rows exist only for "
    "docs that appeared in a pair, so the big side streams through "
    "once. Downstream training-data jobs anti-join this manifest on "
    "keep = false.",
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    )
    # sizes are attached to the CLUSTERS frame (only docs that appear
    # in a pair — a small fraction of the corpus) BEFORE the corpus
    # join, so the corpus is shuffled once (on doc_id) instead of
    # twice (a window count over cluster_id re-shuffled the whole
    # manifest; at 100 TB that second corpus-wide exchange dominates).
    # Singletons never enter any join state: coalesce to size 1.
    clusters = dd.connected_components(pairs).persist()  # feeds the size aggregate AND the corpus join
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    enriched = clusters.join(sizes, "cluster_id")
    return (
        d.select("doc_id")
        .join(enriched, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias(
                "cluster_size"
            ),
            (
                F.coalesce("cluster_id", F.col("doc_id")) == F.col("doc_id")
            ).alias("keep"),
        )
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS}),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    closure(a, b) AS (
        SELECT doc_a, doc_a FROM edges
        UNION
        SELECT c.a, e.doc_b
        FROM closure c JOIN edges e ON c.b = e.doc_a
    ),
    clusters AS (
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM closure GROUP BY a
    ),
    q AS (
        SELECT c.doc_id, c.cluster_id, d.n_chars
        FROM clusters c JOIN documents d USING (doc_id)
    ),
    best AS (
        SELECT cluster_id, COUNT(*) AS cluster_size,
               MAX(n_chars) AS qmax
        FROM q GROUP BY 1
    ),
    canon AS (
        SELECT q.cluster_id, MIN(q.doc_id) AS best_id
        FROM q JOIN best b
          ON q.cluster_id = b.cluster_id AND q.n_chars = b.qmax
        GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           CAST(COALESCE(b.cluster_size, 1) AS BIGINT) AS cluster_size,
           COALESCE(cn.best_id, d.doc_id) AS best_id,
           d.doc_id = COALESCE(cn.best_id, d.doc_id) AS keep
    FROM documents d
    LEFT JOIN clusters c ON c.doc_id = d.doc_id
    LEFT JOIN best b ON b.cluster_id = c.cluster_id
    LEFT JOIN canon cn ON cn.cluster_id = c.cluster_id
    """,
    tags=("documents", "dedup"),
    doc="Quality-weighted removal manifest: same near-dup clusters as "
    "dedup_keep_list, but the canonical survivor is the cluster's "
    "BEST document — longest n_chars, ties to the smaller doc_id — "
    "not its smallest id. This is what production dedup actually "
    "ships (keep the richest duplicate, drop the truncated scrapes); "
    "any per-doc quality column drops in for n_chars unchanged. The "
    "argmax is one integer struct-max per cluster on the SMALL "
    "clustered-docs frame (quality joined before the corpus-wide "
    "manifest join, so the corpus still shuffles exactly once, on "
    "doc_id — the keep_list scale shape).",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    )
    clusters = dd.connected_components(pairs).persist()  # feeds the argmax aggregate AND the corpus join
    withq = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    best = (
        withq.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("q"),
                    (-F.col("doc_id")).alias("nid"),
                )
            ).alias("b"),
        )
        .select(
            "cluster_id",
            "cluster_size",
            (-F.col("b.nid")).cast("bigint").alias("best_id"),
        )
    )
    enriched = clusters.join(best, "cluster_id")
    return (
        d.select("doc_id")
        .join(enriched, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias(
                "cluster_size"
            ),
            F.coalesce("best_id", F.col("doc_id")).alias("best_id"),
            (
                F.col("doc_id") == F.coalesce("best_id", F.col("doc_id"))
            ).alias("keep"),
        )
    )


@register(
    "top_terms_tfidf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token
        FROM ({_SQL_DOCS_NORM})
    ),
    filtered AS (SELECT * FROM tok WHERE length(token) >= 3),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM filtered GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df
        FROM filtered GROUP BY token
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM filtered),
    scored AS (
        SELECT tf.doc_id, tf.token,
               CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)
                   AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE)
                                / CAST(df.df AS DOUBLE) DESC,
                            tf.token
               ) AS rnk
        FROM tf JOIN df USING (token), n
    )
    SELECT doc_id, token, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM scored WHERE rnk <= 3
    """,
    tags=("documents",),
    doc="Top-3 characteristic terms per doc by rational TF-IDF "
    "(tf × N / df — a log-free monotone transform of classic idf; "
    "ln() is not bit-identical across engines' libm, exact-int "
    "ratios are). Two aggregations over one token explode; the "
    "df side is token-keyed and broadcastable at any corpus size "
    "where the vocabulary fits (cap or hash otherwise).",
)
def top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("token"),
    ).filter(F.length("token") >= 3)
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tok.select(F.countDistinct("doc_id").alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast(
        "double"
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "token", score.alias("tfidf"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "bigram_next_token_prob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
               generate_subscripts(string_split(norm, ' '), 1) AS pos
        FROM ({_SQL_DOCS_NORM})
    ),
    bi AS (
        SELECT a.token AS w1, b.token AS w2, COUNT(*) AS c12
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    uni AS (SELECT w1, SUM(c12) AS c1 FROM bi GROUP BY w1)
    SELECT w1, w2, c12,
           CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_next
    FROM bi JOIN uni USING (w1)
    ORDER BY c12 DESC, w1, w2
    LIMIT 20
    """,
    tags=("documents",),
    doc="Bigram language-model counts: P(w2 | w1) = c(w1 w2) / c(w1·) "
    "for the 20 most frequent bigrams — the conditional-probability "
    "table an n-gram LM or tokenizer-merge step consumes. The "
    "denominator reuses the bigram counts (one explode, two "
    "aggregations); exact-int division to double on both engines.",
)
def bigram_next_token_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        tok.withColumn("w2", F.lead("token", 1).over(w))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("token").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    uni = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        bi.join(uni, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            (F.col("c12").cast("double") / F.col("c1").cast("double")).alias(
                "p_next"
            ),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )


# Per-source sampling rates (percent) — the "training mix" config.
# Machine-generates both the Spark CASE and the SQL CASE from one spec.
SAMPLE_RATES = {f"src{i}": 80 for i in range(5)}
SAMPLE_RATES.update({f"src{i}": 40 for i in range(5, 10)})
SAMPLE_RATE_DEFAULT = 10


def _sql_rate_case() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE {SAMPLE_RATE_DEFAULT} END"


@register(
    "stratified_sample_mix",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (
               {_MD5L.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} % 100
               < {_sql_rate_case()}
           ) AS n_sampled,
           CAST(COUNT(*) FILTER (
               {_MD5L.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} % 100
               < {_sql_rate_case()}
           ) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS realized_rate
    FROM documents
    GROUP BY source
    """,
    tags=("documents", "sampling"),
    doc="Deterministic stratified sampling for training-mix "
    "construction: keep a doc iff md5('sample:'||id) mod 100 < its "
    "source's configured rate. Hash sampling (not rand()) means the "
    "same mix reproduces on every rerun, any cluster size, either "
    "engine — the property a reproducible data pipeline needs — and "
    "the salt prefix decorrelates this decision from every other "
    "hash use of the same ids. Pure map-side filter: no shuffle "
    "beyond the reporting aggregation.",
)
def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import md5_long

    d = _docs(spark, sf_dir)
    rate = F.lit(SAMPLE_RATE_DEFAULT)
    for s, r in reversed(list(SAMPLE_RATES.items())):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    keep = (
        md5_long(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
        % 100
        < rate
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(keep, 1)).alias("n_sampled"),
        (
            F.count(F.when(keep, 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("realized_rate"),
    )


@register(
    "dedup_ensemble_pairs",
    oracle=f"""
    SELECT doc_a, doc_b, 'jaccard' AS tier
    FROM ({_SQL_JACCARD_PAIRS})
    UNION ALL
    SELECT doc_a, doc_b, 'minhash' AS tier
    FROM ({_sql_minhash()})
    UNION ALL
    SELECT doc_a, doc_b, 'simhash' AS tier
    FROM ({_sql_simhash()})
    """,
    tags=("documents", "dedup"),
    doc="Ensemble near-dup candidates: the union of all three tiers "
    "(exact Jaccard, MinHash-LSH, SimHash) in long form with tier "
    "provenance — the review table a dedup pipeline actually "
    "consumes, where agreement across tiers raises confidence and "
    "single-tier hits get a second look. Pure composition of the "
    "registered operators (jaccard via the scale-safe df-capped "
    "tier); no new shuffle shape.",
)
def dedup_ensemble_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    jac = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    ).select("doc_a", "doc_b", F.lit("jaccard").alias("tier"))
    mh = dd.minhash_band_pairs(dd.minhash_signatures(d)).select(
        "doc_a", "doc_b", F.lit("minhash").alias("tier")
    )
    sh = dd.simhash_near_pairs(dd.simhash_fingerprints(d)).select(
        "doc_a", "doc_b", F.lit("simhash").alias("tier")
    )
    return jac.unionByName(mh).unionByName(sh)


# ---- decontamination / repetition quality ------------------------------

_SQL_SH_BY_SOURCE = f"""
    SELECT doc_id, source,
           {ts.SQL_SHINGLES.format(toks='toks', norm='norm')} AS shingles
    FROM (SELECT doc_id, source, norm, string_split(norm, ' ') AS toks
          FROM ({_SQL_DOCS_NORM}))
"""

EVAL_SOURCE = "src0"


@register(
    "decontaminate_eval_overlap",
    oracle=f"""
    WITH sh AS ({_SQL_SH_BY_SOURCE}),
    ev AS (SELECT DISTINCT unnest(shingles) AS shingle
           FROM sh WHERE source = '{EVAL_SOURCE}'),
    tr AS (SELECT doc_id, unnest(shingles) AS shingle
           FROM sh WHERE source <> '{EVAL_SOURCE}'),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
            FROM tr GROUP BY doc_id),
    hit AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
    SELECT t.doc_id, h.n_overlap, t.n_shingles,
           CAST(h.n_overlap AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
               AS overlap_ratio
    FROM hit h JOIN tot t ON h.doc_id = t.doc_id
    """,
    tags=("documents", "dedup"),
    doc="Benchmark decontamination (GPT-3/Pile style): training docs "
    f"sharing any word-{ts.SHINGLE_K}-gram with the eval set "
    f"(source='{EVAL_SOURCE}'), with overlap counts and ratio for "
    "thresholded removal. The eval shingle set is tiny relative to the "
    "corpus — built once, broadcast into the training-side explode, so "
    "the scan of the 100 TB side is a single pass with no shuffle for "
    "the probe. operators/textstats.py:exploded_shingles.",
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    ev_sh = (
        ts.exploded_shingles(d.filter(F.col("source") == EVAL_SOURCE))
        .select("shingle")
        .distinct()
    )
    # the explode dominates cost and feeds BOTH the size aggregate and
    # the probe join; materialize it once (same pattern as
    # operators/dedup.py ngram_jaccard_pairs) instead of running the
    # explode twice.
    tr_sh = ts.exploded_shingles(
        d.filter(F.col("source") != EVAL_SOURCE)
    ).persist()
    tot = tr_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return hit.join(tot, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_shingles",
        (
            F.col("n_overlap").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("overlap_ratio"),
    )


@register(
    "doc_repetition_score",
    oracle=f"""
    WITH big AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM (SELECT doc_id, string_split(norm, ' ') AS toks
              FROM ({_SQL_DOCS_NORM}))
        WHERE len(toks) >= 2),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c
            FROM big GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT) AS top_bigram_count,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
    FROM cnt GROUP BY doc_id
    """,
    tags=("documents",),
    doc="Gopher-style repetition quality signal: share of a doc's "
    "bigrams taken by its single most frequent bigram (high share = "
    "boilerplate/spam). Two cascaded aggregations on the same doc_id "
    "key — the second reuses the first's partitioning, so one shuffle "
    "total after the token explode.",
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cnt = (
        tok.withColumn("nxt", F.lead("token", 1).over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "token", "nxt").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_count"),
        F.sum("c").alias("n_bigrams"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias("top_share"),
    )


# ---- PII redaction / packing / repetition (pretraining scrub ops) ------

# The synthetic corpus carries no PII, so (like the ETL suite's planted
# corrupt dates) a deterministic slice of docs gets emails + long digit
# runs APPENDED on both engines; the redaction operator itself is
# generic. doc_id % 14 docs get two of each — counts > 1 are exercised.
_SQL_PII_TEXT = """
    SELECT doc_id,
           CASE WHEN doc_id % 14 = 0 THEN text
                     || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com and admin@example.org ref 12345678 id 0012345 tail'
                WHEN doc_id % 7 = 0 THEN text
                     || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com ref 12345678 tail'
                ELSE text END AS text
    FROM documents
"""


def _pii_planted(d: DataFrame) -> DataFrame:
    did = F.col("doc_id").cast("string")
    return d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 14 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did,
                F.lit(
                    "@example.com and admin@example.org ref 12345678 id 0012345 tail"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did,
                F.lit("@example.com ref 12345678 tail"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


# the SQL twin references the exact same pattern constants as the
# operator (imported, not re-typed), so the two sides cannot drift
_EMAIL_SQL = _redact.EMAIL_RE
_DIGITS_SQL = _redact.LONG_DIGITS_RE
_SQL_NO_EMAIL = f"regexp_replace(text, '{_EMAIL_SQL}', '<EMAIL>', 'g')"
_SQL_REDACTED = (
    f"regexp_replace({_SQL_NO_EMAIL}, '{_DIGITS_SQL}', '<ID>', 'g')"
)


@register(
    "pii_redact_report",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_SQL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all({_SQL_NO_EMAIL}, '{_DIGITS_SQL}'))
               AS BIGINT) AS n_ids,
           CAST(length({_SQL_REDACTED}) AS INT) AS redacted_len,
           md5({_SQL_REDACTED}) AS redacted_md5
    FROM ({_SQL_PII_TEXT})
    """,
    tags=("documents", "redaction"),
    doc="PII scrub report: per-doc email / long-digit-run hit counts, "
    "redacted length, and the md5 of the fully redacted text (pins the "
    "exact redaction output cross-engine without shipping it). "
    "Patterns live in the Java-regex ∩ RE2 portable subset. Map-only "
    "pass — no shuffle, no UDF; at 100 TB this reads and rewrites each "
    "split once. operators/redact.py:redact_pii.",
)
def pii_redact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.redact import redact_pii

    return redact_pii(_pii_planted(_docs(spark, sf_dir)))


PACK_CAP_TOKENS = 512


CHUNK_SIZE_TOKENS = 32
CHUNK_STRIDE_TOKENS = 24

# shared chunking CTE (both chunk oracles MUST use the same fragment —
# the chunk_hash join key means nothing if the two drift): aligned
# starts at the stride, PLUS a clamped final start n-size+1 so the doc
# tail is always covered (a 70-token doc yields starts 1, 25, 39 — the
# aligned-only form dropped tokens 57-70 entirely). chunk_idx is the
# ceil of (s-1)/stride: aligned starts keep their ordinal, the clamped
# tail start lands strictly between two aligned ordinals and takes the
# upper one (which cannot itself be an aligned start, else the clamp
# would equal it and dedup).
_SQL_CHUNKS = f"""
    WITH toks AS (
        SELECT doc_id, string_split(norm, ' ') AS t,
               CAST(len(string_split(norm, ' ')) AS BIGINT) AS n
        FROM ({_SQL_DOCS_NORM})
    ),
    starts AS (
        SELECT doc_id, t, n,
               unnest(CASE WHEN n >= {CHUNK_SIZE_TOKENS}
                           THEN list_distinct(list_append(
                               range(1, n - {CHUNK_SIZE_TOKENS} + 2,
                                     {CHUNK_STRIDE_TOKENS}),
                               n - {CHUNK_SIZE_TOKENS} + 1))
                           ELSE [1] END) AS s
        FROM toks
    ),
    chunks AS (
        SELECT doc_id,
               CAST(s AS BIGINT) AS chunk_start,
               CAST((s - 1 + {CHUNK_STRIDE_TOKENS - 1})
                    // {CHUNK_STRIDE_TOKENS} AS BIGINT) AS chunk_idx,
               CAST(least(n - s + 1, {CHUNK_SIZE_TOKENS}) AS BIGINT)
                   AS chunk_tokens,
               md5(array_to_string(
                   list_slice(t, s, s + {CHUNK_SIZE_TOKENS} - 1), ' '
               )) AS chunk_hash
        FROM starts
    )
"""


def chunk_stream(d: DataFrame) -> DataFrame:
    """The chunk stream over any (doc_id, text) frame: one row per
    context window with its 1-based token start position, ordinal,
    token count, and content hash. Map-only — sequence + explode +
    slice, no shuffle."""
    toks = F.split(normalize_text("text"), " ")
    base = d.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("bigint").alias("n")
    )
    last_start = (F.col("n") - CHUNK_SIZE_TOKENS + 1).cast("int")
    starts = F.when(
        F.col("n") >= CHUNK_SIZE_TOKENS,
        F.array_distinct(
            F.concat(
                F.sequence(
                    F.lit(1), last_start, F.lit(CHUNK_STRIDE_TOKENS)
                ),
                F.array(last_start),
            )
        ),
    ).otherwise(F.array(F.lit(1)))
    return (
        base.select("doc_id", "t", "n", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.col("s").cast("bigint").alias("chunk_start"),
            F.expr(
                f"(s - 1 + {CHUNK_STRIDE_TOKENS - 1}) div "
                f"{CHUNK_STRIDE_TOKENS}"
            )
            .cast("bigint")
            .alias("chunk_idx"),
            F.least(
                F.col("n") - F.col("s") + 1, F.lit(CHUNK_SIZE_TOKENS)
            )
            .cast("bigint")
            .alias("chunk_tokens"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("t"), F.col("s"), CHUNK_SIZE_TOKENS)
                )
            ).alias("chunk_hash"),
        )
    )


@register(
    "doc_chunk_windows",
    oracle=f"""
    {_SQL_CHUNKS}
    SELECT doc_id, chunk_idx, chunk_tokens, chunk_hash FROM chunks
    """,
    tags=("documents", "packing"),
    doc=f"Context-window chunking: each doc splits into "
    f"{CHUNK_SIZE_TOKENS}-token windows at stride "
    f"{CHUNK_STRIDE_TOKENS} (overlap "
    f"{CHUNK_SIZE_TOKENS - CHUNK_STRIDE_TOKENS}); docs shorter than "
    "one window yield a single whole-doc chunk. Map-only plan — "
    "sequence + explode + slice, no shuffle at any SF — emitting the "
    "chunk's token count and content hash (the dedup/join key "
    "downstream chunk-level pipelines use).",
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_stream(_docs(spark, sf_dir)).drop("chunk_start")


HASH_EMBED_DIM = 64
RAG_PROBE_MOD = 97
# probes come only from the first RAG_PROBE_DOC_CAP docs — a
# FIXED-SIZE probe set, so ground-truth cost is O(corpus), never
# O(corpus × corpus/mod) (the round-5 brute-force scale lesson; the
# embeddings tiers pin theirs the same way via _probe_filter)
RAG_PROBE_DOC_CAP = 2000


def chunk_hash_embeddings(d: DataFrame) -> DataFrame:
    """(vec_id, embedding): every context window embedded as an
    L2-normalized ``HASH_EMBED_DIM``-bucket hashed bag-of-words vector
    (feature hashing, Weinberger et al. ICML'09 — a real, public,
    model-free text embedding; a learned encoder slots in behind the
    same schema). vec_id = doc_id·10⁶ + chunk_start.

    r15 kernel: chunk embedding is a strictly per-doc computation,
    yet the explode + two token-cardinality groupBys shuffled ~1.33
    md5'd rows per corpus token TWICE (feature counts, per-chunk
    fold) — the dominant term of rag_chunk_ann_pipeline's uncached
    cost (110 of each arm's ~98 s at sf10; each token also paid its
    md5 once per overlapping chunk). This runs the identical
    arithmetic in ONE ``mapInArrow`` pass with ZERO shuffle (the
    winnow/CDC kernel pattern, operators/fingerprint.py): each doc
    token md5s ONCE (byte slices of the normalized doc — bit-identical
    to the JVM md5 → 15-hex prefix mod dim), chunk bucket counts come
    from one flat bincount over (chunk, bucket) pairs, and the L2
    normalization accumulates x·x left-to-right over ascending
    dimensions exactly like the higher-order-function form it
    replaces (integer counts are float64-exact, so the quotients are
    bit-identical; test-pinned against the HOF reference)."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    dim = HASH_EMBED_DIM
    size, stride = CHUNK_SIZE_TOKENS, CHUNK_STRIDE_TOKENS

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            norm = batch.column("norm")
            norm = (
                norm.combine_chunks()
                if isinstance(norm, pa.ChunkedArray)
                else norm
            )
            if norm.null_count:
                raise ValueError("null text in chunk-embed kernel")
            toks = pc.split_pattern(norm, " ")
            toks = (
                toks.combine_chunks()
                if isinstance(toks, pa.ChunkedArray)
                else toks
            )
            t_offs = np.frombuffer(toks.buffers()[1], dtype=np.int32)[
                toks.offset : toks.offset + len(toks) + 1
            ].astype(np.int64)
            t_offs = t_offs - t_offs[0]  # flat-relative token indices
            flat = toks.flatten()
            f_offs = np.frombuffer(flat.buffers()[1], dtype=np.int32)[
                flat.offset : flat.offset + len(flat) + 1
            ].astype(np.int64)
            n_tok = t_offs[1:] - t_offs[:-1]  # tokens per doc (>=1)
            # one md5 per DOC TOKEN (the HOF form paid one per
            # chunk-membership, ~size/stride ×): each token is a byte
            # slice of the flattened token buffer (f_offs index THAT
            # buffer, not norm's) — md5 first 15 hex chars = first 60
            # bits of the digest, then mod dim
            f_buf = flat.buffers()[2]
            f_data = (
                np.frombuffer(f_buf, dtype=np.uint8)
                if f_buf is not None
                else np.empty(0, np.uint8)
            )
            mv = memoryview(f_data)
            md5 = hashlib.md5
            buckets = np.fromiter(
                (
                    (
                        int.from_bytes(md5(mv[ai:bi]).digest()[:8], "big")
                        >> 4
                    )
                    % dim
                    for ai, bi in zip(f_offs[:-1], f_offs[1:])
                ),
                dtype=np.int64,
                count=len(f_offs) - 1,
            )
            # chunk starts per doc: sequence(1, n-size+1, stride) ∪
            # {n-size+1} distinct for n ≥ size, else the single
            # whole-doc chunk at start 1 — exactly the HOF `starts`
            last = np.maximum(n_tok - size + 1, 1)  # last start, 1-based
            n_seq = (last - 1) // stride + 1  # sequence(1,last,stride)
            extra = ((last - 1) % stride != 0) & (n_tok >= size)
            n_ch = n_seq + extra  # chunks per doc
            ch_doc = np.repeat(np.arange(len(doc_ids), dtype=np.int64), n_ch)
            ch_first = np.cumsum(n_ch) - n_ch
            ch_i = np.arange(len(ch_doc), dtype=np.int64) - ch_first[ch_doc]
            # start of chunk i: 1 + i·stride, except the appended tail
            # start (i == n_seq) which is `last`
            starts = np.where(
                ch_i < n_seq[ch_doc], 1 + ch_i * stride, last[ch_doc]
            )
            lens = np.minimum(n_tok[ch_doc] - starts + 1, size)
            # flat (chunk, bucket) pairs → one bincount = the two
            # groupBys of the HOF form (exact integer counts)
            tok0 = t_offs[:-1][ch_doc] + starts - 1  # first token idx
            total = int(lens.sum())
            cum = np.cumsum(lens) - lens
            ragged = np.arange(total, dtype=np.int64) - np.repeat(cum, lens)
            flat_tok = np.repeat(tok0, lens) + ragged
            pair_keys = (
                np.repeat(np.arange(len(ch_doc), dtype=np.int64), lens) * dim
                + buckets[flat_tok]
            )
            counts = (
                np.bincount(pair_keys, minlength=len(ch_doc) * dim)
                .reshape(len(ch_doc), dim)
                .astype(np.float64)
            )
            # L2 normalize with the HOF's exact accumulation order:
            # sq = fold over ascending dims of (acc + x·x)
            sq = np.zeros(len(ch_doc))
            for i in range(dim):
                sq += counts[:, i] * counts[:, i]
            unit = counts / np.sqrt(sq)[:, None]
            vec_ids = doc_ids[ch_doc] * 1000000 + starts
            offsets = np.arange(len(ch_doc) + 1, dtype=np.int32) * dim
            emb = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(unit.ravel(), pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(vec_ids, pa.int64()), emb],
                names=["vec_id", "embedding"],
            )

    src = widen_narrow_input(
        d, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(
        F.col("doc_id"), normalize_text("text").alias("norm")
    )
    return src.mapInArrow(fn, "vec_id bigint, embedding array<double>")


@register(
    "rag_chunk_ann_pipeline",
    oracle=f"""
    {_SQL_CHUNKS}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (
               (doc_id * 1000000 + chunk_start) % {RAG_PROBE_MOD} = 0
               AND doc_id < {RAG_PROBE_DOC_CAP}
           ) AS BIGINT) AS n_queries,
           TRUE AS coverage_ok,
           TRUE AS k_bound_ok,
           TRUE AS recall_ok
    FROM chunks
    """,
    tags=("documents", "embeddings", "similarity"),
    doc="End-to-end RAG-ingest pipeline in one plan: documents chunk "
    "into context windows (the shared chunking fragment), every chunk "
    "embeds as an L2-normalized hashed bag-of-words vector (feature "
    "hashing — model-free, so the pipeline is self-contained; a "
    "learned encoder slots in behind the same (vec_id, embedding) "
    "schema), the chunk corpus indexes under random-hyperplane LSH, "
    "and a deterministic probe slice answers top-5 with recall "
    "measured against brute force over the SAME chunk embeddings "
    "(0.6-0.9 across SFs vs the 0.3 floor). Every stage is "
    "corpus-linear: map-only chunking, two map-side-combinable "
    "feature shuffles, one bucket shuffle for the index — the "
    "text→chunks→vectors→index→query path a retrieval corpus runs at "
    "100 TB. Oracle recomputes chunk/probe counts exactly; the ANN "
    "quality rides the family's error-bound verdict.",
)
def rag_chunk_ann_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as sim
    from .embeddings import KNN_K, _ann_verdict

    emb = chunk_hash_embeddings(_docs(spark, sf_dir)).persist()
    q = emb.filter(
        (F.col("vec_id") % RAG_PROBE_MOD == 0)
        & (F.col("vec_id") < RAG_PROBE_DOC_CAP * 1000000)
    )
    approx = sim.lsh_topk(emb, q, KNN_K, HASH_EMBED_DIM)
    exact = sim.brute_force_topk(emb, q, KNN_K).persist()
    n_chunks = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    return (
        _ann_verdict(approx, exact, q)
        .crossJoin(F.broadcast(n_chunks))
        .select(
            "n_chunks", "n_queries", "coverage_ok", "k_bound_ok",
            "recall_ok",
        )
    )


@register(
    "chunk_boilerplate_report",
    oracle=f"""
    {_SQL_CHUNKS}
    SELECT chunk_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_doc_id
    FROM chunks
    GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("documents", "dedup", "packing"),
    doc="Boilerplate spans: chunk hashes recurring across ≥2 docs "
    "(headers, navigation, license blocks — the repeated spans "
    "C4/RefinedWeb-style pipelines strip before training). One "
    "hash-groupBy over the map-only chunk stream; map-side combine "
    "keeps the shuffle at distinct-hash cardinality.",
)
def chunk_boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = doc_chunk_windows(spark, sf_dir)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "dedup_span_manifest",
    oracle=f"""
    {_SQL_CHUNKS},
    boiler AS (
        SELECT chunk_hash, MIN(doc_id) AS first_doc_id
        FROM chunks GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT c.doc_id, c.chunk_start AS s,
               c.chunk_start + c.chunk_tokens - 1 AS e
        FROM chunks c JOIN boiler b USING (chunk_hash)
        WHERE c.doc_id <> b.first_doc_id
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM flagged
    ),
    grp AS (
        SELECT doc_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM isl
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens,
           COUNT(*) AS n_chunks,
           'chunk_in_ge_2_docs' AS reason
    FROM grp GROUP BY doc_id, island
    """,
    tags=("documents", "dedup", "packing"),
    doc="Substring-level dedup manifest (Lee et al. 'Deduplicating "
    "Training Data'): per-doc (span_start, span_end, reason) token "
    "ranges to CUT — chunks repeated across ≥2 docs, with the "
    "smallest-id doc keeping the canonical copy, merged into maximal "
    "spans per doc by gaps-and-islands over chunk offsets. One "
    "hash-groupBy + one hash join + per-doc windows (partitions "
    "bounded by doc length) — no step concentrates load at 100 TB. "
    "operators/dedup.py:boilerplate_span_manifest.",
)
def dedup_span_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.boilerplate_span_manifest(
        chunk_stream(_docs(spark, sf_dir)), min_docs=2
    )


@register(
    "doc_pack_bins",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
        FROM ({_SQL_DOCS_NORM})
    ),
    off AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tokens AS BIGINT) AS stream_offset
        FROM toks
    )
    SELECT source,
           CAST(stream_offset // {PACK_CAP_TOKENS} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc_id
    FROM off GROUP BY 1, 2
    """,
    tags=("documents", "packing"),
    doc=f"Concat-and-chunk sequence packing into {PACK_CAP_TOKENS}-token "
    "context windows: each doc's stream offset is the prefix token sum "
    "of its pack group (source), bin = offset div cap — exactly the "
    "concat-then-cut layout a pretraining tokenizer writer produces, "
    "rolled up to per-bin fill stats. One window + one groupBy, both "
    "keyed on the pack group; shard hot groups upstream to bound the "
    "window partition at 100 TB. Integer math throughout. "
    "operators/packing.py:pack_offsets/pack_bins.",
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_bins, pack_offsets

    d = _docs(spark, sf_dir)
    n_tok = F.size(F.split(normalize_text("text"), " "))
    return pack_bins(pack_offsets(d, n_tok, cap=PACK_CAP_TOKENS))


@register(
    "dup_ngram_fraction",
    oracle=f"""
    SELECT doc_id,
           CAST(GREATEST(len(toks) - 2, 0) AS BIGINT) AS n_grams,
           CAST(CASE WHEN len(toks) >= 3
                THEN len({ts.SQL_SHINGLES.format(toks='toks', norm='norm')})
                ELSE 0 END AS BIGINT) AS n_distinct,
           CASE WHEN len(toks) >= 3
                THEN CAST(len(toks) - 2
                          - len({ts.SQL_SHINGLES.format(toks='toks', norm='norm')})
                     AS DOUBLE) / CAST(len(toks) - 2 AS DOUBLE)
                ELSE 0.0 END AS dup_fraction
    FROM (SELECT doc_id, norm, string_split(norm, ' ') AS toks
          FROM ({_SQL_DOCS_NORM}))
    """,
    tags=("documents", "dedup"),
    doc="Gopher-style duplicate-3-gram fraction per doc: 1 − "
    "distinct/total over word-3-gram instances (high = internally "
    "repetitive boilerplate; the WITHIN-doc complement of the "
    "cross-doc dedup tiers). Exact rational arithmetic; one projection "
    "with array ops, no explode, no shuffle.",
)
def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import word_tokens

    d = _docs(spark, sf_dir)
    toks = word_tokens("text")
    n = F.size(toks).cast("bigint")
    total = F.greatest(n - 2, F.lit(0).cast("bigint"))
    n_dist = (
        F.when(n >= 3, F.size(ts.shingles_col("text")))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    frac = (
        F.when(
            total > 0,
            (total - n_dist).cast("double") / total.cast("double"),
        )
        .otherwise(F.lit(0.0))
    )
    return d.select(
        "doc_id",
        total.alias("n_grams"),
        n_dist.alias("n_distinct"),
        frac.alias("dup_fraction"),
    )


# ---- composite quality filter (C4/Gopher-style rule table) -------------

MIN_TOKENS = 10
MAX_CHARS_PER_TOKEN = 12
MAX_DUP3_NUM, MAX_DUP3_DEN = 1, 2  # dup-3-gram fraction ≤ 1/2
MAX_PUNCT_NUM, MAX_PUNCT_DEN = 1, 10  # punct char ratio ≤ 1/10

_QF_TOKS = "string_split(norm, ' ')"
_QF_SH = ts.SQL_SHINGLES.format(toks=_QF_TOKS, norm="norm")


def quality_keep_col(text_col: str = "text") -> F.Column:
    """The composite C4/Gopher keep bit as a single Column expression
    — map-only, so callers that only need the verdict (domain
    rollups, chains) can compute it INLINE in their own projection
    instead of joining quality_filter_verdicts output back to the
    corpus on doc_id (a corpus-sized shuffle for a per-row value)."""
    from ..functions.texthash import word_tokens

    norm = normalize_text(text_col)
    toks = word_tokens(text_col)
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length(norm).cast("bigint")
    n_stop = ts.count_in_set(toks, ts.STOPWORDS).cast("bigint")
    n_punct = F.length(F.regexp_replace(norm, r"[^.,;:!?]", "")).cast("bigint")
    total3 = n_tok - 2
    dist3 = F.size(ts.shingles_col(text_col)).cast("bigint")
    r_dup3 = F.when(
        n_tok >= 3,
        (total3 - dist3) * MAX_DUP3_DEN <= total3 * MAX_DUP3_NUM,
    ).otherwise(F.lit(True))
    return (
        (n_tok >= MIN_TOKENS)
        & (n_chars <= MAX_CHARS_PER_TOKEN * n_tok)
        & (n_stop >= 1)
        & r_dup3
        & (n_punct * MAX_PUNCT_DEN <= n_chars * MAX_PUNCT_NUM)
    )



@register(
    "quality_filter_verdicts",
    oracle=f"""
    SELECT doc_id,
           len({_QF_TOKS}) >= {MIN_TOKENS} AS r_min_tokens,
           length(norm) <= {MAX_CHARS_PER_TOKEN} * len({_QF_TOKS})
               AS r_word_len,
           {ts.sql_count_in_set(_QF_TOKS, ts.STOPWORDS)} >= 1 AS r_stopword,
           (CASE WHEN len({_QF_TOKS}) >= 3
                 THEN (len({_QF_TOKS}) - 2 - len({_QF_SH})) * {MAX_DUP3_DEN}
                      <= (len({_QF_TOKS}) - 2) * {MAX_DUP3_NUM}
                 ELSE TRUE END) AS r_dup3,
           length(regexp_replace(norm, '[^.,;:!?]', '', 'g')) * {MAX_PUNCT_DEN}
               <= length(norm) * {MAX_PUNCT_NUM} AS r_punct,
           (len({_QF_TOKS}) >= {MIN_TOKENS})
               AND (length(norm) <= {MAX_CHARS_PER_TOKEN} * len({_QF_TOKS}))
               AND ({ts.sql_count_in_set(_QF_TOKS, ts.STOPWORDS)} >= 1)
               AND (CASE WHEN len({_QF_TOKS}) >= 3
                    THEN (len({_QF_TOKS}) - 2 - len({_QF_SH})) * {MAX_DUP3_DEN}
                         <= (len({_QF_TOKS}) - 2) * {MAX_DUP3_NUM}
                    ELSE TRUE END)
               AND (length(regexp_replace(norm, '[^.,;:!?]', '', 'g'))
                        * {MAX_PUNCT_DEN} <= length(norm) * {MAX_PUNCT_NUM})
               AS keep
    FROM ({_SQL_DOCS_NORM})
    """,
    tags=("documents", "quality"),
    doc="Composite pretraining quality filter as a VERDICT TABLE: one "
    "boolean per named rule (C4/Gopher-style: token floor, chars-per-"
    "token ceiling, stopword presence, duplicate-3-gram cap, symbol "
    "ratio cap) plus the AND — rule provenance is what an auditable "
    "filtering pipeline keeps, not just the final keep bit. Every rule "
    "is an INTEGER cross-multiplication (no float ratios), so the "
    "verdicts are engine-exact. Map-only projection — no shuffle.",
)
def quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )
    from ..functions.texthash import word_tokens

    # the interpreted shingle HOF dominates — fan a narrow scan out
    d = widen_narrow_input(
        _docs(spark, sf_dir),
        min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES,
    )
    norm = normalize_text("text")
    toks = word_tokens("text")
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length(norm).cast("bigint")
    n_stop = ts.count_in_set(toks, ts.STOPWORDS).cast("bigint")
    n_punct = F.length(F.regexp_replace(norm, r"[^.,;:!?]", "")).cast("bigint")
    total3 = n_tok - 2
    dist3 = F.size(ts.shingles_col("text")).cast("bigint")

    r_min_tokens = n_tok >= MIN_TOKENS
    r_word_len = n_chars <= MAX_CHARS_PER_TOKEN * n_tok
    r_stopword = n_stop >= 1
    r_dup3 = F.when(
        n_tok >= 3,
        (total3 - dist3) * MAX_DUP3_DEN <= total3 * MAX_DUP3_NUM,
    ).otherwise(F.lit(True))
    r_punct = n_punct * MAX_PUNCT_DEN <= n_chars * MAX_PUNCT_NUM
    return d.select(
        "doc_id",
        r_min_tokens.alias("r_min_tokens"),
        r_word_len.alias("r_word_len"),
        r_stopword.alias("r_stopword"),
        r_dup3.alias("r_dup3"),
        r_punct.alias("r_punct"),
        (r_min_tokens & r_word_len & r_stopword & r_dup3 & r_punct).alias(
            "keep"
        ),
    )


# ---- unicode normalization (vectorized scalar pandas_udf) --------------

# combining acute accent — planted decomposed text on a doc slice
# exercises real normalization work (the corpus itself is ASCII)
_COMBINING_ACUTE = 769


@register(
    "unicode_nfc_normalize",
    oracle=f"""
    SELECT doc_id,
           md5(nfc_normalize(t)) AS nfc_md5,
           nfc_normalize(t) <> t AS changed,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS nfc_len
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN text || ' cafe' || chr({_COMBINING_ACUTE}) || ' fin'
                    ELSE text END AS t
        FROM documents
    )
    """,
    tags=("documents", "normalize"),
    doc="Unicode NFC normalization via an Arrow-vectorized scalar "
    "pandas_udf (pandas str.normalize per batch — Spark has no "
    "built-in normalizer; this is the legitimate vectorized-UDF slot, "
    "complementing the mapInPandas plumbing). A planted decomposed "
    "e+COMBINING ACUTE on every 11th doc exercises real composition "
    "on both engines; md5 of the normalized text pins byte-exact "
    "agreement with DuckDB's nfc_normalize. Map-only pass.",
)
def unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textnorm import with_nfc

    d = _docs(spark, sf_dir)
    planted = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.col("text"),
            F.lit(" cafe" + chr(_COMBINING_ACUTE) + " fin"),
        ),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", planted.alias("t"))
    # materialize the UDF result once: Python UDF calls are not
    # reliably common-subexpression-eliminated, and three invocations
    # would triple the Arrow batch work
    normalized = base.select("doc_id", "t", with_nfc("t").alias("n"))
    return normalized.select(
        "doc_id",
        F.md5("n").alias("nfc_md5"),
        (F.col("n") != F.col("t")).alias("changed"),
        F.length("n").cast("bigint").alias("nfc_len"),
    )


# ---- count-min heavy hitters (portable sketch #2) ----------------------


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(norm, ' ')) AS token
        FROM ({_SQL_DOCS_NORM})
    ),
    top AS (
        SELECT token, COUNT(*) AS n_exact
        FROM tok GROUP BY token
        ORDER BY n_exact DESC, token LIMIT 20
    )
    SELECT token, n_exact, TRUE AS lower_ok, TRUE AS within_ok FROM top
    """,
    tags=("documents", "sketch"),
    doc="Heavy-hitter token frequencies via a portable Count-Min "
    "sketch (3x4096 md5-position counters — one explode + one "
    "map-side-combinable groupBy builds it; probing is 3 broadcast "
    "joins + least()). The sketch's one-sided error makes it "
    "driver-checkable: lower_ok = est >= exact is a structural "
    "guarantee, within_ok bounds the overshoot by the collision mass "
    "(4N/w). The oracle recomputes the exact top-20 and expects both "
    "verdicts TRUE. operators/cms.py.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cms import CMS_W, cms_build, cms_estimate

    d = _docs(spark, sf_dir)
    tok = d.select(
        F.explode(F.split(normalize_text("text"), " ")).alias("token")
    )
    sketch = cms_build(tok, "token")
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "token")
        .limit(20)
    )
    total = tok.agg(F.count(F.lit(1)).alias("__n"))
    est = cms_estimate(top, sketch, "token").crossJoin(F.broadcast(total))
    return est.select(
        "token",
        "n_exact",
        (F.col("cms_est") >= F.col("n_exact")).alias("lower_ok"),
        (
            F.col("cms_est") - F.col("n_exact")
            <= F.ceil(F.col("__n") * 4 / CMS_W).cast("bigint")
        ).alias("within_ok"),
    )


# ---- span-manifest APPLY (the write side of substring dedup) -----------

# shared gaps-and-islands fragment: chunk stream → merged maximal spans
# per doc (identical to the dedup_span_manifest oracle's derivation)
_SQL_SPANS = f"""
    boiler AS (
        SELECT chunk_hash, MIN(doc_id) AS first_doc_id
        FROM chunks GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT c.doc_id, c.chunk_start AS s,
               c.chunk_start + c.chunk_tokens - 1 AS e
        FROM chunks c JOIN boiler b USING (chunk_hash)
        WHERE c.doc_id <> b.first_doc_id
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM flagged
    ),
    grp AS (
        SELECT doc_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
        FROM grp GROUP BY doc_id, island
    )
"""


@register(
    "dedup_span_apply",
    oracle=f"""
    {_SQL_CHUNKS},
    {_SQL_SPANS},
    tokpos AS (
        SELECT doc_id, n, unnest(t) AS tok,
               CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
        FROM toks
    ),
    keptagg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_hash
        FROM tokpos p
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = p.doc_id
              AND p.pos BETWEEN s.span_start AND s.span_end
        )
        GROUP BY doc_id
    ),
    nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(t.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(k.cleaned_hash, md5('')) AS cleaned_hash
    FROM toks t
    LEFT JOIN keptagg k USING (doc_id)
    LEFT JOIN nsp USING (doc_id)
    """,
    tags=("documents", "dedup", "packing"),
    doc="Span-manifest APPLY — the write side of Lee-et-al substring "
    "dedup: cuts every manifest span out of its doc and emits the "
    "cleaned-corpus accounting row (token counts before/after, spans "
    "applied, md5 of the kept tokens re-joined on spaces — the hash "
    "pins the exact cleaned text without shipping it). Spans "
    "aggregate to one small per-doc array (one shuffle), hash-join "
    "back to the corpus, then the cut is a higher-order filter + "
    "exists probe — no corpus explode, no Python. "
    "operators/dedup.py:apply_span_manifest.",
)
def dedup_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    manifest = dd.boilerplate_span_manifest(chunk_stream(d), min_docs=2)
    return dd.apply_span_manifest(d, manifest)


# ---- training-mix planning and shard export ----------------------------

MIX_BUDGET_TOKENS = 20_000
# target mixture by language, parts-per-million (sums to 1e6)
MIX_WEIGHTS_PPM = {"en": 500_000, "zh": 200_000, "de": 100_000,
                   "fr": 100_000, "es": 100_000}

_SQL_MIX_W = (
    "CASE lang "
    + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS_PPM.items()
    )
    + " ELSE 0 END"
)


@register(
    "data_mix_plan",
    oracle=f"""
    WITH tok AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(norm, ' '))) AS BIGINT)
                   AS actual_tokens
        FROM ({_SQL_DOCS_NORM}) GROUP BY lang
    ),
    w AS (SELECT *, CAST({_SQL_MIX_W} AS BIGINT) AS weight_ppm FROM tok)
    SELECT lang, n_docs, actual_tokens, weight_ppm,
           CAST(({MIX_BUDGET_TOKENS} * weight_ppm) // 1000000 AS BIGINT)
               AS target_tokens,
           CAST(LEAST(actual_tokens,
                      ({MIX_BUDGET_TOKENS} * weight_ppm) // 1000000)
                AS BIGINT) AS planned_tokens,
           CAST(LEAST(actual_tokens,
                      ({MIX_BUDGET_TOKENS} * weight_ppm) // 1000000)
                AS DOUBLE) / CAST(actual_tokens AS DOUBLE) AS sample_rate
    FROM w
    """,
    tags=("documents", "sampling"),
    doc=f"Training-mixture plan: per-language token inventory vs a "
    f"{MIX_BUDGET_TOKENS}-token budget split by fixed ppm weights — "
    "the sampling-rate table a mixture-weighted pretraining run feeds "
    "its per-source samplers (rate = min(1, target/actual); a "
    "language short of its target is taken whole, never upsampled). "
    "Integer ppm weights and integer-division targets keep every "
    "column engine-exact; the rate is one double division. One "
    "map-side-combinable groupBy over the corpus — no second pass, "
    "no driver math.",
)
def data_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import word_tokens

    d = _docs(spark, sf_dir)
    inv = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(word_tokens("text")))
        .cast("bigint")
        .alias("actual_tokens"),
    )
    w_expr = "CAST(" + _SQL_MIX_W + " AS BIGINT)"
    inv = inv.withColumn("weight_ppm", F.expr(w_expr))
    target = F.expr(
        f"({MIX_BUDGET_TOKENS} * weight_ppm) div 1000000"
    ).cast("bigint")
    planned = F.least(F.col("actual_tokens"), target).cast("bigint")
    return inv.select(
        "lang",
        "n_docs",
        "actual_tokens",
        "weight_ppm",
        target.alias("target_tokens"),
        planned.alias("planned_tokens"),
        (
            planned.cast("double") / F.col("actual_tokens").cast("double")
        ).alias("sample_rate"),
    )


WATERFILL_MAX_EPOCHS = 2  # no source repeats more than 2 epochs
WATERFILL_ROUNDS = 3  # fixed redistribution rounds (unrolled in SQL)
WATERFILL_HI_WEIGHT = 3  # srcs 0-4 get 3× the budget pull of the rest


def _sql_waterfill_round(prev: str) -> str:
    """One redistribution round: unallocated budget splits across
    UNSATURATED sources by weight (integer floor division — dust
    carries to the next round), each capped at its epoch ceiling."""
    return f"""
        SELECT source, n_docs, avail, w, cap, b,
               CAST(planned + CASE WHEN planned < cap AND wsum > 0
                    THEN LEAST(cap - planned, (r * w) // wsum)
                    ELSE 0 END AS BIGINT) AS planned
        FROM (SELECT {prev}.*,
                SUM(CASE WHEN planned < cap THEN w ELSE 0 END)
                    OVER () AS wsum,
                b - SUM(planned) OVER () AS r
              FROM {prev})
    """


def _sql_waterfill() -> str:
    rounds = ", ".join(
        f"a{i + 1} AS ({_sql_waterfill_round(f'a{i}')})"
        for i in range(WATERFILL_ROUNDS)
    )
    return f"""
    WITH inv AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(norm, ' '))) AS BIGINT) AS avail
        FROM ({_SQL_DOCS_NORM}) GROUP BY source
    ),
    base AS (
        SELECT source, n_docs, avail,
               CAST(CASE WHEN source IN
                    ('src0','src1','src2','src3','src4')
                    THEN {WATERFILL_HI_WEIGHT} ELSE 1 END AS BIGINT) AS w,
               avail * {WATERFILL_MAX_EPOCHS} AS cap,
               CAST(0 AS BIGINT) AS planned
        FROM inv
    ),
    tot AS (SELECT SUM(avail) AS b FROM base),
    a0 AS (SELECT base.*, b FROM base, tot),
    {rounds}
    SELECT source, n_docs,
           avail AS avail_tokens, w AS weight, cap AS cap_tokens,
           planned AS planned_tokens,
           CAST(planned AS DOUBLE) / CAST(avail AS DOUBLE) AS epochs,
           CAST(planned AS DOUBLE) / CAST(b AS DOUBLE) AS budget_share,
           planned >= cap AS saturated
    FROM a{WATERFILL_ROUNDS}
    """


def waterfill_rounds(cur: DataFrame, rounds: int = WATERFILL_ROUNDS) -> DataFrame:
    """The redistribution core, factored for property testing:
    ``cur`` carries (…, avail, w, cap, planned, b); each round splits
    the unallocated budget b−Σplanned across unsaturated sources by
    weight (integer floor division), capped at each source's epoch
    ceiling. Invariants (asserted in tests/test_property_based.py):
    Σplanned ≤ b, planned ≤ cap, planned ≥ 0, and pure-proportional
    runs (nothing ever saturates) leave < n_sources dust."""
    for _ in range(rounds):
        st = cur.agg(
            F.sum(
                F.when(F.col("planned") < F.col("cap"), F.col("w")).otherwise(
                    F.lit(0)
                )
            ).alias("wsum"),
            (F.max("b") - F.sum("planned")).alias("r"),
        )
        give = F.least(
            F.col("cap") - F.col("planned"),
            F.expr("(r * w) div wsum"),
        )
        cur = (
            cur.crossJoin(F.broadcast(st))
            .withColumn(
                "planned",
                F.col("planned")
                + F.when(
                    (F.col("planned") < F.col("cap")) & (F.col("wsum") > 0),
                    give,
                ).otherwise(F.lit(0)),
            )
            .drop("wsum", "r")
        )
    return cur


@register(
    "token_budget_waterfill",
    oracle=_sql_waterfill(),
    tags=("documents", "sampling"),
    doc="Epoch-capped waterfilling budget planner — the piece "
    "data_mix_plan deliberately lacks: a global token budget (one "
    "corpus-epoch's worth) splits across sources by weight, each "
    f"source bounded at {WATERFILL_MAX_EPOCHS} epochs of its own "
    "inventory, and budget a saturated source can't absorb "
    f"REDISTRIBUTES to the unsaturated ones over {WATERFILL_ROUNDS} "
    "fixed rounds (the how-many-epochs-of-each-source planning step "
    "behind LLaMA-style token-budget mixes, where upweighted small "
    "sources repeat and the surplus flows to large ones). All-integer "
    "floor-division arithmetic per round — identical dust on both "
    "engines; the per-source table is tiny (O(n_sources)), so rounds "
    "are broadcast scalar joins, corpus work is ONE map-side "
    "combinable groupBy.",
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import word_tokens

    d = _docs(spark, sf_dir)
    inv = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(word_tokens("text"))).cast("bigint").alias("avail"),
    )
    hi = [f"src{i}" for i in range(5)]
    base = (
        inv.withColumn(
            "w",
            F.when(F.col("source").isin(hi), F.lit(WATERFILL_HI_WEIGHT))
            .otherwise(F.lit(1))
            .cast("bigint"),
        )
        .withColumn(
            "cap", (F.col("avail") * WATERFILL_MAX_EPOCHS).cast("bigint")
        )
        .withColumn("planned", F.lit(0).cast("bigint"))
    )
    tot = base.agg(F.sum("avail").alias("b"))
    cur = waterfill_rounds(base.crossJoin(F.broadcast(tot)))
    return cur.select(
        "source",
        "n_docs",
        F.col("avail").alias("avail_tokens"),
        F.col("w").alias("weight"),
        F.col("cap").alias("cap_tokens"),
        F.col("planned").alias("planned_tokens"),
        (F.col("planned").cast("double") / F.col("avail").cast("double")).alias(
            "epochs"
        ),
        (F.col("planned").cast("double") / F.col("b").cast("double")).alias(
            "budget_share"
        ),
        (F.col("planned") >= F.col("cap")).alias("saturated"),
    )


N_EXPORT_SHARDS = 32
_EXPORT_CHECKSUM_MOD = 1_000_000_007


@register(
    "export_training_shards",
    oracle=f"""
    SELECT ({_MD5L.format(x="CAST(doc_id AS VARCHAR)")})
               % {N_EXPORT_SHARDS} AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(norm, ' '))) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM(({_MD5L.format(x="CAST(doc_id AS VARCHAR)")})
                    % {_EXPORT_CHECKSUM_MOD}) AS BIGINT)
               AS membership_checksum
    FROM ({_SQL_DOCS_NORM})
    GROUP BY 1
    """,
    tags=("documents", "sampling", "sinks"),
    doc=f"Deterministic training-shard assignment: shard = "
    f"md5(doc_id) mod {N_EXPORT_SHARDS} — the content-independent "
    "global shuffle a tokenizer-writer export uses so every worker "
    "can recompute any doc's shard without coordination, with "
    "per-shard row/token fill stats (shard balance is what you "
    "monitor before a 100 TB export) and a mod-p membership checksum "
    "that pins WHICH docs landed in each shard, not just how many. "
    "One hash-groupBy, map-side combinable; the physical write is "
    "repartition(shard_id) + partitionBy — same key, no extra "
    "shuffle.",
)
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import md5_long, word_tokens

    d = _docs(spark, sf_dir)
    h = md5_long(F.col("doc_id").cast("string"))
    return (
        d.select(
            (h % N_EXPORT_SHARDS).alias("shard_id"),
            F.col("doc_id"),
            F.size(word_tokens("text")).cast("bigint").alias("n_tok"),
            (h % _EXPORT_CHECKSUM_MOD).alias("hmod"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("hmod").cast("bigint").alias("membership_checksum"),
        )
    )


N_SHUFFLE_EPOCHS = 3
N_SHUFFLE_SHARDS = 16
_SHUFFLE_CHECK_MOD = 9973


@register(
    "epoch_shuffle_order",
    oracle=f"""
    WITH ep AS (
        SELECT d.doc_id,
               CAST(e.epoch AS INT) AS epoch,
               {_MD5L.format(
                   x="CAST(d.doc_id AS VARCHAR) || ':ep' "
                     "|| CAST(e.epoch AS VARCHAR)")} AS h
        FROM documents d
        CROSS JOIN (
            SELECT unnest(generate_series(0, {N_SHUFFLE_EPOCHS - 1}))
                AS epoch
        ) e
    ),
    pos AS (
        SELECT epoch, h % {N_SHUFFLE_SHARDS} AS shard_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY epoch, h % {N_SHUFFLE_SHARDS}
                   ORDER BY h, doc_id
               ) AS p
        FROM ep
    )
    SELECT epoch, CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p * (doc_id % {_SHUFFLE_CHECK_MOD})) AS BIGINT)
               AS order_checksum
    FROM pos GROUP BY epoch, shard_id
    """,
    tags=("documents", "sampling"),
    doc="Deterministic epoch-wise global training shuffle: for each of "
    f"{N_SHUFFLE_EPOCHS} epochs, every doc's (shard, position) is "
    "md5(doc_id:epoch) — shard = h mod "
    f"{N_SHUFFLE_SHARDS}, position = rank of h within the shard — so "
    "the training order of any epoch is recomputable by any worker "
    "from the seed alone (no stored permutation, no coordination), "
    "and consecutive epochs decorrelate because the hash input "
    "changes. The order_checksum (Σ position × doc_id mod p) pins the "
    "EXACT within-shard order against the oracle, not just membership. "
    "Scale shape: one exchange on (epoch, shard) per epoch and a "
    "within-shard sort — exactly the sort the shard writer performs "
    "anyway; window partitions are corpus/shards sized, tuned by the "
    "shard count, so the same plan holds when the corpus is 100 TB "
    "(epochs are materialized lazily one at a time in a real export; "
    "the bounded epoch fan-out here exists to audit cross-epoch "
    "balance in one pass).",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import md5_long

    d = _docs(spark, sf_dir).select("doc_id")
    ep = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(N_SHUFFLE_EPOCHS - 1))
        ).alias("epoch"),
    ).withColumn("epoch", F.col("epoch").cast("int"))
    h = md5_long(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":ep"),
            F.col("epoch").cast("string"),
        )
    )
    w = Window.partitionBy("epoch", "shard_id").orderBy("h", "doc_id")
    return (
        ep.withColumn("h", h)
        .withColumn("shard_id", F.col("h") % N_SHUFFLE_SHARDS)
        .withColumn("p", F.row_number().over(w).cast("bigint"))
        .groupBy("epoch", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.col("p") * (F.col("doc_id") % _SHUFFLE_CHECK_MOD)
            ).cast("bigint").alias("order_checksum"),
        )
    )


@register(
    "data_mix_sample",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tok,
               {_MD5L.format(x="CAST(doc_id AS VARCHAR) || ':mix'")}
                   % 1000000 AS coin
        FROM ({_SQL_DOCS_NORM})
    ),
    inv AS (
        SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS actual_tokens
        FROM tok GROUP BY lang
    ),
    rates AS (
        SELECT lang,
               CAST(LEAST(actual_tokens * 1000000,
                          ({MIX_BUDGET_TOKENS} * CAST({_SQL_MIX_W} AS BIGINT)
                           // 1000000) * 1000000)
                    // actual_tokens AS BIGINT) AS rate_ppm
        FROM inv
    )
    SELECT t.lang, r.rate_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_docs_in,
           CAST(SUM(CASE WHEN t.coin < r.rate_ppm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN t.coin < r.rate_ppm THEN t.n_tok ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN t.coin < r.rate_ppm
                         THEN t.doc_id % {_EXPORT_CHECKSUM_MOD}
                         ELSE 0 END) AS BIGINT) AS kept_checksum
    FROM tok t JOIN rates r USING (lang)
    GROUP BY 1, 2
    """,
    tags=("documents", "sampling"),
    doc="Mixture-sampling APPLY: each doc flips a deterministic coin — "
    "md5(doc_id || ':mix') mod 1e6 vs its language's integer-ppm rate "
    "from the data_mix_plan inventory — so any worker on any cluster "
    "reproduces the exact same subset with no coordination and no RNG "
    "state (the property content-addressed sampling needs at 100 TB: "
    "re-runs, resumes, and audits all agree). Emits per-language "
    "kept-vs-in counts, kept tokens, and a mod-p checksum pinning "
    "WHICH docs survived. Integer-exact throughout; one groupBy for "
    "the inventory, a broadcast-size rate join, one aggregating pass.",
)
def data_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import md5_long, word_tokens

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        "lang",
        F.size(word_tokens("text")).cast("bigint").alias("n_tok"),
        (
            md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
            % 1_000_000
        ).alias("coin"),
    ).persist()  # feeds inventory AND sampling pass
    inv = tok.groupBy("lang").agg(
        F.sum("n_tok").cast("bigint").alias("actual_tokens")
    )
    target = F.expr(
        f"({MIX_BUDGET_TOKENS} * CAST({_SQL_MIX_W} AS BIGINT)) "
        f"div 1000000"
    )
    rates = inv.select(
        "lang",
        F.expr(
            f"least(actual_tokens * 1000000, "
            f"(({MIX_BUDGET_TOKENS} * CAST({_SQL_MIX_W} AS BIGINT)) "
            f"div 1000000) * 1000000) div actual_tokens"
        )
        .cast("bigint")
        .alias("rate_ppm"),
    )
    kept = F.col("coin") < F.col("rate_ppm")
    return (
        tok.join(F.broadcast(rates), "lang")
        .groupBy("lang", "rate_ppm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_in"),
            F.sum(kept.cast("bigint")).cast("bigint").alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(
                F.when(
                    kept, F.col("doc_id") % _EXPORT_CHECKSUM_MOD
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("kept_checksum"),
        )
    )


# ---- sampled fingerprints: winnowing + content-defined chunks ----------

from ..operators import fingerprint as fpr  # noqa: E402

_SQL_POS_SH = f"""
    SELECT doc_id, CAST(unnest(range(1, m + 1)) AS BIGINT) AS pos, sh, m
    FROM (
        SELECT doc_id,
               CASE WHEN len(toks) >= {ts.SHINGLE_K}
                    THEN list_transform(
                         range(1, len(toks) - {ts.SHINGLE_K} + 2),
                         i -> array_to_string(
                             list_slice(toks, i, i + {ts.SHINGLE_K} - 1),
                             ' '))
                    ELSE [norm] END AS sh,
               CAST(len(sh) AS BIGINT) AS m
        FROM (SELECT doc_id, norm, string_split(norm, ' ') AS toks
              FROM ({_SQL_DOCS_NORM}))
    )
"""

_SQL_WINNOW = f"""
    WITH psh AS ({_SQL_POS_SH}),
    enc AS (
        SELECT doc_id, pos, m,
               CAST(('0x' || substr(md5(sh[pos]), 1,
                    {fpr.WINNOW_HASH_HEX})) AS BIGINT) * {1 << 24}
               + ({(1 << 24) - 1} - pos) AS combined
        FROM psh
    ),
    win AS (
        SELECT doc_id, pos, m,
               MIN(combined) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN {fpr.WINNOW_WINDOW - 1} PRECEDING
                   AND CURRENT ROW) AS winmin
        FROM enc
    ),
    winnow AS (
        SELECT DISTINCT doc_id,
               CAST({(1 << 24) - 1} - (winmin % {1 << 24}) AS BIGINT)
                   AS sel_pos,
               CAST(winmin // {1 << 24} AS BIGINT) AS sel_hash
        FROM win WHERE pos >= least({fpr.WINNOW_WINDOW}, m)
    )
"""


@register(
    "doc_winnow_fingerprints",
    oracle=f"""
    {_SQL_WINNOW}
    SELECT doc_id, sel_pos, sel_hash FROM winnow
    """,
    tags=("documents", "dedup", "fingerprint"),
    doc="Winnowing fingerprints (Schleimer et al. SIGMOD'03 / MOSS): "
    "each 4-shingle window keeps its minimum 36-bit shingle hash "
    "(rightmost on ties, folded into one int64 min — no struct "
    "comparator, stays in codegen). Selects ~2/(w+1) of shingles yet "
    "guarantees any shared span of >= w+K-1 = 6 tokens shares a "
    "fingerprint. One explode + doc-partitioned windows — shuffle "
    "O(shingles). operators/fingerprint.py:winnow_fingerprints.",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fpr.winnow_fingerprints(_docs(spark, sf_dir))


WINNOW_MAX_DF = 64
WINNOW_MIN_SHARED = 2


@register(
    "dedup_winnow_pairs",
    oracle=f"""
    {_SQL_WINNOW},
    post AS (
        SELECT sel_hash, doc_id FROM winnow GROUP BY 1, 2
    ),
    capped AS (
        SELECT sel_hash, doc_id,
               COUNT(*) OVER (PARTITION BY sel_hash) AS df
        FROM post
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared
    FROM (SELECT * FROM capped WHERE df <= {WINNOW_MAX_DF}) a
    JOIN (SELECT * FROM capped WHERE df <= {WINNOW_MAX_DF}) b
      ON a.sel_hash = b.sel_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    tags=("documents", "dedup", "fingerprint"),
    doc="Winnowing-based overlap detector: inverted index over the "
    "SELECTED fingerprints only (~1/3 of shingle volume vs the "
    f"Jaccard tier), document-frequency cap {WINNOW_MAX_DF} drops "
    "boilerplate posting lists, pairs need >= "
    f"{WINNOW_MIN_SHARED} shared fingerprints. Candidate volume "
    "O(selected x df_cap) — never all-pairs; the window-count df "
    "follows the dedup_jaccard_dfcap pattern. r15 audit: NO posting "
    "skew exists (max df 48 < the 64 cap at sf10), and the fused "
    "groupBy·collect_set + map-side pair-expansion alternative "
    "measured 0.70× at sf0.1 but 1.1-1.26× SLOWER at sf10 — "
    "the candidate-pair count shuffle "
    "(42M pairs at sf10) is the data-inherent term either way, so "
    "the window form stays.",
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = fpr.winnow_fingerprints(_docs(spark, sf_dir))
    post = fp.select("sel_hash", "doc_id").distinct()
    wdf = Window.partitionBy("sel_hash")
    capped = post.withColumn("df", F.count(F.lit(1)).over(wdf)).filter(
        F.col("df") <= WINNOW_MAX_DF
    )
    a = capped.select(
        F.col("sel_hash"), F.col("doc_id").alias("doc_a")
    )
    b = capped.select(
        F.col("sel_hash"), F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(b, "sel_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


_SQL_CDC_CHUNKS = f"""
    WITH tk AS MATERIALIZED (
        SELECT doc_id, CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos, t
        FROM (SELECT doc_id, string_split(norm, ' ') AS t
              FROM ({_SQL_DOCS_NORM}))
    ),
    cuts AS MATERIALIZED (
        SELECT doc_id, pos, t[pos] AS token,
               CASE WHEN pos >= {ts.SHINGLE_K} AND
                    CAST(('0x' || substr(md5(array_to_string(
                        list_slice(t, pos - {ts.SHINGLE_K - 1}, pos), ' '
                    )), 1, 15)) AS BIGINT) % {fpr.CDC_DIVISOR} = 0
                    THEN 1 ELSE 0 END AS cut
        FROM tk
    ),
    cidx AS MATERIALIZED (
        SELECT doc_id, pos, token,
               COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS chunk_idx
        FROM cuts
    ),
    cdc AS MATERIALIZED (
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               MIN(pos) AS start_pos, MAX(pos) AS end_pos,
               COUNT(*) AS n_tokens,
               md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
        FROM cidx GROUP BY 1, 2
    )
"""


@register(
    "doc_cdc_chunks",
    oracle=f"""
    {_SQL_CDC_CHUNKS}
    SELECT doc_id, chunk_idx, start_pos, end_pos, n_tokens, chunk_hash
    FROM cdc
    """,
    tags=("documents", "dedup", "packing"),
    doc="Content-defined chunking (gear/rolling-hash, the LBFS/rsync "
    "family): cut after any token whose trailing 3-token window "
    f"hashes to 0 mod {fpr.CDC_DIVISOR} — boundaries depend only on "
    "local content, so an insertion reshapes one chunk and the "
    "stream re-synchronizes, unlike fixed-stride doc_chunk_windows "
    "where every later hash shifts. Chunk hashes are the "
    "insertion-robust cross-doc dup key. One explode + shared "
    "doc-partitioned windows + one groupBy — shuffle O(tokens). "
    "operators/fingerprint.py:cdc_chunks.",
)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fpr.cdc_chunks(_docs(spark, sf_dir))


@register(
    "leakage_safe_split",
    oracle=f"""
    SELECT doc_id, fingerprint,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, md5(norm) AS fingerprint,
               CAST(('0x' || substr(md5(md5(norm)), 1, 15)) AS BIGINT)
                   % 100 AS b
        FROM ({_SQL_DOCS_NORM})
    )
    """,
    tags=("documents", "sampling"),
    doc="Leakage-safe train/val/test split (80/10/10): the split "
    "bucket is hashed from the CONTENT fingerprint, not the doc id, "
    "so exact duplicates always land in the same split and can never "
    "leak train content into holdout (compose with dedup_keep_list "
    "for near-dup safety). Deterministic, coordination-free, map-only "
    "— no shuffle at any scale.",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.texthash import md5_long as _md5l

    fp = F.md5(normalize_text("text"))
    b = _md5l(fp) % 100
    return _docs(spark, sf_dir).select(
        "doc_id",
        fp.alias("fingerprint"),
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "dedup_cdc_span_manifest",
    oracle=f"""
    {_SQL_CDC_CHUNKS},
    boiler AS (
        SELECT chunk_hash, MIN(doc_id) AS first_doc_id
        FROM cdc GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT c.doc_id, c.start_pos AS s, c.end_pos AS e
        FROM cdc c JOIN boiler b USING (chunk_hash)
        WHERE c.doc_id <> b.first_doc_id
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM flagged
    ),
    grp AS (
        SELECT doc_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM isl
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens,
           COUNT(*) AS n_chunks,
           'chunk_in_ge_2_docs' AS reason
    FROM grp GROUP BY doc_id, island
    """,
    tags=("documents", "dedup", "packing"),
    doc="Substring-dedup span manifest over CONTENT-DEFINED chunks: "
    "the Lee-et-al cut list (doc_id, span_start, span_end, reason) "
    "built from CDC chunk hashes instead of fixed-stride windows, so "
    "a duplicated passage is flagged even when an edit shifted its "
    "token offsets between docs — the variant fixed-stride "
    "dedup_span_manifest misses by construction. Same island-merge "
    "operator (operators/dedup.py:boilerplate_span_manifest); CDC "
    "chunks tile each doc, so flagged runs merge into maximal spans.",
)
def dedup_cdc_span_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = fpr.cdc_chunks(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("start_pos").alias("chunk_start"),
        F.col("n_tokens").alias("chunk_tokens"),
        "chunk_hash",
    )
    return dd.boilerplate_span_manifest(chunks)


@register(
    "dedup_cdc_span_apply",
    oracle=f"""
    {_SQL_CDC_CHUNKS},
    boiler AS (
        SELECT chunk_hash, MIN(doc_id) AS first_doc_id
        FROM cdc GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT c.doc_id, c.start_pos AS s, c.end_pos AS e
        FROM cdc c JOIN boiler b USING (chunk_hash)
        WHERE c.doc_id <> b.first_doc_id
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM flagged
    ),
    grp AS (
        SELECT doc_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM isl
    ),
    spans AS MATERIALIZED (
        SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
        FROM grp GROUP BY doc_id, island
    ),
    doclen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM cidx GROUP BY 1
    ),
    keptagg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(token, ' ' ORDER BY pos)) AS cleaned_hash
        FROM cidx p
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = p.doc_id
              AND p.pos BETWEEN s.span_start AND s.span_end
        )
        GROUP BY doc_id
    ),
    nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1)
    SELECT d.doc_id,
           d.n AS n_tokens,
           CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(d.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(k.cleaned_hash, md5('')) AS cleaned_hash
    FROM doclen d
    LEFT JOIN keptagg k USING (doc_id)
    LEFT JOIN nsp USING (doc_id)
    """,
    tags=("documents", "dedup", "packing"),
    doc="APPLY step for the CDC span manifest: cuts every "
    "insertion-robust duplicate span out of its doc and emits the "
    "cleaned-corpus accounting row (token counts before/after, spans "
    "applied, md5 of the kept tokens — pins the exact cleaned text "
    "without shipping it). Same generic span executor as the "
    "fixed-stride variant (operators/dedup.py:apply_span_manifest): "
    "spans aggregate per doc, hash-join back, higher-order filter + "
    "exists probe — no corpus explode, no Python.",
)
def dedup_cdc_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    chunks = fpr.cdc_chunks(d).select(
        "doc_id",
        F.col("start_pos").alias("chunk_start"),
        F.col("n_tokens").alias("chunk_tokens"),
        "chunk_hash",
    )
    manifest = dd.boilerplate_span_manifest(chunks, min_docs=2)
    return dd.apply_span_manifest(d, manifest)


@register(
    "dedup_incremental_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS}),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    closure(a, b) AS (
        SELECT doc_a, doc_a FROM edges
        UNION
        SELECT c.a, e.doc_b
        FROM closure c JOIN edges e ON c.b = e.doc_a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id
    FROM closure GROUP BY a
    """,
    tags=("documents", "dedup"),
    doc="Incremental cluster maintenance — the ingest-time shape of "
    "duplicate-cluster formation: the PRIOR corpus's pair graph "
    "(even doc ids here) is already collapsed to its star state "
    "(doc -> cluster root, what a production system persists), and a "
    "new batch contributes only the pairs that touch it; components "
    "re-converge over star edges + batch pairs WITHOUT re-walking "
    "the old pair graph — the star input is within one round of the "
    "fixed point, so the merge converges in O(log batch) rounds. The "
    "oracle is the FULL-corpus transitive closure, so the hash match "
    "PROVES merge == full recompute (the same mergeability contract "
    "incremental_hourly_rollup pins for rollups). "
    "operators/dedup.py:connected_components.",
)
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    ).persist()
    prior = pairs.filter(
        (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0)
    )
    batch = pairs.filter(
        (F.col("doc_a") % 2 == 1) | (F.col("doc_b") % 2 == 1)
    )
    # the persisted state: one star edge per non-root doc
    star = dd.connected_components(prior)
    star_edges = star.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b")
    )
    return dd.connected_components(
        star_edges.unionByName(batch.select("doc_a", "doc_b"))
    )


# ---- BM25 retrieval ----------------------------------------------------

# BM25 constants (Robertson-Walker defaults) and the deterministic
# query-term band: terms ranked 20-24 by document frequency — frequent
# enough to retrieve against at every SF, below the stopword head
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERM_RANK_LO = 20
BM25_TERM_RANK_HI = 24
BM25_TOP_K = 5


@register(
    "bm25_doc_retrieval",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token
        FROM ({_SQL_DOCS_NORM})
    ),
    filtered AS (SELECT * FROM tok WHERE length(token) >= 3),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM filtered GROUP BY doc_id, token
    ),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM filtered GROUP BY doc_id
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl
    ),
    df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df
        FROM filtered GROUP BY token
    ),
    queries AS (
        SELECT token, df FROM (
            SELECT token, df,
                   ROW_NUMBER() OVER (ORDER BY df DESC, token) AS trank
            FROM df
        ) WHERE trank BETWEEN {BM25_TERM_RANK_LO} AND {BM25_TERM_RANK_HI}
    ),
    scored AS (
        -- constants use e0 literals: DuckDB parses bare 0.5/1.2 as
        -- DECIMAL and computes the idf at decimal precision, which
        -- diverges from Spark's pure-double arithmetic by 1 ulp
        SELECT q.token, tf.doc_id,
               ((s.n_docs - q.df + 0.5e0) / (q.df + 0.5e0))
                   * (tf.tf * {BM25_K1 + 1.0}e0)
                   / (tf.tf + {BM25_K1}e0
                      * ({1.0 - BM25_B}e0
                         + {BM25_B}e0 * dl.dl * s.n_docs / s.sum_dl))
               AS bm25
        FROM tf
        JOIN queries q USING (token)
        JOIN dl USING (doc_id), stats s
    )
    SELECT token, doc_id, bm25, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT token, doc_id, bm25,
               ROW_NUMBER() OVER (
                   PARTITION BY token ORDER BY bm25 DESC, doc_id
               ) AS rnk
        FROM scored
    ) WHERE rnk <= {BM25_TOP_K}
    """,
    tags=("documents", "retrieval"),
    doc="BM25 top-k retrieval over the documents corpus: five "
    "deterministic query terms (df ranks 20-24 — under the stopword "
    "head, present at every SF) each retrieve their top-5 docs by "
    "Okapi BM25 (k1=1.2, b=0.75) with a LOG-FREE rational idf "
    "((N-df+0.5)/(df+0.5)) — ln() is not bit-identical across "
    "engines' libm, and with single-term queries the rational form "
    "is rank-equivalent, the same convention top_terms_tfidf "
    "established. Shape: one token explode feeds tf / dl / df "
    "aggregations; the query set and corpus stats are broadcast "
    "scalars, so the scored join shuffles only the five terms' "
    "postings — posting-list-proportional, never corpus-quadratic.",
)
def bm25_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("token"),
    ).filter(F.length("token") >= 3)
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    queries = (
        df_.withColumn(
            "trank",
            F.row_number().over(
                Window.orderBy(F.col("df").desc(), F.col("token"))
            ),
        )
        .filter(
            F.col("trank").between(BM25_TERM_RANK_LO, BM25_TERM_RANK_HI)
        )
        .select("token", "df")
    )
    scored = (
        tf.join(F.broadcast(queries), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "token",
            "doc_id",
            (
                (
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") * F.col("n_docs")
                        / F.col("sum_dl")
                    )
                )
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("token").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("token", "doc_id", "bm25", "rnk")
    )


# Kneser-Ney absolute discount (the standard 0.75) — e0 double literal
# in the SQL twin so DuckDB computes in pure double like Spark
KN_DISCOUNT = 0.75


@register(
    "bigram_kn_prob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
               generate_subscripts(string_split(norm, ' '), 1) AS pos
        FROM ({_SQL_DOCS_NORM})
    ),
    bi AS (
        SELECT a.token AS w1, b.token AS w2, COUNT(*) AS c12
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    uni AS (
        SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1_fwd
        FROM bi GROUP BY w1
    ),
    cont AS (SELECT w2, COUNT(*) AS n1_bwd FROM bi GROUP BY w2),
    total AS (SELECT COUNT(*) AS n_types FROM bi)
    SELECT w1, w2, c12,
           (GREATEST(c12 - {KN_DISCOUNT}e0, 0.0e0) / c1)
               + (({KN_DISCOUNT}e0 * n1_fwd / c1)
                  * (CAST(n1_bwd AS DOUBLE) / n_types)) AS p_kn
    FROM bi JOIN uni USING (w1) JOIN cont USING (w2), total
    ORDER BY c12 DESC, w1, w2
    LIMIT 20
    """,
    tags=("documents", "lm"),
    doc="Interpolated Kneser-Ney bigram probabilities for the top-20 "
    "bigrams (Kneser & Ney 1995; Chen & Goodman 1998 — the standard "
    "n-gram LM smoother): P(w2|w1) = max(c12 - D, 0)/c1 + "
    "(D*N1+(w1,.)/c1) * (N1+(.,w2)/n_types), D = 0.75. The "
    "continuation distribution counts distinct CONTEXTS, not raw "
    "frequency — the property that makes KN the right unigram "
    "backoff. All inputs are exact integer counts from the same one-"
    "explode bigram aggregation as bigram_next_token_prob; the "
    "arithmetic is pure double with identical expression shape on "
    "both engines (e0 literals in the SQL twin), so the comparison "
    "is bit-exact, not round-6.",
)
def bigram_kn_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias(
            "pos", "token"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        tok.withColumn("w2", F.lead("token", 1).over(w))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("token").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    uni = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cont = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bwd"))
    total = bi.agg(F.count(F.lit(1)).alias("n_types"))
    p_kn = (
        F.greatest(F.col("c12") - F.lit(KN_DISCOUNT), F.lit(0.0))
        / F.col("c1")
    ) + (
        (F.lit(KN_DISCOUNT) * F.col("n1_fwd") / F.col("c1"))
        * (F.col("n1_bwd").cast("double") / F.col("n_types"))
    )
    return (
        bi.join(uni, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c12", p_kn.alias("p_kn"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )


@register(
    "trigram_kn_prob",
    oracle=f"""
    WITH tok3 AS (
        SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
               generate_subscripts(string_split(norm, ' '), 1) AS pos
        FROM ({_SQL_DOCS_NORM})
    ),
    tri AS (
        SELECT a.token AS w1, b.token AS w2, c.token AS w3,
               COUNT(*) AS c123
        FROM tok3 a
        JOIN tok3 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN tok3 c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        GROUP BY 1, 2, 3
    ),
    ctx12 AS (
        SELECT w1, w2, SUM(c123) AS c12, COUNT(*) AS n1p12
        FROM tri GROUP BY 1, 2
    ),
    mid AS (
        SELECT w2, w3, COUNT(*) AS n_mid FROM tri GROUP BY 1, 2
    ),
    ctx2 AS (
        SELECT w2, SUM(n_mid) AS n_mid_ctx, COUNT(*) AS n1p2
        FROM mid GROUP BY 1
    ),
    cont3 AS (SELECT w3, COUNT(*) AS n1_bwd FROM mid GROUP BY 1),
    total3 AS (SELECT COUNT(*) AS n_types FROM mid)
    SELECT w1, w2, w3, c123,
           (GREATEST(n_mid - {KN_DISCOUNT}e0, 0.0e0) / n_mid_ctx)
               + (({KN_DISCOUNT}e0 * n1p2 / n_mid_ctx)
                  * (CAST(n1_bwd AS DOUBLE) / n_types)) AS p_kn_mid,
           (GREATEST(c123 - {KN_DISCOUNT}e0, 0.0e0) / c12)
               + (({KN_DISCOUNT}e0 * n1p12 / c12)
                  * ((GREATEST(n_mid - {KN_DISCOUNT}e0, 0.0e0)
                      / n_mid_ctx)
                     + (({KN_DISCOUNT}e0 * n1p2 / n_mid_ctx)
                        * (CAST(n1_bwd AS DOUBLE) / n_types))))
               AS p_kn
    FROM tri
    JOIN ctx12 USING (w1, w2)
    JOIN mid USING (w2, w3)
    JOIN ctx2 USING (w2)
    JOIN cont3 USING (w3), total3
    ORDER BY c123 DESC, w1, w2, w3
    LIMIT 20
    """,
    tags=("documents", "lm"),
    doc="Interpolated Kneser-Ney TRIGRAM probabilities for the top-20 "
    "trigrams — the backoff extension of bigram_kn_prob completing "
    "the KenLM-shaped family: P(w3|w1,w2) = max(c123-D,0)/c12 + "
    "(D·N1+(w1w2·)/c12)·P_KN(w3|w2), with the middle order built "
    "from trigram-TYPE continuation counts (N1+(·w2w3) over "
    "N1+(·w2·)) and the unigram backoff from bigram-type counts — "
    "the distinct-context property that defines KN. Every count "
    "derives from ONE trigram aggregation plus three roll-up "
    "groupBys (shuffle O(trigram types), never corpus-quadratic); "
    "the final arithmetic is pure double with identical expression "
    "shape on both engines (e0 literals), so the comparison is "
    "bit-exact, not round-6. Both the conditional (p_kn) and the "
    "lower-order (p_kn_mid) columns are emitted for audit.",
)
def trigram_kn_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias(
            "pos", "token"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        tok.withColumn("w2", F.lead("token", 1).over(w))
        .withColumn("w3", F.lead("token", 2).over(w))
        .filter(F.col("w2").isNotNull() & F.col("w3").isNotNull())
        .groupBy(F.col("token").alias("w1"), "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    ctx12 = tri.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n1p12")
    )
    mid = tri.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("n_mid"))
    ctx2 = mid.groupBy("w2").agg(
        F.sum("n_mid").alias("n_mid_ctx"), F.count(F.lit(1)).alias("n1p2")
    )
    cont3 = mid.groupBy("w3").agg(F.count(F.lit(1)).alias("n1_bwd"))
    total3 = mid.agg(F.count(F.lit(1)).alias("n_types"))
    p_mid = (
        F.greatest(F.col("n_mid") - F.lit(KN_DISCOUNT), F.lit(0.0))
        / F.col("n_mid_ctx")
    ) + (
        (F.lit(KN_DISCOUNT) * F.col("n1p2") / F.col("n_mid_ctx"))
        * (F.col("n1_bwd").cast("double") / F.col("n_types"))
    )
    p_kn = (
        F.greatest(F.col("c123") - F.lit(KN_DISCOUNT), F.lit(0.0))
        / F.col("c12")
    ) + (
        (F.lit(KN_DISCOUNT) * F.col("n1p12") / F.col("c12")) * p_mid
    )
    return (
        tri.join(ctx12, ["w1", "w2"])
        .join(mid, ["w2", "w3"])
        .join(ctx2, "w2")
        .join(cont3, "w3")
        .crossJoin(F.broadcast(total3))
        .select(
            "w1",
            "w2",
            "w3",
            "c123",
            p_mid.alias("p_kn_mid"),
            p_kn.alias("p_kn"),
        )
        .orderBy(F.col("c123").desc(), "w1", "w2", "w3")
        .limit(20)
    )


# ---- HTML boilerplate extraction (web-corpus pre-filter) ---------------

# DuckDB twin of the planted-page ground truth: the wrapper built by
# operators/html_extract.py:plant_boilerplate_html has 4 boilerplate
# blocks (nav, 2 sidebar <li>, footer) plus the main <p> and, for every
# third doc, an appendix <p>. The extractor's density rule keeps a
# block iff link_density <= 1/3 AND >= 5 words, so the oracle recomputes
# exactly which planted blocks survive.
_RAW_WS = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_SQL_HTML_EXTRACT = f"""
    SELECT doc_id,
           concat_ws(' ',
               CASE WHEN keep_main = 1 THEN raw END,
               appendix) AS main_text,
           CAST(4 + has_main + has_appendix AS BIGINT) AS n_blocks,
           CAST(keep_main + has_appendix AS BIGINT) AS n_content_blocks,
           CAST(length(concat_ws(' ',
               CASE WHEN keep_main = 1 THEN raw END,
               appendix)) AS BIGINT) AS content_chars
    FROM (
        SELECT doc_id, raw,
               CASE WHEN length(raw) > 0 THEN 1 ELSE 0 END AS has_main,
               CASE WHEN length(raw) > 0
                     AND len(string_split(raw, ' ')) >= 5
                    THEN 1 ELSE 0 END AS keep_main,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS has_appendix,
               CASE WHEN doc_id % 3 = 0
                    THEN 'appendix note for document ' || doc_id
                         || ' with extra detail' END AS appendix
        FROM (SELECT doc_id, {_RAW_WS} AS raw FROM documents)
    )
"""


@register(
    "text_extract_html",
    oracle=_SQL_HTML_EXTRACT,
    tags=("documents", "html"),
    doc="HTML boilerplate extraction: docs are wrapped in deterministic "
    "crawl-shaped boilerplate (nav/sidebar/footer, JVM-side concat), "
    "then the boilerpipe text-density rule (link density + word count "
    "per block) recovers the main content in the Arrow-batch slot. The "
    "oracle recomputes the planted ground truth closed-form, so any "
    "parser/classifier defect mismatches.",
)
def text_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import html_extract as hx

    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id", hx.plant_boilerplate_html("doc_id", "text").alias("html")
    )
    return hx.extract_main_content(planted, "html")


# Extracted-text quality score, shared by text_extract_html_quality
# and the web_prefilter_chain (plans/web.py) so the two oracles can
# never drift: per-row stats over main_text, then the same composite
# as text_quality_score. _SQL_EXTRACT_STATS parameterizes its source
# so the chain can feed a stats query that also carries the domain.
_SQL_EXTRACT_STAT_COLS = f"""
               greatest(length(main_text), 1) AS n_chars_norm,
               greatest(len(string_split(main_text, ' ')), 1) AS n_tokens,
               {ts.sql_count_in_set("string_split(main_text, ' ')", ts.STOPWORDS)} AS n_stop,
               length(regexp_replace(main_text, '[^.,;:!?]', '', 'g')) AS n_punct,
               length(regexp_replace(main_text, '[^0-9]', '', 'g')) AS n_digit"""
_SQL_QSCORE = """CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.4
          + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_norm AS DOUBLE)) * 0.3
          + (1.0 - CAST(n_digit AS DOUBLE) / CAST(n_chars_norm AS DOUBLE)) * 0.3"""
QSCORE_MIN = 0.55


def extract_quality_score_col() -> F.Column:
    """The composite quality score (double) over stat columns produced
    by :func:`extract_quality_stats` — the Spark twin of _SQL_QSCORE."""
    return (
        F.col("n_stop").cast("double") / F.col("n_tokens").cast("double") * 0.4
        + (
            F.lit(1.0)
            - F.col("n_punct").cast("double") / F.col("n_chars_norm").cast("double")
        )
        * 0.3
        + (
            F.lit(1.0)
            - F.col("n_digit").cast("double") / F.col("n_chars_norm").cast("double")
        )
        * 0.3
    )


def extract_quality_stats(ex: DataFrame, *extra_cols: str) -> DataFrame:
    """Per-row quality stats over an extraction output's main_text —
    the Spark twin of _SQL_EXTRACT_STAT_COLS (keeps doc_id,
    content_chars, and any ``extra_cols`` for downstream stages)."""
    toks = F.split(F.col("main_text"), " ")
    return ex.select(
        "doc_id",
        "content_chars",
        *extra_cols,
        F.greatest(F.length("main_text"), F.lit(1)).cast("bigint").alias("n_chars_norm"),
        F.greatest(F.size(toks), F.lit(1)).cast("bigint").alias("n_tokens"),
        ts.count_in_set(toks, ts.STOPWORDS).cast("bigint").alias("n_stop"),
        F.length(F.regexp_replace("main_text", r"[^.,;:!?]", "")).cast("bigint").alias("n_punct"),
        F.length(F.regexp_replace("main_text", r"[^0-9]", "")).cast("bigint").alias("n_digit"),
    )


@register(
    "text_extract_html_quality",
    oracle=f"""
    SELECT doc_id, content_chars,
           CAST(round(({_SQL_QSCORE}) * 1e6, 0) AS BIGINT) AS score_micro
    FROM (
        SELECT doc_id, content_chars,{_SQL_EXTRACT_STAT_COLS}
        FROM ({_SQL_HTML_EXTRACT})
    )
    WHERE {_SQL_QSCORE}
          >= {QSCORE_MIN}
    """,
    tags=("documents", "html"),
    doc="The extracted-HTML corpus fed straight into the existing "
    "quality filter: same composite score as text_quality_score, "
    "computed over the recovered main_text, thresholded at 0.55. "
    "Extraction (Arrow batch) -> scoring (pure Catalyst) -> filter: "
    "the real web-pipeline pre-filter chain.",
)
def text_extract_html_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = text_extract_html(spark, sf_dir)
    return (
        extract_quality_stats(ex)
        .withColumn("q", extract_quality_score_col())
        .filter(F.col("q") >= QSCORE_MIN)
        .select(
            "doc_id",
            "content_chars",
            F.round(F.col("q") * 1e6, 0).cast("bigint").alias("score_micro"),
        )
    )
