"""Text-analysis operators for the LLM-data pipeline: tokenization,
shingling, quality scoring, language-ID heuristic, fingerprinting.

Everything is pure Catalyst column algebra (split / transform /
element_at / aggregate) — no Python UDFs — so at 100 TB these run
inside whole-stage codegen with zero serialization. Each Spark
definition has a matching DuckDB SQL fragment (``SQL_*``) kept in this
module so the two sides evolve together."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.texthash import normalize_text, word_tokens

# Marker stopwords per language for the heuristic lang-ID. Deliberately
# tiny: the point is a deterministic, SQL-expressible scorer whose
# structure (per-language marker hit counts → fixed-priority argmax)
# mirrors real n-gram lang-ID at any vocabulary size.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "les", "et", "une"),
    "zh": ("de", "le", "shi", "bu"),
}
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")

STOPWORDS = ("the", "a", "and", "of", "to", "in")

SHINGLE_K = 3


SQL_TOKENS = "string_split({norm}, ' ')"


def shingles_col(text_col: str = "text") -> Column:
    """Distinct word-{SHINGLE_K}-gram shingles; whole normalized text if
    shorter than K tokens. 1-based element_at mirrors DuckDB lists."""
    toks = word_tokens(text_col)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (SHINGLE_K - 1)),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return F.array_distinct(
        F.when(n >= SHINGLE_K, grams).otherwise(F.array(normalize_text(text_col)))
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """(doc_id[, extra...], shingle) — distinct word-3-gram shingles,
    one row each; whole normalized text for docs shorter than K tokens.

    Built with posexplode + lead windows instead of array higher-order
    functions: HOFs are interpreted (no whole-stage codegen) and ~8×
    slower per row, while this shape is one narrow explode + one
    window shuffle on doc_id — the layout every downstream dedup tier
    (inverted index, minhash groupBy) wants anyway."""
    from ..functions.partitioning import widen_narrow_input

    extra = extra or {}
    keep = ["doc_id", *extra.keys()]
    # fan a narrow scan out BEFORE the normalize/split/explode — the
    # expensive map stage otherwise runs on the scan's 1-2 split
    # partitions (no-op on wide inputs; see functions/partitioning.py)
    df = widen_narrow_input(df)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *[v.alias(k) for k, v in extra.items()],
        normalize_text(text_col).alias("norm"),
    ).withColumn("n_tok", F.size(F.split("norm", " ")))
    long_docs = base.filter(F.col("n_tok") >= SHINGLE_K)
    tok = long_docs.select(
        *keep, F.posexplode(F.split("norm", " ")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("l1", F.lead("token", 1).over(w))
        .withColumn("l2", F.lead("token", 2).over(w))
        .filter(F.col("l2").isNotNull())
        .select(*keep, F.concat_ws(" ", "token", "l1", "l2").alias("shingle"))
    )
    short = base.filter(F.col("n_tok") < SHINGLE_K).select(
        *keep, F.col("norm").alias("shingle")
    )
    return grams.unionByName(short).distinct()


# {norm} = normalized text expression, {toks} = token list expression
SQL_SHINGLES = (
    "list_distinct(CASE WHEN len({toks}) >= 3 THEN "
    "list_transform(range(1, len({toks}) - 1), "
    "i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
    "ELSE [{norm}] END)"
)


def count_in_set(arr: Column, values: tuple[str, ...]) -> Column:
    """How many elements of ``arr`` are in ``values`` (with multiplicity)."""
    return F.size(F.filter(arr, lambda t: t.isin(*values)))


def sql_count_in_set(arr_expr: str, values: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{v}'" for v in values)
    return f"len(list_filter({arr_expr}, t -> t IN ({lst})))"


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    toks = word_tokens(text_col)
    return {lang: count_in_set(toks, m) for lang, m in LANG_MARKERS.items()}


def predicted_lang(scores: dict[str, Column]) -> Column:
    """Fixed-priority argmax: first language (in LANG_PRIORITY order)
    whose score is >= every other score — deterministic under ties and
    expressible identically in SQL."""
    expr = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr
