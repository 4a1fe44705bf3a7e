"""Semantic invariants for the data-selection family (DSIR weights,
token entropy, minhash quality gate, contrastive mining, tokenizer
fertility) — planted-data checks beyond the DuckDB oracle parity that
test_queries_oracle already enforces."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.catalog import load_table
from website_traffic_etl_gcp_spark.plans.registry import REGISTRY

from .conftest import SF_DIR


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_dsir_weights_favor_target_like_docs(spark, tmp_path):
    # target slice = lang 'en'. A doc made ONLY of bigrams that also
    # dominate the en slice must outweigh a doc of raw-only bigrams.
    rows = [
        (1, "alpha beta alpha beta alpha beta", "en", "s", 32),
        (2, "alpha beta alpha beta", "en", "s", 21),
        (3, "alpha beta alpha beta alpha", "de", "s", 27),  # target-like
        (4, "gamma delta gamma delta gamma", "de", "s", 29),  # raw-only
    ]
    d = tmp_path / "documents.parquet"
    _docs_df(spark, rows).write.mode("overwrite").parquet(str(d))
    out = {
        r["doc_id"]: r
        for r in REGISTRY["dsir_importance_weights"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 4
    assert out[3]["logw"] > out[4]["logw"]
    # weights are per-feature sums: n_feats counts the doc's bigrams
    assert out[1]["n_feats"] == 5
    assert out[4]["n_feats"] == 4


def test_dsir_zero_bigram_doc_gets_zero_weight(spark, tmp_path):
    rows = [
        (1, "solo", "en", "s", 4),  # one token → no bigrams
        (2, "alpha beta", "en", "s", 10),
    ]
    d = tmp_path / "documents.parquet"
    _docs_df(spark, rows).write.mode("overwrite").parquet(str(d))
    out = {
        r["doc_id"]: r
        for r in REGISTRY["dsir_importance_weights"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out[1]["n_feats"] == 0 and out[1]["logw"] == 0.0


def test_token_entropy_uniform_and_constant(spark, tmp_path):
    rows = [
        (1, "a b c d", "en", "s", 7),  # 4 distinct → H = ln 4
        (2, "a a a a", "en", "s", 7),  # constant → H = 0
    ]
    d = tmp_path / "documents.parquet"
    _docs_df(spark, rows).write.mode("overwrite").parquet(str(d))
    out = {
        r["doc_id"]: r
        for r in REGISTRY["doc_token_entropy"].builder(spark, str(tmp_path)).collect()
    }
    assert abs(out[1]["entropy_nats"] - math.log(4)) < 1e-5
    assert out[1]["n_tokens"] == 4 and out[1]["n_distinct"] == 4
    assert out[2]["entropy_nats"] == 0.0 and out[2]["n_distinct"] == 1


def test_token_entropy_bounds_on_corpus(spark):
    rows = REGISTRY["doc_token_entropy"].builder(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        assert 1 <= r["n_distinct"] <= r["n_tokens"]
        # 0 ≤ H ≤ ln(n_distinct), with micro-nat rounding slack
        assert -1e-5 <= r["entropy_nats"] <= math.log(r["n_distinct"]) + 1e-5


def test_minhash_quality_eval_invariants(spark):
    row = REGISTRY["minhash_quality_eval"].builder(spark, SF_DIR).collect()[0]
    assert row["n_hits"] <= min(row["n_truth"], row["n_candidates"])
    assert row["n_truth"] > 0, "sf0.001 plants near-dup pairs"
    if row["n_candidates"]:
        assert 0.0 <= row["precision"] <= 1.0
    if row["n_truth"]:
        assert 0.0 <= row["recall"] <= 1.0
    # 16 hashes / 4 bands at jaccard ≥ 0.8 ⇒ expected candidate prob
    # 1-(1-j^4)^4 ≈ 0.88 — demand at least a loose floor so a banding
    # regression (e.g. a broken band key) fails loudly
    assert row["recall"] >= 0.5


def test_contrastive_margins_and_labels(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = REGISTRY["contrastive_pair_mining"].builder(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r["pos_id"] is not None:
            assert labels[r["pos_id"]] == labels[r["query_id"]]
            assert r["pos_id"] != r["query_id"]
        if r["neg_id"] is not None:
            assert labels[r["neg_id"]] != labels[r["query_id"]]
        if r["pos_id"] is not None and r["neg_id"] is not None:
            assert abs(r["margin"] - round(r["pos_cos"] - r["neg_cos"], 6)) < 1e-9


def test_fertility_exact_on_planted_docs(spark, tmp_path):
    rows = [
        (1, "one two three", "en", "s", 13),  # 3 tokens / 13 chars
        (2, "four five", "en", "s", 9),  # 2 tokens / 9 chars
        (3, "uno", "es", "s", 3),
    ]
    d = tmp_path / "documents.parquet"
    _docs_df(spark, rows).write.mode("overwrite").parquet(str(d))
    out = {
        r["lang"]: r
        for r in REGISTRY["tokenizer_fertility_by_lang"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    en = out["en"]
    assert en["n_docs"] == 2 and en["n_tokens"] == 5 and en["n_chars"] == 22
    assert en["tokens_per_char"] == 5 / 22
    assert out["es"]["chars_per_token"] == 3.0


def test_degree_stats_consistent_with_pairs(spark):
    from website_traffic_etl_gcp_spark.operators import dedup as dd
    from website_traffic_etl_gcp_spark.plans.documents import (
        JACCARD_MAX_DF,
        NGRAM_JACCARD_THRESHOLD,
    )

    rows = REGISTRY["dup_graph_degree_stats"].builder(spark, SF_DIR).collect()
    assert rows, "sf0.001 plants near-dup pairs"
    d = load_table(spark, SF_DIR, "documents")
    bucket = F.concat_ws(":", F.col("lang"), F.expr("n_chars div 50"))
    n_pairs = dd.ngram_jaccard_pairs(
        d, bucket, NGRAM_JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    ).count()
    # handshake: sum(degree × count) = 2 × |pairs|; shares sum to 1
    assert sum(r["degree"] * r["n_docs"] for r in rows) == 2 * n_pairs
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9


def test_gumbel_sample_deterministic_and_ranked(spark):
    b = REGISTRY["dsir_gumbel_sample"].builder
    r1 = b(spark, SF_DIR).collect()
    r2 = b(spark, SF_DIR).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2], "must be rerun-stable"
    assert len(r1) == min(200, load_table(spark, SF_DIR, "documents").count())
    keys = [r["sample_key"] for r in sorted(r1, key=lambda r: r["rank"])]
    assert keys == sorted(keys, reverse=True), "rank follows the Gumbel key"
    ranks = sorted(r["rank"] for r in r1)
    assert ranks == list(range(1, len(r1) + 1))
