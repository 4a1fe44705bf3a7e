"""Bucketed-layout guarantee: joining two tables bucketed on the join
key must produce a plan with NO shuffle exchange — the whole point of
paying the bucketed write once."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.catalog import load_table
from website_traffic_etl_gcp_spark.sources import bucketing

from .conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    bucketing.write_bucketed(orders, "b_orders", "o_orderkey", sort_col="o_orderkey")
    bucketing.write_bucketed(
        lineitem, "b_lineitem", "l_orderkey", sort_col="l_orderkey"
    )

    # disable broadcast so the planner must choose between shuffled and
    # bucketed SMJ — at 100 TB neither side is broadcastable anyway
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(
            spark, "b_orders", "b_lineitem", "o_orderkey", "l_orderkey"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # and the result is correct
    expected = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).count()
    assert joined.count() == expected

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _no_broadcast(spark):
    """At 100 TB the corpus index is not broadcastable; force the
    planner to choose between shuffled and bucketed joins."""
    return spark.conf.get("spark.sql.autoBroadcastJoinThreshold")


def _dir_state(root: str) -> dict[str, int]:
    """Every file under ``root`` with its mtime."""
    state = {}
    for r, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(r, fn)
            state[p] = os.stat(p).st_mtime_ns
    return state


def test_persisted_exact_index_probe_is_exchange_free(spark):
    """The persisted fingerprint index (operators/dedup_index.py): the
    probe join must not shuffle the index side — exactly ONE exchange
    (the ingest batch moving into the index's bucket layout)."""
    from website_traffic_etl_gcp_spark.operators import dedup_index as di

    docs = load_table(spark, SF_DIR, "documents")
    fp = di.exact_fingerprints(docs)
    corpus = fp.filter(F.col("doc_id") % 2 == 0)
    batch = fp.filter(F.col("doc_id") % 2 == 1)
    table = bucketing.index_table_name("fp_test", SF_DIR)
    di.ensure_exact_index(corpus, table)

    prev = _no_broadcast(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = di.probe_exact_index(spark, batch, table)
        plan = _plan(probe)
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"index side shuffled:\n{plan}"
        # and the same probe with bucketing ignored needs one MORE
        # exchange — proof the bucketed layout is what saves it
        spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
        plan_off = _plan(di.probe_exact_index(spark, batch, table))
        assert plan_off.count("Exchange hashpartitioning") == n_exchanges + 1
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # correctness: identical to the in-query index
    expected = (
        batch.join(
            corpus.groupBy("fingerprint").agg(
                F.min("doc_id").alias("canonical_id")
            ),
            "fingerprint",
            "left",
        ).count()
    )
    assert probe.count() == expected
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_persisted_minhash_index_probe_is_exchange_free(spark):
    """Both corpus-side tables (band index on band_id, signatures on
    doc_id) must join without shuffling: disabling bucketing adds
    exactly two exchanges — one per index table."""
    from website_traffic_etl_gcp_spark.operators import dedup as dd
    from website_traffic_etl_gcp_spark.operators import dedup_index as di

    docs = load_table(spark, SF_DIR, "documents")
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=False)
    corpus = sigs.filter(F.col("doc_id") % 2 == 0)
    batch = sigs.filter(F.col("doc_id") % 2 == 1)
    bands_t = bucketing.index_table_name("mhbands_test", SF_DIR)
    sigs_t = bucketing.index_table_name("mhsigs_test", SF_DIR)
    di.ensure_minhash_index(corpus, bands_t, sigs_t)

    prev = _no_broadcast(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = di.probe_minhash_index(spark, batch, bands_t, sigs_t)
        n_on = _plan(probe).count("Exchange hashpartitioning")
        spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
        n_off = _plan(
            di.probe_minhash_index(spark, batch, bands_t, sigs_t)
        ).count("Exchange hashpartitioning")
        assert n_off == n_on + 2, (
            f"expected both index scans exchange-free: {n_on} exchanges "
            f"bucketed vs {n_off} unbucketed"
        )
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    assert probe.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
    spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")


def test_persisted_ivf_index_probe_reads_in_place(spark):
    """The persisted IVF index (operators/ann_index.py): the probe
    must (a) return exactly the in-query ivf_topk result and (b) do
    ZERO corpus-side recompute — no centroid cross-join or norm
    aggregation on the stored side of the probe plan, and no exchange
    of the stored table (the probe batch broadcasts)."""
    from website_traffic_etl_gcp_spark.operators import ann_index as ai
    from website_traffic_etl_gcp_spark.operators import similarity as sim
    from website_traffic_etl_gcp_spark.plans.embeddings import (
        KNN_K,
        _probe_filter,
        label_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = label_centroids(emb).localCheckpoint()  # pin avg floats
    q = _probe_filter(emb)
    cells_t = bucketing.index_table_name("ivfcells_test", SF_DIR)
    cents_t = bucketing.index_table_name("ivfcents_test", SF_DIR)
    try:
        ai.ensure_ivf_index(emb, cents, cells_t, cents_t)
        probe = ai.probe_ivf_index(spark, q, cells_t, cents_t, KNN_K, n_probe=2)
        expected = sim.ivf_topk(emb, q, cents, KNN_K, n_probe=2)
        got = {tuple(r) for r in probe.collect()}
        want = {tuple(r) for r in expected.collect()}
        assert got == want
        plan = _plan(probe)
        # AQE explain prints Final + Initial sections; count nodes in
        # the executed (final) section only
        final = plan.split("== Initial Plan ==")[0]
        # the probe restricts candidates to the probed cells via a
        # HASH join on the cell key: a degenerate (trivially-true)
        # cell equality would turn the main join into a nested loop
        # over the whole corpus (brute force in disguise)
        assert "BroadcastHashJoin [cell_id" in final, final
        # only ONE nested-loop join (the tiny query-side centroid
        # assignment crossJoin); the stored table is never exchanged
        assert final.count("BroadcastNestedLoopJoin") <= 1, final
        assert "Exchange hashpartitioning(cell_id" not in final
        assert "Bucketed: true" in final
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cells_t}")
        spark.sql(f"DROP TABLE IF EXISTS {cents_t}")


def test_persisted_ivfpq_index_probe_reads_in_place(spark, tmp_path, monkeypatch):
    """The persisted IVF+PQ index: the probe must (a) return exactly
    the in-query ivfpq_topk result (same coarse centroids + codebook),
    and (b) scan the stored CODE table in place — since r14 the
    candidate restriction happens inside the shared ADC scan kernel
    (pq.adc_shortlist_scan: per-query cell mask + partition-local
    top-k in one Arrow pass), so the stored table is never exchanged
    on the cell key and no corpus x queries pair frame exists at
    all. (c) A session that finds the tables published registers them
    without running codebook training or PQ encoding (whose codebook
    collect is eager) and without touching a file."""
    from website_traffic_etl_gcp_spark.operators import ann_index as ai
    from website_traffic_etl_gcp_spark.operators import pq
    from website_traffic_etl_gcp_spark.plans.embeddings import (
        EMBED_DIM,
        KNN_K,
        _probe_filter,
        label_centroids,
    )

    idx = str(tmp_path / "idx")
    monkeypatch.setenv("WTES_INDEX_DIR", idx)
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = label_centroids(emb).localCheckpoint()  # pin avg floats
    q = _probe_filter(emb)
    cb_t = bucketing.index_table_name("ivfpqcb", SF_DIR)
    codes_t = bucketing.index_table_name("ivfpqcodes_test", SF_DIR)
    cents_t = bucketing.index_table_name("ivfpqcents_test", SF_DIR)
    pqcb_t = bucketing.index_table_name("ivfpqcb_test", SF_DIR)
    tables = (cb_t, codes_t, cents_t, pqcb_t)

    def ensure_and_probe():
        cb = ai.ensure_pq_codebooks(emb, SF_DIR, EMBED_DIM)
        ai.ensure_ivfpq_index(
            emb, cents, cb, codes_t, cents_t, pqcb_t, EMBED_DIM
        )
        probe = ai.probe_ivfpq_index(
            spark, q, emb, codes_t, cents_t, pqcb_t, EMBED_DIM, KNN_K,
            n_probe=3, rerank_mult=8,
        )
        return cb, probe

    def drop_tables():
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    drop_tables()  # other tests may have registered the shared codebook
    try:
        cb, probe = ensure_and_probe()
        expected = pq.ivfpq_topk(
            emb, q, cents, cb, EMBED_DIM, KNN_K, n_probe=3, rerank_mult=8
        )
        got = {tuple(r) for r in probe.collect()}
        want = {tuple(r) for r in expected.collect()}
        assert got == want
        assert got  # non-vacuous
        plan = _plan(probe)
        final = plan.split("== Initial Plan ==")[0]
        # the ADC scan is the Arrow kernel over the stored table —
        # no join, no exchange of the stored table on the cell key
        assert "MapInPandas" in final, final
        assert "Exchange hashpartitioning(cell_id" not in final

        # "new session": catalog loses the tables, files stay
        before = _dir_state(idx)
        drop_tables()

        def eager(*args, **kwargs):
            raise AssertionError("eager build step ran for a published index")

        monkeypatch.setattr(pq, "train_codebooks", eager)
        monkeypatch.setattr(pq, "pq_encode", eager)
        _, probe2 = ensure_and_probe()
        assert {tuple(r) for r in probe2.collect()} == got
        assert _dir_state(idx) == before
    finally:
        drop_tables()


def test_incremental_ivf_delta_append_and_probe(spark):
    """append_ivf_delta (operators/ann_index.py): a new batch assigns
    against the FROZEN stored centroids at O(batch) cost into a
    bucketed sidecar; probing base ∪ delta (a) equals the in-query
    IVF over base+batch with the SAME centroids, (b) reaches batch
    vectors as candidates, and (c) never exchanges either stored
    table (both scan in place; the probe side broadcasts)."""
    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.operators import ann_index as ai
    from website_traffic_etl_gcp_spark.operators import similarity as sim
    from website_traffic_etl_gcp_spark.plans.embeddings import (
        KNN_K,
        _probe_filter,
        label_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    cents = label_centroids(base).localCheckpoint()  # pin avg floats
    q = _probe_filter(emb)
    cells_t = bucketing.index_table_name("ivfbase_test", SF_DIR)
    cents_t = bucketing.index_table_name("ivfbasec_test", SF_DIR)
    delta_t = bucketing.index_table_name("ivfdelta_test", SF_DIR)
    delta_actual = None
    try:
        ai.ensure_ivf_index(base, cents, cells_t, cents_t)
        delta_actual = ai.append_ivf_delta(batch, cents_t, delta_t)
        # content-keyed sidecar: the published name folds in the batch
        # fingerprint, and a DIFFERENT batch under the same base name
        # gets its own table instead of a silent no-op
        assert delta_actual.startswith(delta_t + "_b")
        other = ai.append_ivf_delta(
            batch.limit(max(1, batch.count() // 2)), cents_t, delta_t
        )
        assert other != delta_actual
        spark.sql(f"DROP TABLE IF EXISTS {other}")
        # the sidecar holds exactly the batch, each in one cell
        n_batch = batch.count()
        assert spark.table(delta_actual).count() == n_batch
        probe = ai.probe_ivf_index(
            spark, q, cells_t, cents_t, KNN_K, n_probe=2,
            delta_tables=(delta_actual,),
        )
        expected = sim.ivf_topk(emb, q, cents, KNN_K, n_probe=2)
        got = {tuple(r) for r in probe.collect()}
        want = {tuple(r) for r in expected.collect()}
        assert got == want
        # batch vectors are genuinely reachable through the delta
        batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
        assert any(r[1] in batch_ids for r in got)
        final = _plan(probe).split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin [cell_id" in final, final
        assert final.count("BroadcastNestedLoopJoin") <= 1, final
        assert "Exchange hashpartitioning(cell_id" not in final
        assert "Bucketed: true" in final
    finally:
        for t in (cells_t, cents_t, delta_t, delta_actual):
            if t:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
