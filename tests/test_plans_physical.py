"""Physical-plan assertions: the scale posture claimed in SURVEY.md §6
must be visible in the optimized plans — filters reach the parquet
scan, projections prune columns, fixed-size dims broadcast, and hot
paths stay inside whole-stage codegen."""

from __future__ import annotations

import contextlib
import io

from website_traffic_etl_gcp_spark.catalog import load_table
from website_traffic_etl_gcp_spark.plans.registry import REGISTRY

from .conftest import SF_DIR


def _explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _plan(spark, name: str, mode: str = "formatted") -> str:
    return _explain(REGISTRY[name].builder(spark, SF_DIR), mode)


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_on_lineitem(spark):
    plan = _plan(spark, "top_customers_by_revenue")
    # lineitem scan must read exactly the 3 needed columns
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_orderkey" in line:
            assert "l_extendedprice" in line and "l_discount" in line
            assert "l_quantity" not in line and "l_shipdate" not in line
            break
    else:
        raise AssertionError("no lineitem ReadSchema found in plan")


def test_fixed_dims_broadcast(spark):
    for name in ("q5_local_supplier_volume", "returned_items_report"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: nation/region not broadcast"


def test_returnflag_filter_pushed(spark):
    plan = _plan(spark, "returned_items_report")
    assert "EqualTo(l_returnflag,R)" in plan


def test_q1_stays_in_codegen(spark):
    # run the query so AQE finalizes, then check executed-plan codegen
    df = REGISTRY["q1_pricing_summary"].builder(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _explain(df, "formatted")
    assert "WholeStageCodegen" in plan or "Batched: true" in plan


def test_scan_reads_only_needed_events_columns(spark):
    plan = _plan(spark, "daily_active_users")
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "props" not in line and "event_type" not in line
            break
    else:
        raise AssertionError("no ReadSchema in plan")


def test_catalog_pushdown_intact(spark):
    # loading through the catalog must not break pushdown for events
    # despite the ns→µs timestamp conversion column
    df = load_table(spark, SF_DIR, "events").select("event_id").filter("event_id = 7")
    plan = _explain(df)
    assert "PushedFilters: [IsNotNull(event_id), EqualTo(event_id,7)]" in plan


def test_q4_semi_join_with_pushed_dates(spark):
    plan = _plan(spark, "q4_late_shipment_priority")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in plan


def test_q9_part_filter_reaches_scan(spark):
    plan = _plan(spark, "q9_nation_profit")
    assert "StringContains(p_name,red)" in plan
    assert "BroadcastHashJoin" in plan


def test_decontamination_pushes_source_split(spark):
    # the eval side must prune on source AT THE SCAN; the train side's
    # scan is hidden behind its reuse checkpoint (the explode feeds
    # both the size aggregate and the probe join, materialized once),
    # so its pushdown is asserted on the pre-checkpoint frame directly
    plan = _plan(spark, "decontaminate_eval_overlap")
    assert "EqualTo(source,src0)" in plan

    import contextlib
    import io

    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.operators import textstats as ts
    from website_traffic_etl_gcp_spark.plans.documents import (
        EVAL_SOURCE,
        _docs,
    )

    tr = ts.exploded_shingles(
        _docs(spark, SF_DIR).filter(F.col("source") != EVAL_SOURCE)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tr.explain(True)
    assert f"Not(EqualTo(source,{EVAL_SOURCE}))" in buf.getvalue()


def test_pii_redact_is_map_only(spark):
    # redaction is a projection: no Exchange anywhere in the plan, and
    # the scan reads only (doc_id, text)
    plan = _plan(spark, "pii_redact_report")
    assert "Exchange" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "doc_id" in line and "text" in line
            assert "lang" not in line and "source" not in line
            break
    else:
        raise AssertionError("no ReadSchema in plan")


def test_doc_pack_bins_single_shuffle(spark):
    # the window partitions by source and the rollup groups by
    # (source, bin_id): the groupBy must reuse the window's hash
    # partitioning — exactly ONE shuffle exchange in the whole plan
    import re

    plan = _plan(spark, "doc_pack_bins")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}:\n{plan}"
    # and the document text must NOT ride through that shuffle — only
    # the materialized token count does
    exch = plan.split("Exchange")[1].splitlines()[1]
    assert "text" not in exch, f"text shipped through the shuffle: {exch}"


def test_dup_ngram_fraction_no_shuffle(spark):
    # per-doc array algebra: a pure projection, no Exchange
    plan = _plan(spark, "dup_ngram_fraction")
    assert "Exchange" not in plan


def test_q20_pushdown_and_broadcasts(spark):
    """Q20 analog: the ship-date window must reach the lineitem scan,
    the widget part subset and the supplier lookup must broadcast —
    the nested availability aggregate never shuffles the fact table
    more than once."""
    plan = _plan(spark, "q20_excess_availability")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert plan.count("BroadcastHashJoin") >= 2, "part/supplier not broadcast"
    # lineitem scan reads only the three needed columns
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_suppkey" in line:
            assert "l_partkey" in line and "l_quantity" in line
            assert "l_extendedprice" not in line
            break
    else:
        raise AssertionError("no lineitem ReadSchema found in plan")


def test_chunk_windows_is_map_only(spark):
    # sequence + explode + slice: chunking must not shuffle at any SF
    plan = _plan(spark, "doc_chunk_windows")
    assert "Exchange" not in plan, "doc_chunk_windows plans a shuffle"


def test_mix_sample_broadcasts_rates(spark):
    # the per-language rate table is k rows — it must broadcast, and
    # the corpus scan must not read the text-independent columns twice
    plan = _plan(spark, "data_mix_sample")
    assert "BroadcastHashJoin" in plan, "rate join not broadcast"
    assert "CartesianProduct" not in plan


def test_export_shards_single_shuffle(spark):
    # shard stats are one hash-groupBy: exactly one exchange, keyed on
    # the shard id, with a partial_ aggregate before it (map-side combine)
    plan = _plan(spark, "export_training_shards")
    assert plan.count("+- Exchange") == 1
    assert "partial_count" in plan


def test_span_apply_no_cartesian_and_pruned_scan(spark):
    plan = _plan(spark, "dedup_span_apply")
    assert "CartesianProduct" not in plan
    # the corpus-side scans need only doc_id + text
    for line in plan.splitlines():
        if "ReadSchema" in line and "text" in line:
            assert "lang" not in line and "source" not in line
            break
    else:
        raise AssertionError("no documents ReadSchema found")


def test_semantic_cells_joins_on_cell_never_cartesian(spark):
    # r13 shape: the within-cell pairwork is the Arrow-batched per-cell
    # kernel (FlatMapGroupsInPandas keyed on cell_id — never a pair
    # join), the verdict join stays a keyed join, and nothing plans a
    # cartesian product or a row-at-a-time Python UDF
    plan = _plan(spark, "dedup_semantic_cells")
    assert "FlatMapGroupsInPandas" in plan, "pairwork kernel missing"
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), "verdict join missing or not keyed"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_leakage_safe_split_is_map_only(spark):
    # split assignment is pure per-row hashing: no Exchange, and the
    # scan reads only doc_id + text
    plan = _plan(spark, "leakage_safe_split")
    assert "Exchange" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "lang" not in line and "source" not in line
            break
    else:
        raise AssertionError("no documents ReadSchema found")


def test_winnow_fingerprints_zero_shuffle(spark):
    # r14 kernel: winnowing is per-doc, so the fingerprint pass plans
    # ZERO keyed exchanges — one MapInArrow over the (widened) scan;
    # the old explode + doc_id-window shuffle of shingle strings is
    # gone. The only allowed Exchange is the narrow-input round-robin
    # fan-out (partitioning.widen_narrow_input), never a hash one.
    plan = _plan(spark, "doc_winnow_fingerprints")
    assert "CartesianProduct" not in plan
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan
    assert "Window" not in plan


def test_winnow_pairs_keyed_join_no_cartesian(spark):
    # posting-list self-join must be keyed on sel_hash with the df cap
    # applied before the join
    plan = _plan(spark, "dedup_winnow_pairs")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(sel_hash" in plan


def test_cdc_chunks_zero_shuffle(spark):
    # r14 kernel: chunking is per-doc, so the chunk pass plans ZERO
    # keyed exchanges — one MapInArrow over the (widened) scan; the
    # old lag-window + collect_list chunk rebuild is gone. The only
    # allowed Exchange is the narrow-input round-robin fan-out.
    plan = _plan(spark, "doc_cdc_chunks")
    assert "CartesianProduct" not in plan
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan
    assert "Window" not in plan


def test_cdc_span_manifest_no_cartesian_keyed_joins(spark):
    # boilerplate set joins back on chunk_hash; island merge is a
    # per-doc window — keyed exchanges only
    plan = _plan(spark, "dedup_cdc_span_manifest")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(chunk_hash" in plan


def test_cdc_span_apply_no_corpus_explode_on_probe(spark):
    # the cut is a higher-order filter + exists probe: no cartesian,
    # and the final join back to docs is keyed on doc_id
    plan = _plan(spark, "dedup_cdc_span_apply")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_assignment_is_map_side_argmin_no_exchange(spark):
    """The r5 verdict's scale finding: nearest-centroid assignment
    must NOT shuffle the corpus (the old window-rank form exchanged
    k× the corpus with vector payloads). The assignment frame itself
    — corpus scan → packed-centroid broadcast → transform/array_min —
    must contain no hashpartitioning exchange and no Window at all;
    the only allowed exchange is the SinglePartition collect_list of
    the k centroids."""
    from website_traffic_etl_gcp_spark.catalog import load_table
    from website_traffic_etl_gcp_spark.operators.clustering import _assign
    from website_traffic_etl_gcp_spark.operators.similarity import assign_cells

    emb = load_table(spark, SF_DIR, "embeddings")
    # kmeans path: literal centroids → NO exchange of any kind
    cents = [(1, [0.1] * 8), (2, [0.2] * 8)]
    plan = _explain(_assign(emb, cents, "vec_id", "embedding"))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    # IVF path: frame centroids packed via collect_list → the corpus
    # side stays exchange-free; only a SinglePartition k-row fold
    centroids = emb.limit(4).selectExpr(
        "vec_id AS cell_id", "embedding AS centroid"
    )
    plan = _explain(assign_cells(emb, centroids, 2))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_kmeans_and_ivf_queries_lost_the_argmin_exchange(spark):
    """End-to-end pin for the four r5 perf_weak queries: no Window
    operator survives anywhere in kmeans_embedding_clusters or
    knn_ivf_cells (their only window WAS the argmin), and
    dedup_semantic_cells keeps windows out of its assignment (its
    plan has keyed joins but no Window either)."""
    for name in ("kmeans_embedding_clusters", "knn_ivf_cells"):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning(vec_id" not in plan, name
    plan = _plan(spark, "dedup_semantic_cells")
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "Window" not in plan


def test_trimmed_stats_windows_only_the_histogram(spark):
    # r14 rewrite: the per-type ROW_NUMBER window over every event row
    # (one task per event_type at any corpus size) is gone — the corpus
    # pass is a parallel hash aggregate to (event_type, value, cnt) and
    # the rank arithmetic runs on the bounded cumulative histogram
    plan = _plan(spark, "value_trimmed_stats_by_type")
    assert "row_number" not in plan.lower()
    # the histogram exchange is keyed (event_type, value): parallel
    assert "hashpartitioning(event_type#" in plan
    assert ", value#" in plan.split("hashpartitioning(event_type#")[1][:40]


def test_balance_deciles_windows_only_the_histogram(spark):
    # r14 rewrite: the global NTILE window over every customer row (a
    # ONE-task sort at any corpus size) is gone — the corpus pass is a
    # parallel hash aggregate to (c_acctbal, cnt) and the NTILE
    # boundary arithmetic runs on the bounded cumulative histogram
    plan = _plan(spark, "customer_balance_deciles")
    assert "ntile" not in plan.lower()
    # the histogram exchange is keyed on the balance: parallel
    assert "hashpartitioning(c_acctbal#" in plan


def test_balance_deciles_match_ntile_exactly(spark):
    # bit-equivalence of the closed-form bucket boundaries vs Spark's
    # own NTILE(10), on planted frames that exercise every n mod 10
    # residue and ties straddling decile boundaries
    from decimal import Decimal

    from pyspark.sql import Window, functions as F

    from website_traffic_etl_gcp_spark.plans.advanced import (
        customer_balance_deciles,
    )

    for n, tie_every in ((7, 2), (40, 3), (41, 3), (45, 1), (49, 4), (104, 5)):
        rows = [
            # heavy ties (tie_every rows share a balance) so groups
            # straddle the closed-form boundaries
            (k + 1, "SEG", Decimal(f"{(k // tie_every) * 7 % 113}.25"))
            for k in range(n)
        ]
        df = spark.createDataFrame(
            rows, "c_custkey bigint, c_mktsegment string, c_acctbal decimal(12,2)"
        )
        w = Window.orderBy("c_acctbal", "c_custkey")
        expect = {
            tuple(r)
            for r in df.withColumn(
                "decile", F.ntile(10).over(w).cast("bigint")
            )
            .groupBy("decile")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.min("c_acctbal").cast("double").alias("lo"),
                F.max("c_acctbal").cast("double").alias("hi"),
                (
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)).cast("double")
                ).alias("avg_bal"),
            )
            .collect()
        }
        # force the histogram branch: planted frames are tiny, and the
        # point is bit-equivalence of the closed-form arithmetic
        from website_traffic_etl_gcp_spark.plans.advanced import (
            _deciles_histogram,
        )

        got = {
            tuple(r)
            for r in _deciles_histogram(df.select("c_acctbal")).collect()
        }
        assert got == expect, f"n={n} tie_every={tie_every}"


def test_signup_median_windows_only_the_histogram(spark):
    # r15 rewrite: the global ROW_NUMBER median (a ONE-task sort of
    # every converted user at any corpus size) is gone — pass 2
    # hash-aggregates in-band deltas to a bounded histogram in
    # parallel and only THAT goes single-partition for the cumulative
    plan = _plan(spark, "signup_to_purchase_latency")
    assert "row_number" not in plan.lower()
    # the histogram exchange is keyed on the bucketed delta: parallel
    assert "hashpartitioning(bucket#" in plan


def test_two_phase_median_matches_row_number_exactly(spark):
    # bit-equivalence of the two-phase exact median vs the literal
    # global row_number form, on planted frames exercising both n
    # parities, heavy ties, a band-bypass size (n <= accuracy) and
    # sizes just above it (band + sentinel bucket in play)
    import random

    from pyspark.sql import Window, functions as F

    from website_traffic_etl_gcp_spark.plans.advanced import (
        _two_phase_exact_median,
    )

    random.seed(7)
    cases = [
        (1, lambda i: 5),
        (2, lambda i: i),
        (7, lambda i: i % 3),
        (101, lambda i: random.randrange(4)),  # just above acc=100
        (250, lambda i: random.randrange(1000)),
        (1000, lambda i: random.randrange(20)),  # massive ties
        (1001, lambda i: random.randrange(10**9)),
    ]
    for n, valgen in cases:
        rows = [(i + 1, valgen(i)) for i in range(n)]
        df = spark.createDataFrame(rows, "user_id bigint, delta_us bigint")
        w = Window.orderBy("delta_us", "user_id")
        ranked = df.select(
            "delta_us",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        ref = ranked.filter(
            F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint")
        ).collect()[0]["delta_us"]
        got = _two_phase_exact_median(df, "delta_us", 100).collect()
        assert len(got) == 1, (n, got)
        assert got[0]["median_v"] == ref, (n, ref, got)
        assert got[0]["n"] == n
        assert got[0]["sum_v"] == sum(v for _, v in rows)
    # empty input keeps the row_number form's empty-result contract
    empty = spark.createDataFrame([], "user_id bigint, delta_us bigint")
    assert _two_phase_exact_median(empty, "delta_us", 100).count() == 0


# The ten JVM-only queries of the warehouse benchmark mix.
WAREHOUSE_MIX = (
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_nation_profit",
    "customers_above_segment_avg",
    "salted_orderstatus_revenue",
    "asof_last_event_before_order",
    "approx_distinct_users_daily",
    "sessionize_events",
    "funnel_conversion",
    "etl_traffic_hourly",
)


def test_repeated_mix_reuses_generated_classes(spark):
    """The mix generates more whole-stage-codegen classes than Spark's
    default class cache holds (100); with the session's larger cache a
    repeated pass reuses them instead of compiling each one again."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for _ in range(3):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in WAREHOUSE_MIX:
            df = REGISTRY[name].builder(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
        compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
    # at most a tenth of the first pass is compiled again by the third
    assert compiles[2] <= compiles[0] // 10, compiles
