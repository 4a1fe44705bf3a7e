"""End-to-end pipeline test: landing CSV → transform/quarantine →
backup + processed CSV + warehouse parquet, append idempotency via
dedupe. Mirrors the reference's run contract (__main__.py:25-74)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.config import PipelineConfig
from website_traffic_etl_gcp_spark.pipeline import run_etl
from website_traffic_etl_gcp_spark.sources import readers, writers


@pytest.fixture
def landing(tmp_path):
    rows = [
        ("15/03/2024 10:00:00", "120.5"),
        ("16/03/2024 11:30:00", "99.25"),
        ("31/02/2024 00:00:00", "1.0"),  # impossible date → quarantine
        ("17/03/2024 09:15:00", "not-a-number"),  # bad traffic → quarantine
        ("18/03/2024 23:59:59", "42.0"),
    ]
    p = tmp_path / "raw.csv"
    pd.DataFrame(rows, columns=["time", "traffic"]).to_csv(p, index=False)
    return tmp_path, p


def _config(base, raw):
    return PipelineConfig(
        input_path=str(raw),
        warehouse_path=str(base / "warehouse" / "traffic"),
        processed_dir=str(base / "processed"),
        backup_dir=str(base / "backups"),
    )


def test_run_etl_end_to_end(spark, landing):
    base, raw = landing
    config = _config(base, raw)
    counts = run_etl(spark, config, run_timestamp="20260101_000000")
    assert counts == {"loaded": 3, "quarantined": 2}

    wh = writers.read_warehouse(spark, config.warehouse_path)
    assert set(wh.columns) == {"time", "traffic", "created_at"}
    times = {r["time"] for r in wh.select("time").collect()}
    assert times == {
        "2024-03-15 10:00:00", "2024-03-16 11:30:00", "2024-03-18 23:59:59",
    }
    rejects = writers.read_warehouse(spark, config.warehouse_path + "_rejects")
    reasons = {r["reject_reason"] for r in rejects.collect()}
    assert reasons == {"unparseable_time", "null_traffic"}
    # backup + processed artifacts exist
    assert any((base / "backups").iterdir())
    assert any((base / "processed").iterdir())


def test_append_then_truncate(spark, landing):
    base, raw = landing
    config = _config(base, raw)
    run_etl(spark, config, run_timestamp="20260101_000000")
    counts2 = run_etl(spark, config, run_timestamp="20260102_000000")
    # `loaded` is THIS batch's row count (reference load.py:110
    # load_job.output_rows), not the cumulative warehouse size…
    assert counts2["loaded"] == 3
    # …but the append disposition did double the table.
    assert writers.read_warehouse(spark, config.warehouse_path).count() == 6
    deduped = writers.dedupe_warehouse(
        writers.read_warehouse(spark, config.warehouse_path),
        ("time", "traffic"),
    )
    assert deduped.count() == 3
    counts3 = run_etl(
        spark, config.with_truncate(), run_timestamp="20260103_000000"
    )
    assert counts3["loaded"] == 3  # truncate reset it


def _parse_above_cache(df) -> tuple[bool, bool]:
    """(has an InMemoryRelation leaf, some node above the cache holds a
    to_timestamp expression) for ``df``'s optimized plan. The cached
    plan hangs off the InMemoryRelation, which is a leaf, so walking
    ``children()`` never descends into it."""
    cached, parsed_above = False, False
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "InMemoryRelation":
            cached = True
            continue
        exprs = node.expressions().toString().lower()
        parsed_above |= "to_timestamp" in exprs or "gettimestamp" in exprs
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return cached, parsed_above


def test_run_etl_single_source_scan(spark, landing, monkeypatch):
    """Each landing row is scanned and parsed once per run (~4 source
    scans and parses before the parsed frame was persisted — at 100 TB
    that is 4 passes over the landing zone):

    - one scan: the landing CSV is overwritten right after the first
      action, and the counts, warehouse and rejects still hold the
      original rows;
    - one parse: every frame handed to a writer reads an in-memory
      relation with no day-first parse above it;
    - the caches are released by the end of the run."""
    from website_traffic_etl_gcp_spark import pipeline

    base, raw = landing
    config = _config(base, raw)
    handed = []

    orig_save = pipeline.writers.save_csv

    def spy_save(df, *a, **kw):
        handed.append(("csv", _parse_above_cache(df)))
        out = orig_save(df, *a, **kw)
        pd.DataFrame(
            [("01/01/2024 00:00:00", "1.0")], columns=["time", "traffic"]
        ).to_csv(raw, index=False)
        return out

    orig_load = pipeline.writers.load_to_warehouse

    def spy_load(df, path, *a, **kw):
        handed.append((path, _parse_above_cache(df)))
        return orig_load(df, path, *a, **kw)

    monkeypatch.setattr(pipeline.writers, "save_csv", spy_save)
    monkeypatch.setattr(pipeline.writers, "load_to_warehouse", spy_load)

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    cached_before = persistent_ids()
    counts = run_etl(spark, config, run_timestamp="20260101_000000")
    assert counts == {"loaded": 3, "quarantined": 2}
    wh = writers.read_warehouse(spark, config.warehouse_path)
    assert sorted(r["time"] for r in wh.collect()) == [
        "2024-03-15 10:00:00", "2024-03-16 11:30:00", "2024-03-18 23:59:59",
    ]
    rejects = writers.read_warehouse(spark, config.warehouse_path + "_rejects")
    assert sorted(r["time_raw"] for r in rejects.collect()) == [
        "17/03/2024 09:15:00", "31/02/2024 00:00:00",
    ]

    assert [name for name, _ in handed] == [
        "csv", config.warehouse_path, config.warehouse_path + "_rejects",
    ]
    for name, plan in handed:
        assert plan == (True, False), name
    # run_etl must release its caches (a long-lived session would
    # otherwise accumulate a cached copy of every batch). Compare ids,
    # not counts: a JVM GC during the run drops earlier tests'
    # unreferenced localCheckpoint RDDs from the same map.
    assert persistent_ids() - cached_before == set()


def test_validate_missing_columns(spark, tmp_path):
    p = tmp_path / "bad.csv"
    pd.DataFrame([("x",)], columns=["nottime"]).to_csv(p, index=False)
    from pyspark.sql.types import StringType, StructField, StructType

    df = readers.read_csv(
        spark, str(p), StructType([StructField("nottime", StringType())])
    )
    with pytest.raises(readers.ExtractionError, match="Missing columns"):
        readers.validate_traffic_columns(df)


def test_csv_export_readable(spark, landing):
    base, raw = landing
    config = _config(base, raw)
    run_etl(spark, config, run_timestamp="20260101_000000")
    out = next((base / "processed").iterdir())
    back = spark.read.option("header", "true").csv(str(out))
    assert back.count() == 3
    assert set(back.columns) == {"time", "traffic", "created_at"}


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC interchange: write the events slice as ORC, read it back via
    read_orc, and confirm equality plus predicate pushdown reaching the
    ORC scan (searchArgument in the plan)."""
    from website_traffic_etl_gcp_spark.catalog import load_table
    from website_traffic_etl_gcp_spark.sources.readers import read_orc

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    path = str(tmp_path / "events_orc")
    ev.write.mode("overwrite").orc(path)

    back = read_orc(spark, path)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)
    a = sorted(tuple(r) for r in ev.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b

    import contextlib
    import io

    flt = back.filter(back.event_type == "purchase")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        flt.explain(True)
    plan = buf.getvalue()
    # the filter must be INSIDE the pushed list — 'event_type' merely
    # appearing elsewhere (Filter node, ReadSchema) must not pass
    import re

    assert re.search(r"PushedFilters: \[[^\]]*event_type", plan), plan
