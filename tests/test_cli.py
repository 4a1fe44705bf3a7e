"""CLI smoke tests: the front-end a user actually types. Subprocess
invocations (the CLI builds its own session) — one fast command per
subcommand family; the heavy paths (run, compact) are covered by
test_pipeline/test_compaction through their underlying functions."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "website_traffic_etl_gcp_spark", *args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
    )


def test_list_queries_inventory():
    proc = _cli("list-queries")
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) >= 100  # the full registry prints
    assert any("q1_pricing_summary" in ln for ln in lines)
    # round 4: every query is oracle-backed (error-bound verdicts for
    # the approximate ops) — no rows-only entries remain
    assert not any("[rows-only]" in ln for ln in lines)


def test_explain_shows_physical_plan():
    proc = _cli("explain", "q1_pricing_summary")
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "PushedFilters" in proc.stdout
    assert "== Physical Plan ==" in proc.stdout


def test_unknown_query_fails_cleanly():
    proc = _cli("query", "no_such_query")
    assert proc.returncode == 1
    assert "Unknown query" in proc.stderr + proc.stdout


def test_run_from_env_alone(tmp_path):
    """`run` needs no flags: config comes entirely from the environment
    (reference __main__.py:77-94 + config.py:34-62)."""
    import os

    import pandas as pd

    raw = tmp_path / "raw.csv"
    pd.DataFrame(
        [("15/03/2024 10:00:00", "120.5"), ("16/03/2024 11:30:00", "7.5")],
        columns=["time", "traffic"],
    ).to_csv(raw, index=False)
    env = {
        **os.environ,
        "TRAFFIC_INPUT_PATH": str(raw),
        "TRAFFIC_WAREHOUSE_PATH": str(tmp_path / "wh" / "traffic"),
        "TRAFFIC_PROCESSED_DIR": str(tmp_path / "proc"),
        "TRAFFIC_BACKUP_DIR": str(tmp_path / "bak"),
    }
    proc = subprocess.run(
        [sys.executable, "-m", "website_traffic_etl_gcp_spark", "run"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "loaded=2 quarantined=0" in proc.stderr + proc.stdout


def test_run_missing_env_fails_with_config_error():
    """Reference config.py:44-48 error surface through the CLI."""
    import os

    env = {
        k: v for k, v in os.environ.items() if not k.startswith("TRAFFIC_")
    }
    proc = subprocess.run(
        [sys.executable, "-m", "website_traffic_etl_gcp_spark", "run"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
        env=env,
    )
    assert proc.returncode == 1
    out = proc.stderr + proc.stdout
    assert "Missing required environment variables" in out
    assert "TRAFFIC_INPUT_PATH" in out


def test_export_shards_cli(tmp_path):
    out = str(tmp_path / "shards")
    proc = _cli(
        "export-shards", "/root/testdata/sf0.001/documents.parquet", out,
        "--n-shards", "8",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "shards:" in proc.stdout
    dirs = [p for p in Path(out).iterdir() if p.name.startswith("shard_id=")]
    assert dirs


def test_export_shards_bad_id_col(tmp_path):
    proc = _cli(
        "export-shards", "/root/testdata/sf0.001/documents.parquet",
        str(tmp_path / "x"), "--id-col", "nope",
    )
    assert proc.returncode == 1
    assert "id column" in proc.stderr + proc.stdout


def test_export_splits_cli(tmp_path):
    out = str(tmp_path / "splits")
    proc = _cli(
        "export-splits", "/root/testdata/sf0.001/documents.parquet", out,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "train:" in proc.stdout
    dirs = {p.name for p in Path(out).iterdir() if p.name.startswith("split=")}
    assert "split=train" in dirs


def test_export_splits_bad_text_col(tmp_path):
    proc = _cli(
        "export-splits", "/root/testdata/sf0.001/documents.parquet",
        str(tmp_path / "x"), "--text-col", "nope",
    )
    assert proc.returncode == 1
    assert "text column" in proc.stderr + proc.stdout


def test_export_splits_rejects_bad_percentages(tmp_path):
    proc = _cli(
        "export-splits", "/root/testdata/sf0.001/documents.parquet",
        str(tmp_path / "x"), "--train-pct", "90", "--val-pct", "10",
    )
    assert proc.returncode == 1
    assert "percentages" in proc.stderr + proc.stdout


def test_snapshot_cli_lifecycle(tmp_path, spark):
    """snapshot subcommand: build a table + a merge source with the
    session fixture, then drive merge → history → compact → vacuum
    through the CLI subprocess (the maintenance front-end an operator
    types)."""
    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.sources import snapshot_table as st

    root = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    st.write_snapshot(df, root)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(3, 333, "u"), (5, 0, "d"), (100, 1, "u")], "k long, v long, op string"
    ).write.parquet(src)

    proc = _cli(
        "snapshot", "merge", root, "--source", src, "--keys", "k",
        "--delete-predicate", "op = 'd'",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "v2" in proc.stdout

    proc = _cli("snapshot", "history", root)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "v1" in proc.stdout and "v2" in proc.stdout

    proc = _cli("snapshot", "compact", root)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "v3" in proc.stdout

    proc = _cli("snapshot", "repack", root)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "v4" in proc.stdout and "metadata only" in proc.stdout

    proc = _cli("snapshot", "vacuum", root, "--keep-last", "1")
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = {
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {(k, k * 2) for k in range(20) if k != 5}
    expected -= {(3, 6)}
    expected |= {(3, 333), (100, 1)}
    assert got == expected


def test_snapshot_cli_merge_requires_source_and_keys(tmp_path, spark):
    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.sources import snapshot_table as st

    root = str(tmp_path / "t")
    st.write_snapshot(
        spark.range(0, 3).select(F.col("id").alias("k")), root
    )
    proc = _cli("snapshot", "merge", root)
    assert proc.returncode == 1
    assert "merge needs --source and --keys" in proc.stderr


def test_snapshot_cli_read_prune_and_as_of(tmp_path, spark):
    """snapshot read: zone-map pruned range read reports skipped
    files; --as-of resolves timestamp time travel."""
    import time as _time

    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.sources import snapshot_table as st

    root = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(4, "k")
    st.write_snapshot(df, root)
    t_v1 = _time.time()
    _time.sleep(0.05)
    st.write_snapshot(
        spark.range(0, 3).select(
            F.col("id").alias("k"), F.lit(0).alias("v")
        ),
        root,
        mode="overwrite",
    )

    proc = _cli(
        "snapshot", "read", root, "--version", "1",
        "--prune", "k,100,150", "--limit", "5",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "zone maps: read 1/4 files (3 pruned)" in proc.stdout

    proc = _cli(
        "snapshot", "read", root, "--as-of", str(t_v1), "--limit", "3"
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # v1 had 400 rows of k*2 values; v2 zeroed them — as-of must see v1
    assert "zone maps" not in proc.stdout


def test_snapshot_cli_maintain(tmp_path, spark):
    """maintain action: one cron-tick call runs the repack-if-needed +
    age-safe vacuum policy; young history survives min-age."""
    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.sources import snapshot_table as st

    root = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    st.write_snapshot(df, root)
    st.write_snapshot(df, root, mode="append")
    st.write_snapshot(df, root, mode="append")

    proc = _cli(
        "snapshot", "maintain", root, "--keep-last", "1",
        "--min-age", "3600", "--retention", "0",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "vacuum dropped []" in proc.stdout  # all too young
    # three one-descriptor appends exceed twice the optimal packing of
    # one chunk, so the first tick repacks into v4
    assert "repacked -> v4" in proc.stdout
    assert st.snapshot_versions(root) == [1, 2, 3, 4]

    proc = _cli(
        "snapshot", "maintain", root, "--keep-last", "1",
        "--min-age", "0", "--retention", "0",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert st.snapshot_versions(root) == [4]
    assert st.read_snapshot(spark, root).count() == 30


def test_snapshot_cli_refuses_keep_last_zero(tmp_path, spark):
    """vacuum and maintain with --keep-last 0 would drop the head
    version and every data file; both exit 1 and change nothing."""
    from pyspark.sql import functions as F

    from website_traffic_etl_gcp_spark.sources import snapshot_table as st

    root = str(tmp_path / "t")
    st.write_snapshot(spark.range(0, 5).select(F.col("id").alias("k")), root)
    for action in ("vacuum", "maintain"):
        proc = _cli(
            "snapshot", action, root, "--keep-last", "0", "--retention", "0"
        )
        assert proc.returncode == 1, proc.stdout
        assert "keep_last must be at least 1" in proc.stderr
    assert st.snapshot_versions(root) == [1]
    assert st.read_snapshot(spark, root).count() == 5
