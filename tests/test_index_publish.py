"""Atomic content-keyed index publish (sources/bucketing.py:
publish_bucketed + operators/dedup_index.py): persisted indexes must
be build-once-probe-many ACROSS processes — a second session/process
registers the already-published location instead of paying the
corpus-wide build again — and a publish must never leave a
half-written live table (build to tmp, atomic rename, first writer
wins)."""

from __future__ import annotations

import contextlib
import io
import os
import subprocess
import sys
import textwrap

import pytest

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.operators import dedup as dd
from website_traffic_etl_gcp_spark.operators import dedup_index as di
from website_traffic_etl_gcp_spark.catalog import load_table
from website_traffic_etl_gcp_spark.sources import bucketing

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_state(root: str) -> dict[str, int]:
    state = {}
    for r, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(r, fn)
            state[p] = os.stat(p).st_mtime_ns
    return state


def test_second_session_registers_published_location(spark, tmp_path, monkeypatch):
    """Simulate a fresh session on the same host: drop the catalog
    entries (session state) but keep the published files — ensure_*
    must register the location, NOT rebuild, and the probe must stay
    exchange-free on the index side."""
    monkeypatch.setenv("WTES_INDEX_DIR", str(tmp_path / "idx"))
    docs = load_table(spark, SF_DIR, "documents")
    sigs = dd.minhash_signatures(docs)
    corpus = sigs.filter(F.col("doc_id") % 2 == 0)
    batch = sigs.filter(F.col("doc_id") % 2 == 1)
    bands_t = bucketing.index_table_name("mhbands_pub", SF_DIR)
    sigs_t = bucketing.index_table_name("mhsigs_pub", SF_DIR)

    di.ensure_minhash_index(corpus, bands_t, sigs_t)
    n1 = di.probe_minhash_index(spark, batch, bands_t, sigs_t).count()
    assert bucketing.is_published(bucketing.index_path(bands_t))
    assert bucketing.is_published(bucketing.index_path(sigs_t))
    before = _dir_state(str(tmp_path / "idx"))

    # "new session": catalog loses the tables, files stay
    spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
    spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
    di.ensure_minhash_index(corpus, bands_t, sigs_t)
    assert _dir_state(str(tmp_path / "idx")) == before, (
        "ensure_minhash_index rebuilt an already-published index"
    )
    probe = di.probe_minhash_index(spark, batch, bands_t, sigs_t)
    assert probe.count() == n1

    # the registered external table must keep the bucketed layout:
    # candidate-generation join reads the band table in place (at
    # 100 TB the index is not broadcastable, so force the SMJ choice)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = di._banded(batch).join(spark.table(bands_t), "band_id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cand.explain()
        plan = buf.getvalue()
        assert "Bucketed: true" in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    for t in (bands_t, sigs_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_publish_survives_losing_the_race(spark, tmp_path, monkeypatch):
    """First-writer-wins: publishing over an already-published
    location must leave the existing content untouched and still
    register the table."""
    monkeypatch.setenv("WTES_INDEX_DIR", str(tmp_path / "idx"))
    docs = load_table(spark, SF_DIR, "documents")
    fp = di.exact_fingerprints(docs.filter(F.col("doc_id") % 2 == 0))
    table = bucketing.index_table_name("fp_race", SF_DIR)
    di.ensure_exact_index(fp, table)
    path = bucketing.index_path(table)
    before = _dir_state(path)

    # a competing writer that checked before the winner's rename landed:
    # it builds its own copy and loses the rename
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    monkeypatch.setattr(bucketing, "is_published", lambda p: False)
    di.ensure_exact_index(fp, table)
    assert _dir_state(path) == before
    assert spark.catalog.tableExists(table)
    expected = fp.select("fingerprint").distinct().count()
    assert spark.table(table).count() == expected
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # no stray tmp dirs left behind
    parent = os.path.dirname(path)
    stray = [d for d in os.listdir(parent) if ".tmp." in d]
    assert stray == [], stray


def test_two_processes_share_one_build(tmp_path):
    """The verdict's done-criterion: process 1 builds + publishes;
    process 2 probes WITHOUT rebuilding (published files untouched)."""
    idx = str(tmp_path / "idx")
    script = textwrap.dedent(
        """
        import json, os, sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import functions as F
        from website_traffic_etl_gcp_spark.session import get_spark
        from website_traffic_etl_gcp_spark.catalog import load_table
        from website_traffic_etl_gcp_spark.operators import dedup as dd
        from website_traffic_etl_gcp_spark.operators import dedup_index as di
        from website_traffic_etl_gcp_spark.sources import bucketing

        spark = get_spark("idxproc")
        spark.sparkContext.setLogLevel("ERROR")
        sf_dir = {sf_dir!r}
        sigs = dd.minhash_signatures(load_table(spark, sf_dir, "documents"))
        corpus = sigs.filter(F.col("doc_id") % 2 == 0)
        batch = sigs.filter(F.col("doc_id") % 2 == 1)
        bands_t = bucketing.index_table_name("mh2p_bands", sf_dir)
        sigs_t = bucketing.index_table_name("mh2p_sigs", sf_dir)
        di.ensure_minhash_index(corpus, bands_t, sigs_t)
        n = di.probe_minhash_index(spark, batch, bands_t, sigs_t).count()
        print(json.dumps({{"n": n, "bands_path": bucketing.index_path(bands_t)}}))
        """
    ).format(repo=REPO, sf_dir=SF_DIR)
    env = {**os.environ, "WTES_INDEX_DIR": idx}

    out1 = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out1.returncode == 0, out1.stderr[-3000:]
    import json

    r1 = json.loads(out1.stdout.strip().splitlines()[-1])
    state_after_p1 = _dir_state(idx)
    assert state_after_p1, "process 1 published nothing"

    out2 = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out2.returncode == 0, out2.stderr[-3000:]
    r2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert r2["n"] == r1["n"]
    assert _dir_state(idx) == state_after_p1, (
        "process 2 rebuilt the index instead of registering the "
        "published location"
    )


class _BrokenIndex(RuntimeError):
    pass


def _break(monkeypatch, module, attr: str) -> None:
    def broken(*args, **kwargs):
        raise _BrokenIndex(f"{attr} broken")

    monkeypatch.setattr(module, attr, broken)


def test_persisted_paths_do_not_fall_back_when_scratch_writable(
    spark, monkeypatch
):
    """The persisted path is the only path of the six persisted-index
    plans: when a persisted step fails, the plan raises that error
    instead of answering through an in-query recompute, which would
    give the same rows and hide the broken index. Each step is broken
    before it builds anything, so no index is written here."""
    from website_traffic_etl_gcp_spark.operators import ann_index as ai
    from website_traffic_etl_gcp_spark.plans import REGISTRY

    for name, module, step in (
        ("dedup_incremental_exact", di, "ensure_exact_index"),
        ("dedup_incremental_minhash", di, "ensure_minhash_index"),
        ("knn_ivf_persisted", ai, "ensure_ivf_index"),
        ("knn_ivf_incremental", ai, "append_ivf_delta"),
        ("knn_ivfpq_persisted", ai, "ensure_ivfpq_index"),
        # the shared PQ-codebook loader, reached through knn_pq_rerank
        ("knn_pq_rerank", ai, "ensure_pq_codebooks"),
    ):
        with monkeypatch.context() as m:
            _break(m, module, step)
            with pytest.raises(_BrokenIndex, match=step):
                REGISTRY[name].builder(spark, SF_DIR).collect()


def test_strict_index_mode_raises_on_fallback(spark, monkeypatch):
    """Raising is the only mode: with no strict switch in the
    environment, a broken persisted step still fails the plan."""
    from website_traffic_etl_gcp_spark.plans import REGISTRY

    monkeypatch.delenv("SPARK_GRAFT_STRICT_INDEX", raising=False)
    _break(monkeypatch, di, "ensure_exact_index")
    with pytest.raises(_BrokenIndex):
        REGISTRY["dedup_incremental_exact"].builder(spark, SF_DIR)
