"""Manifest-pointer snapshot tables (sources/snapshot_table.py):
transactional semantics over plain parquet — atomic commits, snapshot
isolation for concurrent readers, time travel, optimistic writer
concurrency, vacuum — and the WAP/delete family, which publishes
through the same commit path."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.sources import snapshot_table as st
from website_traffic_etl_gcp_spark.sources import writers


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_commit_read_overwrite_append(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = st.write_snapshot(_df(spark, 0, 5), root)
    assert v1 == 1
    assert st.read_snapshot(spark, root).count() == 5

    v2 = st.write_snapshot(_df(spark, 5, 8), root, mode="append")
    assert v2 == 2
    assert st.read_snapshot(spark, root).count() == 8

    v3 = st.write_snapshot(_df(spark, 100, 102), root, mode="overwrite")
    assert v3 == 3
    got = sorted(r["k"] for r in st.read_snapshot(spark, root).collect())
    assert got == [100, 101]


def test_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    st.write_snapshot(_df(spark, 0, 10), root)
    assert st.read_snapshot(spark, root, version=1).count() == 3
    assert st.read_snapshot(spark, root, version=2).count() == 10
    assert st.snapshot_versions(root) == [1, 2]


def test_reader_isolation_across_commits(spark, tmp_path):
    """The core property the directory swap lacks: a frame resolved
    against version N keeps returning version N's rows after
    overwrites commit — its files are immutable and still on disk."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    reader = st.read_snapshot(spark, root)  # resolves v1's file list
    assert reader.count() == 4

    st.write_snapshot(_df(spark, 0, 99), root, mode="overwrite")
    # new readers see the new version; the old frame is undisturbed
    assert st.read_snapshot(spark, root).count() == 99
    assert reader.count() == 4
    assert sorted(r["k"] for r in reader.collect()) == [0, 1, 2, 3]


def test_commit_conflict_loser_retries(spark, tmp_path):
    """Optimistic concurrency: pre-create the manifest a committer
    wants (simulating a racing writer landing first) — the public
    write_snapshot retries against the fresh head and lands at the
    next version."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 2), root)
    files = st.stage_files(_df(spark, 2, 4), root)
    with pytest.raises(st.CommitConflict):
        st._commit(root, files, "append", parent=0)  # v1 already exists
    v = st.write_snapshot(_df(spark, 2, 4), root, mode="append")
    assert v == 2
    assert st.read_snapshot(spark, root).count() == 4


def test_torn_manifest_write_publishes_nothing(spark, tmp_path, monkeypatch):
    """A manifest write that fails part-way leaves no manifest behind:
    the table still reads its previous version, the chunk files the
    failed commit packed are gone, and the next commit lands."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    real_dump = st.json.dump

    def torn_dump(obj, f, *args, **kwargs):
        if isinstance(obj, dict) and obj.get("version") == 2:
            f.write('{"version": 2, "chu')
            raise OSError("no space left on device")
        return real_dump(obj, f, *args, **kwargs)

    monkeypatch.setattr(st.json, "dump", torn_dump)
    with pytest.raises(OSError, match="no space"):
        st.write_snapshot(_df(spark, 3, 5), root, mode="append")
    monkeypatch.undo()
    assert st.read_snapshot(spark, root).count() == 3
    assert st.current_version(root) == 1
    snaps = os.path.join(root, "_snapshots")
    assert sorted(os.listdir(snaps)) == ["chunks", "v1.json"]
    assert {
        os.path.join("_snapshots", "chunks", f)
        for f in os.listdir(os.path.join(snaps, "chunks"))
    } == set(st.manifest_chunk_paths(st.read_manifest(root, 1)))

    assert st.write_snapshot(_df(spark, 3, 5), root, mode="append") == 2
    got = sorted(r["k"] for r in st.read_snapshot(spark, root).collect())
    assert got == list(range(5))


def test_vacuum_keeps_referenced_files_only(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    st.write_snapshot(_df(spark, 0, 6), root)
    st.write_snapshot(_df(spark, 0, 9), root)
    out = st.vacuum(root, keep_last=2)
    assert out["dropped_versions"] == [1]
    assert out["kept_versions"] == [2, 3]
    assert out["removed_files"] > 0
    # retained versions still read; dropped one is gone
    assert st.read_snapshot(spark, root, version=2).count() == 6
    assert st.read_snapshot(spark, root).count() == 9
    with pytest.raises(st.NoSuchSnapshot):
        st.read_snapshot(spark, root, version=1)


@pytest.mark.parametrize("keep_last", [0, -1])
def test_vacuum_keeps_the_head(spark, tmp_path, keep_last):
    """Retaining fewer than one version would drop the head manifest
    and every data file: vacuum and maintain refuse it."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    with pytest.raises(ValueError, match="keep_last must be at least 1"):
        st.vacuum(root, keep_last=keep_last, retention_seconds=0.0)
    with pytest.raises(ValueError, match="keep_last must be at least 1"):
        st.maintain_snapshot(root, keep_last=keep_last)
    assert st.snapshot_versions(root) == [1]
    assert st.read_snapshot(spark, root).count() == 3


def _rules():
    # Column construction needs the active session's context — build
    # per-test, not at collection time
    return {"v_nonneg": F.col("v") < 0}


def test_wap_publish_both_backends(spark, tmp_path):
    root = str(tmp_path / "wap")
    out = writers.write_audit_publish(
        _df(spark, 0, 7), root, _rules(), unique_keys=("k",)
    )
    assert out["published"] is True
    assert out["n_rows"] == 7
    assert out["version"] == 1
    assert st.read_snapshot(spark, root).count() == 7


def test_wap_abort_leaves_live_table_untouched(spark, tmp_path):
    root = str(tmp_path / "wap")
    writers.write_audit_publish(_df(spark, 0, 5), root, _rules())
    bad = _df(spark, 0, 3).withColumn("v", F.lit(-1))
    out = writers.write_audit_publish(bad, root, _rules())
    assert out["published"] is False
    assert st.read_snapshot(spark, root).count() == 5  # failed write invisible
    assert st.snapshot_versions(root) == [1]
    # aborted staging files were reaped
    data_dirs = os.listdir(os.path.join(root, "data"))
    assert len(data_dirs) == 1


def test_wap_snapshot_publish_declares_its_schema(spark, tmp_path):
    """A WAP publish replaces the table, so it declares the staged
    frame's schema instead of inheriting the old declaration (which
    would project a new column away on read)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    wide = _df(spark, 0, 3).withColumn("w", F.lit(7))
    out = writers.write_audit_publish(wide, root, _rules())
    assert out["published"] is True
    head = st.read_snapshot(spark, root)
    assert head.columns == ["k", "v", "w"]
    assert {r["w"] for r in head.collect()} == {7}


def test_snapshot_delete_preserves_history(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    out = writers.delete_rows(spark, root, "k >= 7")
    assert out == {
        "rows_before": 10, "rows_deleted": 3, "rows_after": 7, "version": 2,
    }
    assert st.read_snapshot(spark, root).count() == 7
    # pre-delete version is still auditable until vacuumed
    assert st.read_snapshot(spark, root, version=1).count() == 10


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    """streaming/snapshot_sink.py: availableNow drain commits batches
    with batch_id manifests; a second drain over the same checkpoint
    adds nothing, and a direct replay of an already-committed batch_id
    no-ops (write-success/checkpoint-fail retry scenario)."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk
    from website_traffic_etl_gcp_spark.catalog import load_table, table_path
    from website_traffic_etl_gcp_spark.streaming.rollups import (
        stream_source_dir,
    )
    from tests.conftest import SF_DIR

    out_root = str(tmp_path / "snap_events")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(table_path(SF_DIR, "events")).schema
    src = stream_source_dir(SF_DIR, "events")

    v = sk.run_stream_to_snapshot(spark, src, schema, out_root, ckpt)
    expected = load_table(spark, SF_DIR, "events").count()
    assert st.read_snapshot(spark, out_root).count() == expected
    assert sk.committed_batch_ids(out_root) != set()

    # re-run with the same checkpoint: the source yields no new files,
    # no new commits land
    v2 = sk.run_stream_to_snapshot(spark, src, schema, out_root, ckpt)
    assert v2 == v
    assert st.read_snapshot(spark, out_root).count() == expected

    # at-least-once replay: call the sink again with a committed
    # batch_id — must no-op, not double-append
    writer = sk.snapshot_batch_writer(out_root)
    replay_id = next(iter(sk.committed_batch_ids(out_root)))
    writer(load_table(spark, SF_DIR, "events").limit(5), replay_id)
    assert st.read_snapshot(spark, out_root).count() == expected
    # and a NEW batch_id appends exactly its rows
    writer(load_table(spark, SF_DIR, "events").limit(5), 10_001)
    assert st.read_snapshot(spark, out_root).count() == expected + 5


def test_merge_update_insert_delete(spark, tmp_path):
    """merge_snapshot: matched rows are replaced by the source row,
    delete_predicate rows never survive (matched → delete, unmatched →
    not inserted), other unmatched source rows insert."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    source = spark.createDataFrame(
        [
            (3, 333, "upsert"),   # matched → replace
            (5, 555, "upsert"),   # matched → replace
            (7, 0, "delete"),     # matched → delete
            (100, 1000, "upsert"),  # unmatched → insert
            (200, 0, "delete"),   # unmatched delete → no-op
        ],
        "k long, v long, _op string",
    ).select("k", "v", "_op")
    res = st.merge_snapshot(
        spark, root, source.select("k", "v", "_op"), ["k"],
        delete_predicate="_op = 'delete'",
    )
    assert res["version"] == 2
    got = {
        r["k"]: r["v"]
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {k: k * 10 for k in range(10) if k != 7}
    expected.update({3: 333, 5: 555, 100: 1000})
    assert got == expected
    # time travel still sees the pre-merge table
    assert st.read_snapshot(spark, root, version=1).count() == 10


def test_merge_source_missing_target_column_fails(spark, tmp_path):
    """Extra source columns (CDC bookkeeping) are allowed and dropped
    on write; a source MISSING a target column fails loudly."""
    import pytest as _pytest

    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    bad = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError, match="missing target columns"):
        st.merge_snapshot(spark, root, bad, ["k"])


def test_merge_prunes_untouched_files(spark, tmp_path):
    """The copy-on-write contract: data files containing no matched key
    are carried into the new manifest VERBATIM (same paths, no
    rewrite)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root)                  # v1 files
    st.write_snapshot(_df(spark, 100, 105), root, mode="append")  # v2 adds
    v1_files = set(st.manifest_files(root, st.read_manifest(root, 1)))
    v2_files = set(st.manifest_files(root, st.read_manifest(root, 2)))
    # source touches only the 100-range keys → every v1 file is kept
    source = spark.createDataFrame([(101, -1), (103, -3)], "k long, v long")
    res = st.merge_snapshot(spark, root, source, ["k"])
    v3_files = set(st.manifest_files(root, st.read_manifest(root, 3)))
    assert v1_files <= v3_files, "untouched files were not carried forward"
    assert res["files_kept"] >= len(v1_files)
    assert res["files_rewritten"] >= 1
    assert res["files_rewritten"] <= len(v2_files - v1_files)
    got = {
        r["k"]: r["v"]
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {k: k * 10 for k in range(5)}
    expected.update({k: k * 10 for k in range(100, 105)})
    expected.update({101: -1, 103: -3})
    assert got == expected


def test_merge_no_matches_insert_only(spark, tmp_path):
    """With no key overlap the merge rewrites ZERO files — the new
    manifest is old files + one staged insert commit."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    res = st.merge_snapshot(
        spark, root, _df(spark, 50, 52), ["k"]
    )
    assert res["files_rewritten"] == 0
    assert st.read_snapshot(spark, root).count() == 6


def test_merge_insert_unmatched_false(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    st.merge_snapshot(
        spark, root, _df(spark, 50, 52), ["k"], insert_unmatched=False
    )
    assert st.read_snapshot(spark, root).count() == 4


def test_merge_replay_is_content_idempotent(spark, tmp_path):
    """The CDC-sink property: re-applying the same merge batch (an
    at-least-once redelivery) commits a new version with IDENTICAL
    content — replaces rewrite equal values, deletes no-op, inserts
    re-match as replaces."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    source = spark.createDataFrame(
        [(2, 222, "upsert"), (3, 0, "delete"), (50, 500, "upsert")],
        "k long, v long, _op string",
    )
    st.merge_snapshot(spark, root, source, ["k"], delete_predicate="_op = 'delete'")
    first = sorted(
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    )
    st.merge_snapshot(spark, root, source, ["k"], delete_predicate="_op = 'delete'")
    second = sorted(
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    )
    assert first == second
    assert st.snapshot_versions(root) == [1, 2, 3]


def test_compact_snapshot_preserves_content_and_history(spark, tmp_path):
    """Compaction is a transaction: many small append commits rewrite
    into few files as a NEW version with identical logical content;
    the pre-compaction version stays time-travelable until vacuum."""
    root = str(tmp_path / "t")
    for i in range(5):
        st.write_snapshot(
            _df(spark, i * 10, i * 10 + 10).repartition(3),
            root, mode="append",
        )
    before = set(st.manifest_files(root, st.read_manifest(root, 5)))
    assert len(before) >= 10  # many small files
    out = st.compact_snapshot(spark, root)
    assert out["version"] == 6
    assert out["files_after"] < out["files_before"]
    got = sorted(
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    )
    assert got == [(k, k * 10) for k in range(50)]
    # old version still reads its original files
    assert st.read_snapshot(spark, root, version=5).count() == 50
    # vacuum reaps the pre-compaction files
    st.vacuum(root, keep_last=1)
    assert st.read_snapshot(spark, root).count() == 50
    with pytest.raises(st.NoSuchSnapshot):
        st.read_snapshot(spark, root, version=5)


def test_merge_conflict_retries_against_new_head(spark, tmp_path, monkeypatch):
    """A writer landing between the merge's read and its commit must
    not be lost: the merge retries and re-derives against the fresh
    head (here the interloper appends key 200 mid-merge; the final
    table carries BOTH the merge's effect and the appended row)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root)

    real_commit = st._commit
    hits = {"n": 0}

    def racing_commit(r, files, mode, parent, extra=None):
        if hits["n"] == 0 and mode == "merge":
            hits["n"] += 1
            # interloper commits first — the merge's parent is stale
            st.write_snapshot(_df(spark, 200, 201), root, mode="append")
        return real_commit(r, files, mode, parent, extra)

    monkeypatch.setattr(st, "_commit", racing_commit)
    res = st.merge_snapshot(
        spark, root, spark.createDataFrame([(2, 222)], "k long, v long"),
        ["k"],
    )
    assert hits["n"] == 1
    assert res["version"] == 3  # v2 = interloper, v3 = retried merge
    got = {
        r["k"]: r["v"]
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {k: k * 10 for k in range(5)}
    expected.update({2: 222, 200: 2000})
    assert got == expected


def test_read_increment_appends_only(spark, tmp_path):
    """read_increment: exactly the rows the later version's NEW files
    carry; empty delta is a same-schema empty frame; a non-append
    commit in between raises instead of dropping retractions."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root, mode="append")
    st.write_snapshot(_df(spark, 5, 12), root, mode="append")
    inc = st.read_increment(spark, root, from_version=1, to_version=2)
    assert sorted(r["k"] for r in inc.collect()) == list(range(5, 12))
    # from 0 = everything
    assert st.read_increment(spark, root, 0, 2).count() == 12
    # no new commits → empty frame, schema intact
    same = st.read_increment(spark, root, from_version=2)
    assert same.count() == 0 and same.columns == ["k", "v"]

    st.write_snapshot(_df(spark, 100, 101), root, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        st.read_increment(spark, root, from_version=1)
    # but reading from AFTER the overwrite works again
    st.write_snapshot(_df(spark, 200, 203), root, mode="append")
    inc2 = st.read_increment(spark, root, from_version=3)
    assert sorted(r["k"] for r in inc2.collect()) == [200, 201, 202]


def test_vacuum_spares_in_flight_staged_files(spark, tmp_path):
    """The r8 advisory hazard: a concurrent writer stages data files
    BEFORE its manifest exists; vacuum must not reap them (the
    winner's manifest would name missing files). Orphans younger than
    the retention window survive; a single-writer vacuum
    (retention 0) reaps them."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    st.write_snapshot(_df(spark, 0, 6), root)
    staged = st.stage_files(_df(spark, 100, 104), root)  # no commit yet
    out = st.vacuum(root, keep_last=1)
    assert all(os.path.exists(p) for p in staged), "in-flight stage reaped"
    assert out["skipped_in_flight"] >= len(staged)
    # the staged writer can still commit: its manifest names only
    # files that exist
    v = st._commit(root, staged, "append", st.current_version(root))
    assert st.read_snapshot(spark, root, version=v).count() == 6 + 4
    # explicit single-writer vacuum with no grace window reaps true
    # orphans (stage then abandon)
    orphans = st.stage_files(_df(spark, 200, 202), root)
    st.vacuum(root, keep_last=1, retention_seconds=0.0)
    assert not any(os.path.exists(p) for p in orphans)


def test_sink_replay_after_vacuum_no_duplicate(spark, tmp_path):
    """The r8 advisory hazard on the streaming sink: vacuum drops the
    manifest that recorded an old batch_id, so the per-manifest scan
    alone forgets it — the carried-forward high-water mark must still
    block a late foreachBatch replay from double-appending."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk

    root = str(tmp_path / "t")
    writer = sk.snapshot_batch_writer(root)
    for bid in (0, 1, 2):
        writer(_df(spark, bid * 5, bid * 5 + 5), bid)
    assert st.read_snapshot(spark, root).count() == 15
    st.vacuum(root, keep_last=1)
    # the scan alone HAS forgotten batches 0 and 1...
    assert 0 not in sk.committed_batch_ids(root)
    # ...but the high-water mark survives in the retained manifest
    assert sk.batch_high_water(root) == 2
    writer(_df(spark, 0, 5), 0)  # late replay of a vacuumed batch
    writer(_df(spark, 5, 10), 1)
    assert st.read_snapshot(spark, root).count() == 15, "replay re-landed"
    # genuinely new batches still append
    writer(_df(spark, 15, 18), 3)
    assert st.read_snapshot(spark, root).count() == 18


def test_merge_fails_loudly_on_unresolvable_paths(spark, tmp_path, monkeypatch):
    """The r8 advisory hazard on MERGE: if input_file_name() URIs stop
    realpath-matching manifest entries (storage scheme change,
    symlinked roots), matched source rows would silently INSERT next
    to the surviving old rows. The merge must refuse instead."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    source = _df(spark, 5, 8)  # keys 5..7 match
    monkeypatch.setattr(
        st, "_uri_to_path",
        lambda uri: "/nonexistent/" + os.path.basename(uri),
    )
    with pytest.raises(RuntimeError, match="did not resolve"):
        st.merge_snapshot(spark, root, source, ["k"])


def test_schema_evolution_additive_append(spark, tmp_path):
    """Additive evolution (the Delta/Iceberg mergeSchema default):
    appending a frame with a NEW column widens the declared schema;
    old rows read back as typed NULLs in the new column, at every
    version the column exists, while time travel to the pre-evolution
    version still shows the original two-column schema."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    wide = _df(spark, 3, 5).withColumn("w", F.col("k") * F.lit(2))
    st.write_snapshot(wide, root, mode="append")

    head = st.read_snapshot(spark, root)
    assert head.columns == ["k", "v", "w"]
    rows = {r["k"]: r["w"] for r in head.collect()}
    assert rows[0] is None and rows[1] is None and rows[2] is None
    assert rows[3] == 6 and rows[4] == 8

    v1 = st.read_snapshot(spark, root, version=1)
    assert v1.columns == ["k", "v"]


def test_schema_evolution_type_conflict_rejected(spark, tmp_path):
    """A same-name column with a DIFFERENT type must raise BEFORE any
    file is referenced — a silent cast corrupts old rows on read."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    bad = spark.range(3, 5).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    with pytest.raises(st.SchemaEvolutionError, match="'v'"):
        st.write_snapshot(bad, root, mode="append")
    # the table is untouched: still v1, still 3 rows, 2 columns
    assert st.current_version(root) == 1
    assert st.read_snapshot(spark, root).count() == 3


def test_schema_evolution_survives_maintenance_commits(spark, tmp_path):
    """Compaction and MERGE declare no schema themselves — they must
    inherit the parent's so the evolved declaration never regresses."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    wide = _df(spark, 4, 6).withColumn("w", F.lit(7))
    st.write_snapshot(wide, root, mode="append")

    st.compact_snapshot(spark, root, target_file_bytes=1 << 30)
    after = st.read_snapshot(spark, root)
    assert after.columns == ["k", "v", "w"]
    assert after.count() == 6

    src = spark.createDataFrame([(0, 111, 9)], "k long, v long, w int")
    st.merge_snapshot(spark, root, src, ["k"])
    merged = st.read_snapshot(spark, root)
    assert merged.columns == ["k", "v", "w"]
    assert merged.filter("k = 0").collect()[0]["v"] == 111


def test_read_increment_across_evolution(spark, tmp_path):
    """An increment spanning an additive evolution aligns to the NEW
    declared schema: pre-evolution added files surface typed NULLs."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 2), root)           # v1
    st.write_snapshot(_df(spark, 2, 4), root, "append")  # v2 (no w)
    wide = _df(spark, 4, 6).withColumn("w", F.lit(5))
    st.write_snapshot(wide, root, mode="append")         # v3 (w)
    inc = st.read_increment(spark, root, from_version=1)
    assert inc.columns == ["k", "v", "w"]
    got = {r["k"]: r["w"] for r in inc.collect()}
    assert set(got) == {2, 3, 4, 5}
    assert got[2] is None and got[4] == 5


def test_zone_map_stats_recorded_and_carried(spark, tmp_path):
    """Commits record per-file min/max zone maps; appends carry the
    parent's entries forward (no re-scan of old footers)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10).repartition(1), root)
    stats1 = st.manifest_stats(root, st.read_manifest(root, 1))
    assert stats1, "no zone maps recorded"
    (s,) = stats1.values()
    assert s["k"] == [0, 9]
    st.write_snapshot(_df(spark, 50, 60).repartition(1), root, "append")
    m2 = st.read_manifest(root, 2)
    stats2 = st.manifest_stats(root, m2)
    assert set(stats2) == set(st.manifest_files(root, m2))
    ks = sorted(tuple(v["k"]) for v in stats2.values())
    assert ks == [(0, 9), (50, 59)]


def test_pruned_read_skips_files_and_stays_exact(spark, tmp_path):
    """Range-clustered files + a range predicate: the pruned read
    scans a strict subset of files yet returns exactly the rows the
    full-scan filter returns."""
    root = str(tmp_path / "t")
    df = _df(spark, 0, 1000).repartitionByRange(8, "k")
    st.write_snapshot(df, root)
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 100, 220)
    assert info["files_total"] == 8
    assert 0 < info["files_read"] < info["files_total"]
    want = sorted(
        r["k"]
        for r in st.read_snapshot(spark, root)
        .filter("k between 100 and 220")
        .collect()
    )
    assert sorted(r["k"] for r in pruned.collect()) == want == list(
        range(100, 221)
    )
    # half-open ranges prune too
    top, info_hi = st.read_snapshot_pruned(spark, root, "k", lo=900)
    assert info_hi["files_pruned"] > 0
    assert top.count() == 100


def test_pruned_read_without_stats_reads_everything(spark, tmp_path):
    """A column with no recorded stat (or a stats-less writer) must
    fall back to reading every file — pruning is an optimization,
    never a correctness dependency."""
    import json as _json

    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 100).repartitionByRange(4, "k"), root)
    (chunk,) = st.manifest_chunk_paths(st.read_manifest(root, 1))
    path = os.path.join(root, chunk)
    with open(path) as f:
        entries = _json.load(f)
    for s in entries.values():  # simulate a stats-less writer
        s.pop("k", None)
    with open(path, "w") as f:
        _json.dump(entries, f)
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 10, 20)
    assert info["files_read"] == info["files_total"]
    assert pruned.count() == 11


def test_pruned_read_disjoint_range_is_empty_frame(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 50).repartitionByRange(4, "k"), root)
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 1000, 2000)
    assert info["files_read"] == 0
    assert pruned.count() == 0
    assert pruned.columns == ["k", "v"]


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta's TIMESTAMP AS OF: a wall-clock instant resolves to the
    newest version committed at or before it; instants before the
    oldest retained commit raise."""
    import time as _time

    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    t_between = _time.time()
    _time.sleep(0.05)
    st.write_snapshot(_df(spark, 0, 10), root, mode="overwrite")

    assert st.version_as_of(root, t_between) == 1
    for ts, n in ((t_between, 3), (_time.time(), 10)):
        assert st.read_snapshot(
            spark, root, st.version_as_of(root, ts)
        ).count() == n
    with pytest.raises(st.NoSuchSnapshot):
        st.version_as_of(root, t_between - 3600)


def test_streaming_sink_commits_carry_zone_maps(spark, tmp_path):
    """The streaming snapshot sink goes through the same _commit, so
    every micro-batch manifest carries per-file zone maps and a
    pruned read over the streamed table skips non-overlapping
    batches' files — data skipping needs no extra sink logic."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk

    root = str(tmp_path / "t")
    writer = sk.snapshot_batch_writer(root)
    for bid, (lo, hi) in enumerate(((0, 100), (1000, 1100), (5000, 5100))):
        writer(_df(spark, lo, hi).repartition(1), bid)
    m = st.read_manifest(root)
    assert set(st.manifest_stats(root, m)) == set(st.manifest_files(root, m))
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 1000, 1099)
    assert info["files_total"] == 3 and info["files_read"] == 1
    assert pruned.count() == 100


@pytest.mark.parametrize("maintenance", ["compact", "repack"])
def test_sink_replay_after_maintenance_and_vacuum_no_duplicate(
    spark, tmp_path, maintenance
):
    """A maintenance commit names no batch_id of its own; the sink's
    high-water mark must carry through it, or vacuuming the sink
    manifests behind it lets a late replay land its rows twice."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk

    root = str(tmp_path / "t")
    writer = sk.snapshot_batch_writer(root)
    for bid in (0, 1, 2):
        writer(_df(spark, bid * 5, bid * 5 + 5), bid)
    if maintenance == "compact":
        st.compact_snapshot(spark, root)
    else:
        st.repack_manifests(root)
    st.vacuum(root, keep_last=1)
    assert st.snapshot_versions(root) == [4]
    writer(_df(spark, 10, 15), 2)  # late replay of the last batch
    assert st.read_snapshot(spark, root).count() == 15, "replay re-landed"
    assert sk.batch_high_water(root) == 2


def test_snapshot_delete_retries_against_new_head(spark, tmp_path, monkeypatch):
    """The snapshot delete is a read-modify-write: an append landing
    between its read and its commit must survive, and the delete
    must re-derive its rewrite from the head that holds the append."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)

    real_commit = st._commit
    hits = {"n": 0}

    def racing_commit(r, files, mode, parent, extra=None):
        if hits["n"] == 0 and mode == "overwrite":
            hits["n"] += 1
            # interloper commits first — the delete's parent is stale
            st.write_snapshot(_df(spark, 100, 103), root, mode="append")
        return real_commit(r, files, mode, parent, extra)

    monkeypatch.setattr(st, "_commit", racing_commit)
    out = writers.delete_rows(spark, root, "k >= 7 AND k < 10")
    assert hits["n"] == 1
    assert out["rows_deleted"] == 3
    got = sorted(r["k"] for r in st.read_snapshot(spark, root).collect())
    assert got == list(range(7)) + [100, 101, 102]


def test_conflicted_attempt_leaves_no_orphan_data(spark, tmp_path, monkeypatch):
    """A delete that loses its first commit to an interloping append
    stages its rewrite twice; the losing rewrite must not stay behind
    as a ``data/<uuid>/`` dir no manifest names (only a vacuum past
    the retention window would reap it)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)

    real_commit = st._commit
    hits = {"n": 0}

    def racing_commit(r, files, mode, parent, extra=None):
        if hits["n"] == 0 and mode == "overwrite":
            hits["n"] += 1
            st.write_snapshot(_df(spark, 100, 103), root, mode="append")
        return real_commit(r, files, mode, parent, extra)

    monkeypatch.setattr(st, "_commit", racing_commit)
    writers.delete_rows(spark, root, "k >= 7 AND k < 10")
    assert hits["n"] == 1
    named = {
        f.split(os.sep)[1]
        for v in st.snapshot_versions(root)
        for f in st.manifest_files(root, st.read_manifest(root, v))
    }
    assert set(os.listdir(os.path.join(root, "data"))) == named


@pytest.mark.parametrize("bad", ["missing", "not_parquet"])
def test_commit_of_unreadable_file_raises(spark, tmp_path, bad):
    """A staged file the footer reader cannot open fails its commit:
    no manifest names it, so it cannot fail later, on read."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root)
    path = os.path.join(root, "data", "staged", "part-0.parquet")
    if bad == "not_parquet":
        os.makedirs(os.path.dirname(path))
        with open(path, "w") as f:
            f.write("k,v\n1,10\n")

    # FileNotFoundError for the missing file, ArrowInvalid (a
    # ValueError) for the one that is not parquet
    with pytest.raises((OSError, ValueError)):
        st.transact(root, lambda parent: ([path], "append", {}, None))
    assert st.snapshot_versions(root) == [1]
    assert st.read_snapshot(spark, root).count() == 5
