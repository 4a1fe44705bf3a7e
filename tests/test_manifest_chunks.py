"""Chunked snapshot manifests: every version file stores chunk
descriptors (path, n_files, column ranges) and the file lists + zone
maps live in immutable chunk files of at most CHUNK_TARGET_FILES
entries — the Iceberg manifest-list shape. These tests pin the three
claims:

1. correctness parity — every snapshot operation (read, append, time
   travel, pruned read, increment, merge, compact, vacuum, schema
   evolution) behaves identically on a many-chunk table;
2. O(new files + n_chunks) appends — parent descriptors are carried
   verbatim, parent chunk files byte-untouched;
3. sub-linear pruned reads — a 10⁴-entry table's pruned read opens
   ONLY overlapping chunks (proved by deleting the others: the read
   still succeeds) inside a wall-clock bound.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.sources import snapshot_table as st


@pytest.fixture()
def small_chunks(monkeypatch):
    monkeypatch.setattr(st, "CHUNK_TARGET_FILES", 2)


def _df(spark, lo, hi, parts=3):
    return spark.range(lo, hi).repartitionByRange(parts, "id").select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_chunked_roundtrip_and_append_carries_descriptors(
    spark, tmp_path, small_chunks
):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 30, parts=5), root)  # 5 files > 2
    m1 = st.read_manifest(root, 1)
    assert "chunks" in m1 and "files" not in m1
    assert st.manifest_n_files(m1) == 5
    assert sorted(r["k"] for r in st.read_snapshot(spark, root).collect()) \
        == list(range(30))

    # record parent chunk file bytes, then append
    chunk_bytes = {
        p: open(os.path.join(root, p), "rb").read()
        for p in st.manifest_chunk_paths(m1)
    }
    st.write_snapshot(_df(spark, 30, 40, parts=3), root, mode="append")
    m2 = st.read_manifest(root, 2)
    # parent descriptors carried verbatim, in order, bytes untouched
    assert m2["chunks"][: len(m1["chunks"])] == m1["chunks"]
    for p, b in chunk_bytes.items():
        assert open(os.path.join(root, p), "rb").read() == b
    assert st.manifest_n_files(m2) == 8
    assert st.read_snapshot(spark, root).count() == 40
    # time travel to the chunked v1 still works
    assert st.read_snapshot(spark, root, version=1).count() == 30


def test_chunked_pruned_read_skips_chunks(spark, tmp_path, small_chunks):
    root = str(tmp_path / "t")
    st.write_snapshot(
        _df(spark, 0, 1000, parts=8), root
    )  # 8 range-clustered files → 4 chunks
    df, info = st.read_snapshot_pruned(spark, root, "k", 0, 100)
    assert info["chunks_total"] == 4
    assert info["chunks_read"] < info["chunks_total"]
    assert info["files_read"] < info["files_total"] == 8
    got = sorted(r["k"] for r in df.collect())
    assert got == list(range(0, 101))


def test_chunked_increment_merge_compact_vacuum(
    spark, tmp_path, small_chunks
):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 20, parts=4), root)
    st.write_snapshot(_df(spark, 20, 30, parts=3), root, mode="append")
    inc = st.read_increment(spark, root, from_version=1, to_version=2)
    assert sorted(r["k"] for r in inc.collect()) == list(range(20, 30))

    src = spark.createDataFrame(
        [(5, 999), (100, 1000)], ["k", "v"]
    )
    out = st.merge_snapshot(spark, root, src, keys=["k"])
    merged = {
        r["k"]: r["v"] for r in st.read_snapshot(spark, root).collect()
    }
    assert merged[5] == 999 and merged[100] == 1000
    assert out["files_kept"] > 0

    st.compact_snapshot(spark, root, target_file_bytes=1 << 30)
    assert st.read_snapshot(spark, root).count() == 31

    vac = st.vacuum(root, keep_last=1, retention_seconds=0)
    assert vac["dropped_versions"]
    # the retained (compacted) version still reads; dropped chunked
    # manifests' chunk files are gone, shared ones are kept
    assert st.read_snapshot(spark, root).count() == 31
    live_chunks = set(
        st.manifest_chunk_paths(st.read_manifest(root))
    )
    chunk_dir = os.path.join(root, "_snapshots", "chunks")
    on_disk = {
        os.path.join("_snapshots", "chunks", f)
        for f in (os.listdir(chunk_dir) if os.path.isdir(chunk_dir) else [])
    }
    assert on_disk == live_chunks


def test_chunked_schema_evolution(spark, tmp_path, small_chunks):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 12, parts=4), root)
    st.write_snapshot(
        _df(spark, 12, 20, parts=3).withColumn(
            "extra", F.lit("x")
        ),
        root,
        mode="append",
    )
    back = st.read_snapshot(spark, root)
    assert "extra" in back.columns
    n_null = back.filter(F.col("extra").isNull()).count()
    assert n_null == 12
    with pytest.raises(st.SchemaEvolutionError):
        st.write_snapshot(
            spark.createDataFrame([(1, 2, 3)], "k long, v long, extra long"),
            root,
            mode="append",
        )


def test_repack_collapses_per_commit_chunks(spark, tmp_path, small_chunks):
    """Per-micro-batch appends on a chunked table add one tiny chunk
    descriptor per commit; repack_manifests rewrites them into full
    chunks (metadata only — the data files must be byte-identical and
    the content unchanged), and incremental readers still work across
    the repack because no file was removed."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 12, parts=3), root)  # 3 files → 2 chunks
    for lo in range(12, 20, 2):  # four 1-file appends
        st.write_snapshot(
            _df(spark, lo, lo + 2, parts=1), root, mode="append"
        )
    m = st.read_manifest(root)
    assert len(m["chunks"]) == 6  # 2 + 4 × 1
    files_before = sorted(st.manifest_files(root, m))
    out = st.repack_manifests(root)
    assert out["chunks_before"] == 6
    assert out["chunks_after"] == 4  # ceil(7 files / 2 per chunk)
    m2 = st.read_manifest(root)
    assert sorted(st.manifest_files(root, m2)) == files_before
    assert sorted(
        r["k"] for r in st.read_snapshot(spark, root).collect()
    ) == list(range(20))
    # zone maps survived the repack (no footer rescans needed to prune)
    _, info = st.read_snapshot_pruned(spark, root, "k", 0, 3)
    assert info["files_read"] < info["files_total"]
    # repack removes no files → increments spanning it still resolve
    inc = st.read_increment(spark, root, from_version=1)
    assert sorted(r["k"] for r in inc.collect()) == list(range(12, 20))


def test_pruned_read_is_sublinear_at_ten_thousand_files(
    spark, tmp_path, monkeypatch
):
    """A 10⁴-entry chunked table: the pruned read may open ONLY the
    chunks whose range summary overlaps the predicate. Proof by
    removal — every non-overlapping chunk file is deleted before the
    read; if the driver tried to open any of them the read would
    raise. Wall-clock bound keeps the driver cost honest."""
    monkeypatch.setattr(st, "CHUNK_TARGET_FILES", 100)
    root = str(tmp_path / "t")
    # 4 REAL files covering k in [0, 40)
    real = _df(spark, 0, 40, parts=4)
    st.write_snapshot(real, root)  # v1: 4 files in one chunk
    m1 = st.read_manifest(root, 1)
    real_files = st.manifest_files(root, m1)
    real_stats = st.manifest_stats(root, m1)
    # 9,996 FAKE entries with disjoint zone maps [10_000, 10_009]...
    fake_files, stats = [], dict(real_stats)
    for i in range(9_996):
        f = os.path.join("data", "fake", f"part-{i:05d}.parquet")
        fake_files.append(f)
        lo = 10_000 + i * 10
        stats[f] = {"k": [lo, lo + 9], "v": [2 * lo, 2 * lo + 18]}
    all_files = sorted(real_files + fake_files)
    descriptors = st._pack_chunks(root, all_files, stats)
    assert len(descriptors) == 100
    manifest = {
        "version": 2,
        "parent": 1,
        "mode": "append",
        "committed_at": time.time(),
        "chunks": descriptors,
        "schema": m1["schema"],
    }
    with open(os.path.join(root, "_snapshots", "v2.json"), "w") as f:
        json.dump(manifest, f)

    # delete every chunk file whose range does NOT overlap [0, 39] —
    # a correct pruned read never opens them
    overlapping = [
        d for d in descriptors
        if d["ranges"]["k"][0] <= 39 and d["ranges"]["k"][1] >= 0
    ]
    assert 1 <= len(overlapping) <= 2
    for d in descriptors:
        if d not in overlapping:
            os.remove(os.path.join(root, d["path"]))

    t0 = time.monotonic()
    df, info = st.read_snapshot_pruned(spark, root, "k", 0, 39, version=2)
    resolve_s = time.monotonic() - t0
    assert info["files_total"] == 10_000
    assert info["chunks_total"] == 100
    assert info["chunks_read"] == len(overlapping)
    assert info["files_read"] == 4
    assert df.count() == 40
    # manifest resolution is descriptor-level: far under a second of
    # driver work even with the generous CI bound here
    assert resolve_s < 5.0, f"pruned-read resolution took {resolve_s:.2f}s"


def test_maintain_policy_lifecycle(spark, tmp_path, monkeypatch):
    """The cron-tick policy: fragmented append history triggers a
    metadata-only repack, then the age-safe vacuum expires only
    manifests that are BOTH beyond keep_last AND older than min_age —
    and a later tick, once age passes, finishes the expiry."""
    monkeypatch.setattr(st, "CHUNK_TARGET_FILES", 4)
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 6, parts=1), root)
    for i in range(1, 5):  # per-micro-batch appends: 1 tiny chunk each
        st.write_snapshot(
            _df(spark, 6 * i, 6 * (i + 1), parts=1), root, mode="append"
        )
    m = st.read_manifest(root)
    # every commit adds its own one-file descriptor: [1,1,1,1,1]
    assert len(m["chunks"]) == 5

    # tick 1: everything is too young to expire, but repack must fire
    # (5 descriptors > CHUNK_SLACK × the optimal ceil(5 / 4) = 2)
    out = st.maintain_snapshot(
        root, keep_last=2, retention_seconds=0.0, min_age_seconds=3600.0,
    )
    assert out["repacked"] is not None
    m2 = st.read_manifest(root)
    assert len(m2["chunks"]) == 2  # 5 files / chunk-target 4
    assert out["vacuum"]["dropped_versions"] == []  # all younger than 1h
    # full content still readable
    assert sorted(r["k"] for r in st.read_snapshot(spark, root).collect()) \
        == list(range(30))

    # tick 2: age the history artificially; now keep_last governs
    now = time.time()
    for v in st.snapshot_versions(root)[:-2]:
        p = st._manifest_path(root, v)
        os.utime(p, (now - 7200, now - 7200))
    out2 = st.maintain_snapshot(
        root, keep_last=2, retention_seconds=0.0, min_age_seconds=3600.0,
    )
    assert out2["repacked"] is None  # already optimally packed
    assert out2["vacuum"]["dropped_versions"] == [1, 2, 3, 4]
    assert st.snapshot_versions(root) == [5, 6]
    assert sorted(r["k"] for r in st.read_snapshot(spark, root).collect()) \
        == list(range(30))


def test_vacuum_min_age_spares_young_history(spark, tmp_path):
    """Timestamp-based vacuum safety: a young manifest beyond
    keep_last survives; data files of spared versions survive too."""
    root = str(tmp_path / "t")
    for i in range(4):
        st.write_snapshot(
            _df(spark, 10 * i, 10 * (i + 1)), root,
            mode="overwrite" if i == 0 else "append",
        )
    out = st.vacuum(
        root, keep_last=1, retention_seconds=0.0, min_age_seconds=3600.0
    )
    assert out["dropped_versions"] == []
    assert st.snapshot_versions(root) == [1, 2, 3, 4]
    # time travel to v1 still works — nothing was reaped
    assert sorted(
        r["k"] for r in st.read_snapshot(spark, root, version=1).collect()
    ) == list(range(10))
    # age out v1-v2 only
    now = time.time()
    for v in (1, 2):
        os.utime(st._manifest_path(root, v), (now - 7200, now - 7200))
    out2 = st.vacuum(
        root, keep_last=1, retention_seconds=0.0, min_age_seconds=3600.0
    )
    assert out2["dropped_versions"] == [1, 2]
    assert st.snapshot_versions(root) == [3, 4]


def test_conflicted_commit_reaps_its_chunk_files(spark, tmp_path, small_chunks):
    """A commit attempt that loses the race for a version must delete the
    chunk files it just packed — retry loops under contention must not
    leak _snapshots/chunks/ entries."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 30, parts=5), root)  # chunked (5>2)
    chunks_dir = os.path.join(root, "_snapshots", "chunks")
    before = set(os.listdir(chunks_dir))

    # simulate the race: v2 lands from "another writer"
    parent = st.current_version(root)
    m = st.read_manifest(root, parent)
    files = [os.path.join(root, f) for f in st.manifest_files(root, m)]
    st._commit(root, files, "append", parent)

    # our attempt against the stale parent packs chunks, then conflicts
    with pytest.raises(st.CommitConflict):
        st._commit(root, files, "append", parent)
    after = set(os.listdir(chunks_dir))
    # the winner's chunks stay; the loser's packed chunks are gone
    winner_m = st.read_manifest(root, parent + 1)
    expected = before | {
        os.path.basename(d["path"]) for d in winner_m["chunks"]
    }
    assert after == expected


def test_vacuum_reaps_orphan_chunks_after_grace(spark, tmp_path, small_chunks):
    """A chunk file no manifest references (crashed commit) is reaped
    once it outlives retention_seconds — and spared inside the window."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 30, parts=5), root)
    chunks_dir = os.path.join(root, "_snapshots", "chunks")
    orphan = os.path.join(chunks_dir, "c-deadbeefdeadbeef.json")
    with open(orphan, "w") as f:
        f.write('{"files": [], "stats": {}}')

    out = st.vacuum(root, keep_last=2, retention_seconds=3600.0)
    assert out["removed_orphan_chunks"] == 0 and os.path.exists(orphan)

    old = time.time() - 7200
    os.utime(orphan, (old, old))
    out = st.vacuum(root, keep_last=2, retention_seconds=3600.0)
    assert out["removed_orphan_chunks"] == 1 and not os.path.exists(orphan)
    # referenced chunks untouched
    m = st.read_manifest(root)
    for d in m["chunks"]:
        assert os.path.exists(os.path.join(root, d["path"]))


def test_repack_restores_chunk_clustering(spark, tmp_path, small_chunks):
    """Interleaved streaming appends leave path-ordered chunks whose
    ranges all overlap; repack re-sorts by zone-map min so chunk-level
    pruning works again."""
    root = str(tmp_path / "t")
    # appends interleave the key space: 0-5, 100-105, 6-11, 106-111 ...
    spans = [(0, 6), (100, 106), (6, 12), (106, 112), (12, 18), (112, 118)]
    for i, (lo, hi) in enumerate(spans):
        st.write_snapshot(
            _df(spark, lo, hi, parts=1), root,
            mode="overwrite" if i == 0 else "append",
        )
    st.repack_manifests(root)
    m = st.read_manifest(root)
    ranges = [d["ranges"]["k"] for d in m["chunks"]]
    # disjoint and ascending: each chunk's min is above the previous max
    for prev, cur in zip(ranges, ranges[1:]):
        assert cur[0] > prev[1], ranges
    # pruned read on the low half must open at most half the files
    df, info = st.read_snapshot_pruned(spark, root, "k", 0, 17)
    assert sorted(r["k"] for r in df.collect()) == list(range(18))
    assert info["files_read"] <= info["files_total"] // 2


def test_maintain_on_empty_table_is_noop(tmp_path):
    """The cron tick firing before the first commit must be a clean
    no-op, not a NoSuchSnapshot crash."""
    out = st.maintain_snapshot(str(tmp_path / "never_written"))
    assert out["repacked"] is None
    assert out["vacuum"]["dropped_versions"] == []


def test_vacuum_min_age_survives_concurrent_manifest_removal(
    spark, tmp_path, monkeypatch
):
    """A racing vacuum can unlink a manifest between listing and
    getmtime; the vanished version must be excluded entirely — not
    promoted into keep, where reading it would raise."""
    root = str(tmp_path / "t")
    for i in range(3):
        st.write_snapshot(
            _df(spark, 10 * i, 10 * (i + 1)), root,
            mode="overwrite" if i == 0 else "append",
        )
    real_getmtime = os.path.getmtime

    def racy_getmtime(p):
        if p.endswith("v1.json"):
            os.remove(p)  # the "other" vacuum wins mid-listing
            raise FileNotFoundError(p)
        return real_getmtime(p)

    monkeypatch.setattr(os.path, "getmtime", racy_getmtime)
    out = st.vacuum(
        root, keep_last=1, retention_seconds=0.0, min_age_seconds=0.001
    )
    # the vanished v1 is excluded entirely; v2 (older than the 1 ms
    # grace) expires normally under keep_last=1
    assert 1 not in out["kept_versions"] and 1 not in out["dropped_versions"]
    assert out["dropped_versions"] == [2]
    monkeypatch.undo()
    assert st.snapshot_versions(root) == [3]
    assert st.read_snapshot(spark, root).count() == 30
