"""Manifest-pointer snapshot tables: transactional semantics on plain
parquet, no external table-format jars.

The reference's BigQuery load gives atomic, concurrent-reader-safe
table swaps (reference load.py:67-110). The directory swap
(``writers._swap_in``, left only under ``compact_table``) is
single-writer and momentarily unlinks the live path — a reader
planning a scan mid-swap can observe a missing or half-moved
directory. This module closes that gap with the pattern
the open table formats (Iceberg's snapshot list, Delta's transaction
log — both public designs) use over immutable files:

- Data files are IMMUTABLE: every commit writes new files under
  ``data/<uuid>/`` and never touches previous ones.
- A commit is one manifest ``_snapshots/v{N}.json`` naming exactly
  the data files in that version. The manifests on disk are the only
  record of the head: the newest ``v{N}.json`` is the current version.
- A commit writes its manifest to a dot-prefixed tmp file, fsyncs it,
  then ``os.link``s it to ``v{N}.json``. The link is the commit point:
  a manifest appears whole or not at all, and the link fails when the
  version exists, so exactly one writer wins each version; losers see
  a ``CommitConflict`` and retry against the new head (optimistic
  concurrency).
- Readers list the manifests once, then read only the files their
  manifest names. A concurrent commit cannot disturb them: their
  files still exist, their manifest still exists — snapshot isolation
  without locks.
- Old versions remain readable (time travel) until ``vacuum`` drops
  manifests beyond a retention count and deletes data files no
  retained manifest references.

At 100 TB the manifest holds file PATHS, never data; commit cost is
O(files-in-commit), independent of table size, and on an object store
the link maps to the same conditional-put primitive the real formats
use.

Manifest shape: a table that accumulates 10⁵+ files cannot keep its
whole file list + zone maps in ONE JSON the driver parses per read, so
every manifest has the Iceberg manifest-list shape. The version file
holds CHUNK DESCRIPTORS (path, n_files, per-column min/max ranges),
and each immutable chunk file under ``_snapshots/chunks/`` maps up to
``CHUNK_TARGET_FILES`` data files to their zone maps. Appends carry
the parent's descriptors VERBATIM (O(new files + n_chunks) commit
cost — the parent's chunk files are never reread or rewritten), and a
pruned read skips whole chunks by their range summary before opening
any of them, so driver cost is O(chunks + files-in-overlapping-chunks),
sub-linear in table file count for selective predicates.

One commit path: every writer — ``write_snapshot``, ``merge_snapshot``,
``compact_snapshot``, ``repack_manifests``, the WAP publish and the
conflict-checked ``delete_rows`` in ``writers``, and the streaming
sink — commits through :func:`transact`, which derives the commit from
the head it read and retries a ``CommitConflict`` against the fresh
head at most ``COMMIT_ATTEMPTS`` times. Table-level fields
(``TABLE_FIELDS``: the declared ``schema`` and the sink's ``batch_hwm``
high-water mark) carry forward from the parent in every commit that
does not set them, so compaction, repack and vacuum cannot drop them.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SNAP_DIR = "_snapshots"
_CHUNK_DIR = "chunks"

# at most this many data files per chunk file
CHUNK_TARGET_FILES = 512

# maintain_snapshot repacks once the chunk-descriptor count exceeds
# this multiple of the optimal packing (ceil(n_files /
# CHUNK_TARGET_FILES))
CHUNK_SLACK = 2.0

# a conflicting commit re-derives against the fresh head at most this
# many times in all before transact gives up
COMMIT_ATTEMPTS = 5

# manifest fields describing the TABLE rather than one commit: every
# commit inherits them from its parent unless it sets them itself
TABLE_FIELDS = ("schema", "batch_hwm")


class CommitConflict(Exception):
    """Another writer committed this version first; reload and retry."""


class SchemaEvolutionError(Exception):
    """An append's schema conflicts with the table's declared schema
    (same-name column with a different type). New columns are allowed
    (additive evolution, the Delta/Iceberg default); type changes are
    rejected loudly instead of silently corrupting reads."""


class NoSuchSnapshot(Exception):
    pass


def _snap_dir(root: str) -> str:
    return os.path.join(root, _SNAP_DIR)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_snap_dir(root), f"v{version}.json")


def current_version(root: str) -> int:
    """Latest committed version, or 0 if the table doesn't exist yet:
    the newest manifest on disk (its link is the commit point)."""
    versions = snapshot_versions(root)
    return versions[-1] if versions else 0


def read_manifest(root: str, version: int | None = None) -> dict:
    v = current_version(root) if version is None else version
    if v == 0:
        raise NoSuchSnapshot(f"{root} has no committed snapshots")
    try:
        with open(_manifest_path(root, v)) as f:
            return json.load(f)
    except FileNotFoundError as e:
        raise NoSuchSnapshot(
            f"version {v} of {root} does not exist (vacuumed or never "
            "committed)"
        ) from e


def _read_chunk(root: str, rel: str) -> dict:
    """A chunk file: ``{data file: zone map}`` in manifest order, with
    ``{}`` for a file that has no recorded stats."""
    with open(os.path.join(root, rel)) as f:
        return json.load(f)


def _chunk_ranges(entries: dict) -> dict:
    """Chunk-level column ranges: for each column where EVERY file in
    the chunk has a recorded stat, [min of mins, max of maxs]. A
    column any file lacks is omitted — a range that ignored that file
    could prune a chunk containing unprunable (must-read) data."""
    ranges = None
    for s in entries.values():
        if ranges is None:
            ranges = {c: list(v) for c, v in s.items()}
            continue
        for c in list(ranges):
            if c not in s:
                del ranges[c]
            else:
                lo, hi = s[c]
                if lo < ranges[c][0]:
                    ranges[c][0] = lo
                if hi > ranges[c][1]:
                    ranges[c][1] = hi
    return ranges or {}


def _pack_chunks(root: str, files: list[str], stats: dict) -> list[dict]:
    """Write ``files`` (+ their zone maps) into immutable chunk files
    of ≤ CHUNK_TARGET_FILES entries each; return the descriptors the
    manifest stores. Chunk files are uuid-named and never mutated, so
    descriptors can be carried across versions verbatim."""
    chunk_dir = os.path.join(_snap_dir(root), _CHUNK_DIR)
    os.makedirs(chunk_dir, exist_ok=True)
    descriptors = []
    for i in range(0, len(files), CHUNK_TARGET_FILES):
        entries = {
            f: stats.get(f, {}) for f in files[i : i + CHUNK_TARGET_FILES]
        }
        rel = os.path.join(
            _SNAP_DIR, _CHUNK_DIR, f"c-{uuid.uuid4().hex[:16]}.json"
        )
        tmp = os.path.join(root, rel + ".tmp")
        with open(tmp, "w") as f:
            json.dump(entries, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(root, rel))
        descriptors.append(
            {
                "path": rel,
                "n_files": len(entries),
                "ranges": _chunk_ranges(entries),
            }
        )
    return descriptors


def _repack_order(files: list[str], stats: dict) -> list[str]:
    """Cluster-aware file order for a manifest repack: sort by the
    zone-map min of the column whose per-file ranges are most disjoint
    (i.e. the column the data was actually written clustered by).
    Chunk-level min/max ranges then prune regardless of how streaming
    appends interleaved the paths. Falls back to the given (path)
    order when stats are missing, no column is common to every file,
    or values don't compare (mixed types). O(files × columns) driver
    work, repack-time only."""
    common: set[str] | None = None
    for f in files:
        s = stats.get(f)
        if not s:
            return files
        common = set(s) if common is None else common & set(s)
    if not common:
        return files
    best_col = None
    best_overlaps = None
    for c in sorted(common):
        try:
            rngs = sorted((stats[f][c][0], stats[f][c][1]) for f in files)
            overlaps = sum(
                1
                for i in range(1, len(rngs))
                if rngs[i][0] <= rngs[i - 1][1]
            )
        except TypeError:
            continue
        if best_overlaps is None or overlaps < best_overlaps:
            best_col, best_overlaps = c, overlaps
    if best_col is None:
        return files
    col = best_col
    try:
        return sorted(files, key=lambda f: (stats[f][col][0], stats[f][col][1], f))
    except TypeError:
        return files


def manifest_files(root: str, m: dict) -> list[str]:
    """The full (relative) file list of a manifest, resolving its chunk
    descriptors. O(files) — use only where the caller inherently needs
    every file (full reads, merge, compaction, vacuum); pruned reads go
    through the chunk descriptors instead."""
    return [f for ch in m["chunks"] for f in _read_chunk(root, ch["path"])]


def manifest_stats(root: str, m: dict) -> dict:
    """The per-file zone maps of a manifest, for the files that have
    recorded stats."""
    return {
        f: s
        for ch in m["chunks"]
        for f, s in _read_chunk(root, ch["path"]).items()
        if s
    }


def manifest_n_files(m: dict) -> int:
    """File count without reading the chunk files."""
    return sum(ch["n_files"] for ch in m["chunks"])


def manifest_chunk_paths(m: dict) -> list[str]:
    return [ch["path"] for ch in m["chunks"]]


def _list_parquet(staged_dir: str) -> list[str]:
    out = []
    for r, _, files in os.walk(staged_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.join(r, fn))
    return sorted(out)


def stage_files(df: DataFrame, root: str) -> list[str]:
    """Write ``df``'s files into an unreferenced ``data/<uuid>/`` dir.
    Until a manifest names them they are invisible to every reader —
    this is the staging half of write-audit-publish."""
    staged_dir = os.path.join(root, "data", uuid.uuid4().hex[:16])
    df.write.mode("overwrite").parquet(staged_dir)
    return _list_parquet(staged_dir)


def _file_zone_map(path: str) -> dict:
    """Per-file min/max column stats from the parquet footer — the
    zone map a pruned read skips files with. Only JSON-portable
    scalar types (ints, floats, strings, bools) are recorded; columns
    with missing/untyped footer stats are simply absent, which the
    reader treats as unprunable (correct, just not skippable)."""
    import pyarrow.parquet as pq

    # a staged file pyarrow cannot open (missing, not parquet) raises
    # here, so a bad commit fails before any manifest names the file
    meta = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow cannot materialize min/max for some logical
                # types (e.g. decimals) — unprunable, not an error
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    return {c: [mins[c], maxs[c]] for c in mins if c in maxs}


def _commit(
    root: str, files: list[str], mode: str, parent: int,
    extra: dict | None = None,
) -> int:
    """Publish manifest ``parent+1``. Raises CommitConflict if another
    writer got there first (no partial state to clean up: staged data
    files are unreferenced until the manifest exists, and the chunk
    files this attempt packed are deleted). ``extra`` lands verbatim
    in the manifest — e.g. the streaming sink's ``batch_id`` marker or
    the declared table ``schema``. Each ``TABLE_FIELDS`` entry the
    commit does not set is inherited from the parent, so maintenance
    commits (compaction, repack, deletes, merges) keep the schema chain
    and the sink's high-water mark. Writers call this only through
    :func:`transact`."""
    os.makedirs(_snap_dir(root), exist_ok=True)
    version = parent + 1
    rel = sorted(os.path.relpath(f, root) for f in files)
    extra = dict(extra or {})
    parent_m = read_manifest(root, parent) if parent > 0 else None
    if parent_m is not None:
        for k in TABLE_FIELDS:
            if k not in extra and k in parent_m:
                extra[k] = parent_m[k]
    # per-file zone maps (the Delta add-file stats model). An append
    # carries the parent's descriptors VERBATIM and packs only its new
    # files — O(new files + n_chunks), parent chunks never reread.
    # Every other commit packs its whole file list, reusing the
    # parent's zone maps for files that survive into this version;
    # only files new to the table get a footer scan.
    if mode == "append" and parent_m is not None:
        carried, parent_stats = parent_m["chunks"], {}
    else:
        carried = []
        parent_stats = manifest_stats(root, parent_m) if parent_m else {}
    stats = {}
    for f in rel:
        s = parent_stats.get(f) or _file_zone_map(os.path.join(root, f))
        if s:
            stats[f] = s
    if mode == "repack-manifest":
        # order by zone-map min instead of path so chunk-level ranges
        # stay disjoint even after interleaved streaming appends
        rel = _repack_order(rel, stats)
    packed = _pack_chunks(root, rel, stats)
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "committed_at": time.time(),
        "chunks": carried + packed,
        **extra,
    }
    tmp = os.path.join(
        _snap_dir(root), f".v{version}-{uuid.uuid4().hex[:16]}.tmp"
    )
    try:
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        # the commit point: the link fails when v{N}.json exists, and
        # it publishes a manifest that is already whole
        os.link(tmp, _manifest_path(root, version))
    except BaseException as e:
        # no manifest will ever name the chunk files this attempt
        # packed — without this, retry loops under contention leak
        # them under _snapshots/chunks/
        for d in packed:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(root, d["path"]))
        if isinstance(e, FileExistsError):
            raise CommitConflict(
                f"version {version} of {root} was committed concurrently"
            ) from e
        raise
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
    return version


def transact(root: str, attempt) -> tuple[int, object] | None:
    """The one optimistic-commit loop. ``attempt(parent)`` derives a
    commit from version ``parent`` of the table (0 when it has none)
    and returns ``(files, mode, extra, result)``, or ``None`` when
    there is nothing to commit. The commit lands over that same
    ``parent``, so a read-modify-write never overwrites a version it
    did not read: a ``CommitConflict`` re-runs ``attempt`` against the
    fresh head, up to ``COMMIT_ATTEMPTS`` times in all. Returns
    ``(version, result)``, or ``None`` when the attempt declined.
    Either way, the files conflicted attempts staged and the final
    attempt did not reuse are deleted before it returns."""
    lost: list[tuple[int, list[str]]] = []
    for _ in range(COMMIT_ATTEMPTS):
        parent = current_version(root)
        step = attempt(parent)
        if step is None:
            _reap_lost(root, lost, [])
            return None
        files, mode, extra, result = step
        try:
            version = _commit(root, files, mode, parent, extra)
        except CommitConflict:
            lost.append((parent, files))
            continue
        _reap_lost(root, lost, files)
        return version, result
    raise CommitConflict(
        f"could not commit to {root} after {COMMIT_ATTEMPTS} attempts"
    )


def _reap_lost(
    root: str, lost: list[tuple[int, list[str]]], committed: list[str]
) -> None:
    """Delete the files the conflicted attempts in ``lost`` (pairs of
    parent version and returned files) staged. A returned file is
    staged when the parent's manifest does not name it (a named file
    was carried forward), and it stays when it is among the
    ``committed`` files (``write_snapshot`` reuses its staged files in
    every attempt). No manifest names the rest, so without this they
    would wait for a vacuum past the retention window. An attempt
    whose parent manifest is gone is skipped: its carried files can no
    longer be told from its staged ones. A commit dir left with no
    data file goes too."""
    keep = {os.path.relpath(f, root) for f in committed}
    data_root = os.path.join(root, "data")
    dirs = set()
    for parent, files in lost:
        try:
            carried = (
                set(manifest_files(root, read_manifest(root, parent)))
                if parent
                else set()
            )
        except (NoSuchSnapshot, FileNotFoundError):
            continue
        for f in files:
            rel = os.path.relpath(f, root)
            if rel in carried or rel in keep:
                continue
            path = os.path.join(root, rel)
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            dirs.add(os.path.dirname(path))
    for d in dirs:
        # Spark's _SUCCESS and .crc sidecars are not data files
        if os.path.dirname(d) == data_root and not _list_parquet(d):
            shutil.rmtree(d, ignore_errors=True)


def _merge_schema(parent: dict, new: dict) -> dict:
    """Additive schema evolution: the union of the parent's fields and
    the append's, parent order first, new columns appended as
    nullable. A same-name field with a DIFFERENT type raises — a type
    change silently narrows or corrupts old rows on read."""
    by_name = {f["name"]: f for f in parent["fields"]}
    out = list(parent["fields"])
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            out.append({**f, "nullable": True})
        elif old["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"column {f['name']!r}: appended type {f['type']!r} != "
                f"declared {old['type']!r} (additive evolution only)"
            )
    return {"type": "struct", "fields": out}


def write_snapshot(df: DataFrame, root: str, mode: str = "overwrite") -> int:
    """Commit ``df`` as the next table version. ``overwrite`` replaces
    the logical content; ``append`` adds to it (the new manifest
    carries the parent's file list plus the new files — no data is
    rewritten). Returns the committed version. ``df`` is staged once;
    a conflict re-merges the schema against the fresh head and costs
    a manifest write, not a re-write of data.

    Schema evolution: every commit declares the table schema in its
    manifest. Appends may ADD columns (the evolved schema is the
    field union; old rows read back as NULL in the new columns, the
    Delta/Iceberg additive default); a same-name column with a
    different type raises :class:`SchemaEvolutionError` before any
    file is referenced, and before anything is staged unless the
    conflicting column landed in a racing commit."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    new_schema = df.schema.jsonValue()
    files = None

    def attempt(parent: int):
        nonlocal files
        schema = new_schema
        if mode == "append" and parent > 0:
            parent_m = read_manifest(root, parent)
            if "schema" in parent_m:
                schema = _merge_schema(parent_m["schema"], new_schema)
        if files is None:
            files = stage_files(df, root)
        return files, mode, {"schema": schema}, None

    return transact(root, attempt)[0]


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """A DataFrame over exactly the files of one snapshot (latest by
    default, or any retained ``version`` — time travel). The file list
    is resolved NOW; later commits or deletes do not change what this
    frame reads."""
    m = read_manifest(root, version)
    paths = [os.path.join(root, f) for f in manifest_files(root, m)]
    if not paths:
        raise NoSuchSnapshot(f"version {m['version']} of {root} is empty")
    return _read_aligned(spark, paths, m)


def _read_aligned(spark: SparkSession, paths: list[str], m: dict) -> DataFrame:
    """Read ``paths`` aligned to the manifest's DECLARED schema.
    Part-file footers written before an evolution lack the newer
    columns, so merge footers first, then project to the declaration —
    missing columns surface as typed NULLs, extra footer columns are
    projected away. The manifest, not an arbitrary footer, is the
    source of truth. Pre-schema manifests read footers as-is."""
    if "schema" not in m:
        return spark.read.parquet(*paths)
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    declared = StructType.fromJson(m["schema"])
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in declared.fields
        ]
    )


def version_as_of(root: str, ts: float) -> int:
    """Timestamp time travel (Delta's ``TIMESTAMP AS OF``): the newest
    RETAINED version whose commit time is <= ``ts``. Raises
    :class:`NoSuchSnapshot` when ``ts`` predates the oldest retained
    commit (vacuum may have dropped history)."""
    best = 0
    for v in snapshot_versions(root):
        if read_manifest(root, v).get("committed_at", 0.0) <= ts:
            best = max(best, v)
    if best == 0:
        raise NoSuchSnapshot(
            f"no retained version of {root} committed at or before {ts}"
        )
    return best


def read_snapshot_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Data-skipping read: a DataFrame over ONLY the snapshot's files
    whose manifest zone map for ``col`` overlaps ``[lo, hi]`` (either
    bound may be None for half-open ranges), with the exact predicate
    still applied on top — the zone map decides which files are
    scanned, Spark's pushed filter decides which ROWS survive, so a
    missing or stale stat can only cost performance, never
    correctness. Returns ``(df, info)`` with
    ``info = {"files_total", "files_read", "files_pruned"}``.

    This is the manifest-level file skipping Delta/Iceberg perform
    from add-file stats: at 100 TB a point/range query touches the
    handful of files whose min/max admit the predicate instead of
    every file in the table. Files without a recorded stat for
    ``col`` are always read (unprunable, correct).

    The descriptors' range summaries are checked first and
    non-overlapping chunks are never opened, so the driver does
    O(chunks + files-in-overlapping-chunks) work — the ``chunks_total``,
    ``chunks_read`` and ``chunks_pruned`` info keys report it."""

    def _overlaps(rng) -> bool:
        if rng is None:
            return True  # no stat → unprunable → must read
        rmin, rmax = rng
        if lo is not None and rmax < lo:
            return False
        if hi is not None and rmin > hi:
            return False
        return True

    m = read_manifest(root, version)
    keep: list[str] = []
    chunks_read = 0
    for ch in m["chunks"]:
        if not _overlaps(ch["ranges"].get(col)):
            continue
        chunks_read += 1
        keep.extend(
            f for f, s in _read_chunk(root, ch["path"]).items()
            if _overlaps(s.get(col))
        )
    files_total = manifest_n_files(m)
    info = {
        "files_total": files_total,
        "files_read": len(keep),
        "files_pruned": files_total - len(keep),
        "chunks_total": len(m["chunks"]),
        "chunks_read": chunks_read,
        "chunks_pruned": len(m["chunks"]) - chunks_read,
    }
    if not keep:
        # nothing overlaps: a correctly-typed empty frame
        df = read_snapshot(spark, root, m["version"]).limit(0)
    else:
        df = _read_aligned(
            spark, [os.path.join(root, f) for f in keep], m
        )
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    return df.filter(cond), info


def _uri_to_path(uri: str) -> str:
    """``input_file_name()`` yields a URI (``file:///...`` with
    percent-encoding); manifest entries are plain relative paths —
    normalize for comparison."""
    from urllib.parse import unquote, urlparse

    if "://" in uri or uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return unquote(uri)


def merge_snapshot(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    delete_predicate: str | None = None,
    insert_unmatched: bool = True,
) -> dict:
    """MERGE INTO for snapshot tables — the file-pruned copy-on-write
    shape of the open table formats (Delta/Iceberg CoW MERGE, both
    public designs): matched target rows are REPLACED by their source
    row, source rows satisfying ``delete_predicate`` are dropped
    (matched → delete; unmatched → not inserted, the ``WHEN NOT
    MATCHED AND NOT <pred> THEN INSERT`` gate), and remaining unmatched
    source rows insert when ``insert_unmatched``.

    Scale shape: only data files that CONTAIN a matched key are
    rewritten. The touched-file set comes from a key-only join against
    ``input_file_name()`` — the exchange carries (key, path), never row
    bodies — and is bounded by the file count, so at 100 TB a merge
    touching 0.1% of keys rewrites ~0.1% of files while every other
    manifest entry is carried forward verbatim (zero data movement).
    Commit is the same O(files) atomic manifest as every other write;
    a ``CommitConflict`` reruns the merge against the fresh head
    (optimistic concurrency through :func:`transact`, staged files are
    re-derived because the touched set may have changed).

    The source may carry extra bookkeeping columns (a CDC ``_op``
    flag, change timestamps) — ``delete_predicate`` can reference
    them, and written rows are projected to the TARGET's columns; a
    source MISSING a target column fails loudly.

    Returns ``{"version", "files_kept", "files_rewritten",
    "n_files_new"}``.
    """

    def attempt(parent: int):
        all_rel = manifest_files(root, read_manifest(root, parent))
        tgt = spark.read.parquet(
            *[os.path.join(root, f) for f in all_rel]
        )
        tgt_cols = tgt.columns
        missing = [c for c in tgt_cols if c not in source.columns]
        if missing:
            raise ValueError(
                f"merge source is missing target columns {missing}"
            )
        src_keys = source.select(*keys).distinct()
        touched_paths = {
            os.path.realpath(_uri_to_path(r["_f"]))
            for r in tgt.select(
                *keys, F.input_file_name().alias("_f")
            )
            .join(src_keys, keys, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        }
        manifest_by_real = {
            os.path.realpath(os.path.join(root, f)): f for f in all_rel
        }
        # every touched path MUST resolve to a manifest entry; if URI
        # normalization ever diverges (non-local storage, symlinked
        # roots, scheme differences) the semi-join would find matched
        # keys while touched_rel stayed empty, and matched source rows
        # would silently INSERT next to the surviving old rows —
        # duplicate keys with no error. Fail loudly instead.
        unresolved = touched_paths - set(manifest_by_real)
        if unresolved:
            raise RuntimeError(
                "merge_snapshot: input_file_name() paths did not resolve "
                f"to manifest entries of {root}: {sorted(unresolved)[:3]} "
                f"(+{max(0, len(unresolved) - 3)} more); refusing to "
                "continue — proceeding would duplicate matched keys"
            )
        kept_rel = [
            f for f in all_rel
            if os.path.realpath(os.path.join(root, f)) not in touched_paths
        ]
        touched_rel = [f for f in all_rel if f not in set(kept_rel)]
        src_live = (
            source.filter(~F.expr(delete_predicate))
            if delete_predicate
            else source
        ).select(*tgt_cols)
        if touched_rel:
            touched_rows = spark.read.parquet(
                *[os.path.join(root, f) for f in touched_rel]
            )
            survivors = touched_rows.join(src_keys, keys, "left_anti")
            matched_src = src_live.join(
                touched_rows.select(*keys).distinct(), keys, "left_semi"
            )
            new_data = survivors.unionByName(matched_src)
            if insert_unmatched:
                inserts = src_live.join(
                    touched_rows.select(*keys).distinct(), keys, "left_anti"
                )
                new_data = new_data.unionByName(inserts)
        elif insert_unmatched:
            new_data = src_live
        else:
            new_data = None
        new_files = (
            stage_files(new_data, root) if new_data is not None else []
        )
        files = [os.path.join(root, f) for f in kept_rel] + new_files
        return files, "merge", {"merge_keys": keys}, {
            "files_kept": len(kept_rel),
            "files_rewritten": len(touched_rel),
            "n_files_new": len(new_files),
        }

    version, info = transact(root, attempt)
    return {"version": version, **info}


def read_increment(
    spark: SparkSession, root: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption of an append-only snapshot table — the
    CDC-read side of the lakehouse: a DataFrame over exactly the data
    files ``to_version`` references that ``from_version`` does not
    (``from_version = 0`` means everything). A downstream job
    checkpoints the version it has consumed and reads only the delta
    next run — O(new files) regardless of table size, the same
    file-set diff Delta's ``readChangeFeed``/Structured Streaming
    sources perform on append-only tables. Raises if a non-append
    commit (overwrite/merge/compact REMOVES files) sits between the
    two versions: removed files mean the delta is not expressible as
    new-files-only, and silently returning additions would drop
    retractions."""
    to_v = current_version(root) if to_version is None else to_version
    base = (
        set(manifest_files(root, read_manifest(root, from_version)))
        if from_version > 0
        else set()
    )
    new_m = read_manifest(root, to_v)
    new_files = manifest_files(root, new_m)
    missing = base - set(new_files)
    if missing:
        raise ValueError(
            f"versions {from_version}→{to_v} of {root} removed "
            f"{len(missing)} file(s) (a non-append commit) — the "
            "increment is not expressible as new files only"
        )
    added = [f for f in new_files if f not in base]
    if not added:  # same-schema empty frame, not None/raise
        return read_snapshot(spark, root, to_v).limit(0)
    # align to to_version's declared schema: increments spanning an
    # additive evolution read older added files with typed NULLs in
    # the new columns, same as a full-snapshot read would
    return _read_aligned(
        spark, [os.path.join(root, f) for f in added], new_m
    )


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: tuple[str, ...] = (),
) -> dict:
    """Small-file compaction as a TRANSACTION (the OPTIMIZE step of the
    open table formats): rewrite the current snapshot's rows into
    ~``target_file_bytes`` files (optionally clustered so min/max
    stats prune row groups) and commit the rewritten file list as the
    next version. Logical content is unchanged; readers of the old
    version are untouched (their files are immutable until ``vacuum``)
    and a concurrent commit simply wins the race — the compactor
    retries against the new head. Streaming snapshot sinks append one
    small commit per micro-batch; at 100 TB this is what keeps scan
    cost O(data), not O(commits)."""

    def attempt(parent: int):
        paths = [
            os.path.join(root, f)
            for f in manifest_files(root, read_manifest(root, parent))
        ]
        bytes_total = sum(
            os.path.getsize(p) for p in paths if os.path.exists(p)
        )
        n_out = max(1, -(-bytes_total // target_file_bytes))
        df = spark.read.parquet(*paths).repartition(int(n_out))
        if sort_within_by:
            df = df.sortWithinPartitions(*sort_within_by)
        new_files = stage_files(df, root)
        return new_files, "compact", None, {
            "files_before": len(paths),
            "files_after": len(new_files),
            "bytes_total": bytes_total,
        }

    version, info = transact(root, attempt)
    return {"version": version, **info}


def repack_manifests(root: str) -> dict:
    """Metadata-only manifest compaction (Iceberg's rewrite-manifests):
    a table fed by per-micro-batch appends accumulates one small chunk
    descriptor per commit — after 10⁴ batches the version file itself
    is O(commits). Repack reads the current file list + zone maps,
    rewrites them as optimally-packed chunk files ordered by
    ``_repack_order``, and commits a new version naming the SAME data
    files: zero data movement, O(files) metadata work, and every chunk
    descriptor afterwards covers CHUNK_TARGET_FILES entries. Readers of
    old versions are untouched; vacuum reaps the superseded chunk
    files once their manifests age out."""

    def attempt(parent: int):
        m = read_manifest(root, parent)
        files = [os.path.join(root, f) for f in manifest_files(root, m)]
        return files, "repack-manifest", None, len(m["chunks"])

    version, n_before = transact(root, attempt)
    new_m = read_manifest(root, version)
    return {
        "version": version,
        "n_files": manifest_n_files(new_m),
        "chunks_before": n_before,
        "chunks_after": len(new_m["chunks"]),
    }


def snapshot_versions(root: str) -> list[int]:
    try:
        names = os.listdir(_snap_dir(root))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names
        if n.startswith("v") and n.endswith(".json")
    )


def _check_keep_last(keep_last: int) -> None:
    if keep_last < 1:
        raise ValueError(
            f"keep_last must be at least 1 (the head version), got "
            f"{keep_last}"
        )


def vacuum(
    root: str,
    keep_last: int = 2,
    retention_seconds: float = 600.0,
    min_age_seconds: float = 0.0,
) -> dict:
    """Drop manifests beyond the newest ``keep_last`` and delete data
    files no retained manifest references. Safe order: manifests go
    first (so a crash can only leave orphan DATA files, which are
    invisible, never a manifest naming missing files).

    ``retention_seconds`` is the ORPHAN-file grace window (the guard
    Iceberg's ``remove_orphan_files older_than`` provides): a
    concurrent writer stages files under ``data/<uuid>/`` BEFORE its
    manifest exists, so a file referenced by NO manifest at all and
    younger than the window is presumed to be an in-flight commit and
    skipped — deleting it would leave the winner's manifest naming
    missing files, breaking this module's core invariant. Files
    referenced by a DROPPED manifest are committed history and are
    deleted regardless of age. Pass ``0`` only when the caller can
    guarantee no concurrent writer (single-writer vacuum).

    ``min_age_seconds`` is the TIME-TRAVEL grace window (Iceberg's
    ``expire_snapshots older_than``): a manifest younger than it
    survives even beyond ``keep_last``, so an in-flight reader that
    pinned a recent version (or an ``as-of`` query inside the window)
    never loses its files to a concurrent vacuum. ``0`` keeps the
    count-only behavior.

    ``keep_last`` below 1 raises ``ValueError``: the head version
    always survives."""
    _check_keep_last(keep_last)
    versions = snapshot_versions(root)
    drop = versions[:-keep_last]
    if min_age_seconds > 0:
        cutoff = time.time() - min_age_seconds
        aged = []
        for v in drop:
            try:
                if os.path.getmtime(_manifest_path(root, v)) <= cutoff:
                    aged.append(v)
            except FileNotFoundError:
                # a concurrent vacuum already took it — it must not
                # land in `keep` either (reading it would raise), so
                # drop it from consideration entirely
                versions.remove(v)
        drop = aged
    dropset = set(drop)
    keep = [v for v in versions if v not in dropset]
    referenced: set[str] = set()
    referenced_chunks: set[str] = set()
    for v in list(keep):
        try:
            m = read_manifest(root, v)
        except NoSuchSnapshot:
            keep.remove(v)  # lost to a concurrent vacuum mid-listing
            continue
        referenced.update(manifest_files(root, m))
        referenced_chunks.update(manifest_chunk_paths(m))
    dropped_referenced: set[str] = set()
    dropped_chunks: set[str] = set()
    for v in list(drop):
        try:
            m = read_manifest(root, v)
        except NoSuchSnapshot:
            drop.remove(v)  # concurrent vacuum got there first
            continue
        dropped_referenced.update(manifest_files(root, m))
        dropped_chunks.update(manifest_chunk_paths(m))
    for v in drop:
        try:
            os.remove(_manifest_path(root, v))
        except FileNotFoundError:
            pass  # racing vacuum removed it between read and unlink
    # chunk files shared with a retained manifest survive (appends
    # carry descriptors verbatim across versions); the rest of the
    # dropped manifests' chunks are unreachable history
    for rel in dropped_chunks - referenced_chunks:
        try:
            os.remove(os.path.join(root, rel))
        except FileNotFoundError:
            pass
    # orphan chunks: packed by a commit attempt that crashed between
    # pack and manifest link (losers of the link race clean up after
    # themselves in _commit, but a hard crash can't). Same
    # grace-window rule as in-flight data files: an unreferenced chunk
    # younger than retention may belong to a commit about to land.
    removed_orphan_chunks = 0
    chunk_dir = os.path.join(_snap_dir(root), _CHUNK_DIR)
    now0 = time.time()
    if os.path.isdir(chunk_dir):
        for fn in os.listdir(chunk_dir):
            rel = os.path.join(_SNAP_DIR, _CHUNK_DIR, fn)
            if rel in referenced_chunks or rel in dropped_chunks:
                continue
            p = os.path.join(root, rel)
            try:
                if now0 - os.path.getmtime(p) < retention_seconds:
                    continue
                os.remove(p)
            except FileNotFoundError:
                continue
            removed_orphan_chunks += 1
    removed_files = skipped_in_flight = 0
    now = time.time()
    data_root = os.path.join(root, "data")
    for r, _, files in os.walk(data_root):
        for fn in files:
            p = os.path.join(r, fn)
            rel = os.path.relpath(p, root)
            if rel in referenced:
                continue
            if rel not in dropped_referenced:
                # referenced by NO manifest → possibly a concurrent
                # writer's in-flight stage; only reap once it has
                # outlived the grace window
                try:
                    age = now - os.path.getmtime(p)
                except FileNotFoundError:
                    continue  # racing writer renamed/removed it
                if age < retention_seconds:
                    skipped_in_flight += 1
                    continue
            try:
                os.remove(p)
            except FileNotFoundError:
                continue
            removed_files += 1
    # prune now-empty commit dirs
    for r, dirs, files in list(os.walk(data_root, topdown=False)):
        if r != data_root and not dirs and not files:
            os.rmdir(r)
    return {
        "dropped_versions": drop,
        "kept_versions": keep,
        "removed_files": removed_files,
        "removed_orphan_chunks": removed_orphan_chunks,
        "skipped_in_flight": skipped_in_flight,
    }


def maintain_snapshot(
    root: str,
    keep_last: int = 2,
    retention_seconds: float = 600.0,
    min_age_seconds: float = 0.0,
) -> dict:
    """The self-maintenance policy a streaming-append table runs on a
    schedule (one CLI call per cron tick): repack fragmented manifests,
    then age-safe vacuum.

    Repack triggers only when the chunk-descriptor count exceeds
    ``CHUNK_SLACK`` × the optimal packing (ceil(n_files /
    CHUNK_TARGET_FILES)) — every append adds its own chunk descriptor,
    so a busy sink drifts toward O(commits) descriptors; a
    freshly-packed or low-traffic table is left untouched (repack is
    metadata-only but still a commit, and a no-op commit would churn
    the history vacuum is trying to bound). Vacuum then expires
    history beyond ``keep_last`` versions AND ``min_age_seconds`` age,
    with the ``retention_seconds`` in-flight-file grace window.
    Everything is metadata + file ops — no SparkSession, so the policy
    can run from a sidecar with no executor cost. A table with no
    committed snapshots yet (the cron tick firing before the first
    write lands) is a clean no-op, not a crash. ``keep_last`` below 1
    raises ``ValueError`` before anything is repacked."""
    _check_keep_last(keep_last)
    n_chunks = optimal = 0
    repacked = None
    if current_version(root):
        m = read_manifest(root)
        n_chunks = len(m["chunks"])
        optimal = max(1, -(-manifest_n_files(m) // CHUNK_TARGET_FILES))
        if n_chunks > optimal * CHUNK_SLACK:
            repacked = repack_manifests(root)
    vac = vacuum(
        root,
        keep_last=keep_last,
        retention_seconds=retention_seconds,
        min_age_seconds=min_age_seconds,
    )
    return {
        "repacked": repacked,
        "chunks_current": n_chunks,
        "chunks_optimal": optimal,
        "vacuum": vac,
    }
