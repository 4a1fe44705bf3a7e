"""Bloom-filter semi-join reduction.

The runtime-filter technique behind big-join speedups at 100 TB: build
a compact membership sketch of the SELECTIVE side's join keys, push it
into the scan of the LARGE side so most non-matching rows die before
the shuffle, then let the exact join remove the sketch's false
positives. Spark's optimizer injects this automatically in some plans
(`runtime.bloomFilter`); this operator is the explicit form.

Implementation notes:
- The result of any consumer is INVARIANT to the position scheme: a
  Bloom filter has no false negatives by construction and the exact
  join removes false positives, so the only contract is "k positions
  per key, derived identically on build and probe side"
  (tests/test_redact_packing.py::test_bloom_prefilter_contract pins
  no-false-negatives + genuine reduction, scheme-agnostic).
- k positions per key are k disjoint bit slices of ONE ``xxhash64``
  (codegen, hashes the raw key bytes). The r14 A/B measured the
  previous scheme — ``md5(cast(key as string) || '#i') % m``, i.e.
  string concat + md5 + hex-parse, three times per probe row — as
  pure per-row overhead on the BIG side (guide §4.1: prefer JVM
  built-ins; §2.3: the probe filter runs before the shuffle, so its
  per-row cost multiplies the full corpus scan).
- The "bitmap" is a distinct-positions relation (≤ m rows of ints),
  broadcast; membership = k broadcast LEFT SEMI joins, one per hash.
  No driver-side collect, no UDF — the probe stays in codegen. (The
  packed-bitmap single-row alternative measured SLOWER at two SFs
  and stays rejected.)
- m defaults to 1<<13: at 8 KB-equivalent it broadcasts anywhere; size
  m ≈ 10–15 bits/key for ~1% false positives before the exact join.
  m must be a power of two so each bit slice is an unbiased index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOOM_M = 1 << 13
BLOOM_K = 3


def _positions(key: Column, m: int, k: int) -> list[Column]:
    """k bit positions from one 64-bit hash: disjoint bit slices of
    ``xxhash64(key)``. Requires k * log2(m) <= 64.

    m and k are caller-supplied public parameters, so the invariants
    raise ValueError (an assert would vanish under ``python -O`` and
    an invalid override would silently bias positions)."""
    if m <= 0 or m & (m - 1) != 0:
        raise ValueError(f"bloom m must be a power of two, got {m}")
    bits_per = m.bit_length() - 1
    if k * bits_per > 64:
        raise ValueError(
            f"not enough hash bits for k={k} slices of log2(m)={bits_per}"
        )
    h = F.xxhash64(key)
    return [
        F.shiftrightunsigned(h, i * bits_per).bitwiseAND(F.lit(m - 1)).cast("int")
        for i in range(k)
    ]


def bloom_positions(df: DataFrame, key: str, m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """The sketch: distinct occupied bit positions of the build side —
    a ≤ m-row int relation (the portable stand-in for a bitmap)."""
    pos = F.explode(F.array(*_positions(F.col(key), m, k))).alias("__pos")
    return df.select(pos).distinct()


def bloom_prefilter(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Rows of ``probe`` whose key passes the Bloom membership test
    against ``build``'s keys (false positives possible — follow with
    the exact join; false negatives impossible).

    ``xxhash64`` hashes the RAW TYPED key bytes, so build and probe
    keys of different but join-compatible types (int vs bigint,
    decimal scales) would hash differently and produce SILENT false
    negatives — refuse loudly instead (ADVICE r14)."""
    bt = build.schema[build_key].dataType
    pt = probe.schema[probe_key].dataType
    if bt != pt:
        raise ValueError(
            f"bloom_prefilter keys must share one exact type: "
            f"build {build_key}:{bt.simpleString()} vs "
            f"probe {probe_key}:{pt.simpleString()} — cast one side "
            f"first (xxhash64 is type-sensitive; a mismatch would "
            f"cause silent false negatives)"
        )
    bits = bloom_positions(build, build_key, m, k)
    probe_pos = _positions(F.col(probe_key), m, k)
    out = probe
    for i in range(k):
        probe_bits = bits.select(F.col("__pos").alias(f"__pos{i}"))
        out = out.join(
            F.broadcast(probe_bits),
            probe_pos[i] == F.col(f"__pos{i}"),
            "left_semi",
        )
    return out
