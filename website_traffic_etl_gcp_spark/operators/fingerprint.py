"""Sampled document fingerprints: winnowing and content-defined chunks.

Two classic fingerprint schemes that complement the dedup tiers in
``operators/dedup.py`` (which hash EVERY shingle or the whole doc):

- **Winnowing** (Schleimer, Wilkerson, Aiken — SIGMOD 2003, the MOSS
  algorithm): slide a window of ``WINNOW_WINDOW`` consecutive shingle
  hashes and keep each window's minimum (rightmost on ties).  The
  selected ~``2/(w+1)`` fraction of shingles is a deterministic,
  position-robust sample that GUARANTEES any shared substring of at
  least ``w + K - 1`` tokens contributes one common fingerprint — so
  overlap detection runs on ~1/3 of the shingle volume with no recall
  loss for long matches.

- **Content-defined chunking** (the gear/rolling-hash scheme behind
  LBFS/rsync-style dedup): cut a document after token ``j`` whenever
  the hash of the ``K``-token window ending at ``j`` is ``0 (mod
  CDC_DIVISOR)``.  Boundaries depend only on local content, so
  inserting or deleting a token reshapes at most the surrounding
  chunk and the chunk stream re-synchronizes — unlike the fixed-stride
  windows of ``plans/documents.py:chunk_stream``, where one insertion
  shifts every later chunk hash.  Chunk hashes are the insertion-robust
  join key for cross-doc duplicate-span detection.

Both schemes hash via md5 prefixes (``functions/texthash.py``) so the
DuckDB oracles in ``plans/documents.py`` compute bit-identical values.

Scale shape (the 100 TB contract): everything is one narrow explode
plus windows PARTITIONED BY doc_id — shuffle volume O(tokens), no
pairwise work, no driver collects.  The winnowing min-window and the
CDC running cut-count reuse the same per-doc sort, and the encoded
(hash, position) min trick keeps tie-breaking inside whole-stage
codegen instead of a struct comparator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.texthash import normalize_text
from .textstats import SHINGLE_K

# Winnowing: guarantee window (in shingles) and hash width.  The
# 36-bit hash (9 md5 hex chars) packs with a 24-bit position
# complement into one int64: supports docs up to 2^24 tokens
# (~16.7M — far beyond any pre-chunked training doc) with zero
# collision between (hash, pos) pairs inside a doc.
WINNOW_WINDOW = 4
WINNOW_HASH_HEX = 9  # 36-bit shingle hash
_POS_MOD = 1 << 24

# Content-defined chunking: expected chunk length = CDC_DIVISOR tokens
# (geometric), window = SHINGLE_K tokens.
CDC_DIVISOR = 16


def winnow_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sel_pos, sel_hash) — the winnowing fingerprint set.

    For every window of ``WINNOW_WINDOW`` consecutive shingle
    positions, select the minimum 36-bit shingle hash, breaking ties
    toward the RIGHTMOST position (the Schleimer et al. rule, which
    minimizes the selected-set size).  Ties are resolved inside one
    int64 ``min``: ``hash * 2^24 + (2^24 - 1 - pos)`` orders first by
    hash, then by DESCENDING position.  Docs with fewer than ``w``
    shingles contribute their single whole-window minimum.

    r14 kernel: winnowing is a strictly per-doc computation, yet the
    explode + doc_id-window form shuffled every token-shingle STRING
    to establish the window sort — O(corpus text) over the wire. This
    runs the identical arithmetic in ONE ``mapInArrow`` pass with
    ZERO shuffle: because ``norm`` collapses whitespace to single
    spaces, shingle i is a byte SLICE of the normalized doc
    (``norm[start(tok_i) : end(tok_{i+K-1})]``), so shingles are
    never materialized as separate strings — per shingle one
    ``hashlib.md5`` over a memoryview slice (bit-identical to the JVM
    ``md5`` → 9-hex-char prefix), then the pack/sliding-min/distinct
    run as vectorized int64 numpy exactly as the window form."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    w = WINNOW_WINDOW
    k = SHINGLE_K

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            norm = batch.column("norm")
            norm = (
                norm.combine_chunks()
                if isinstance(norm, pa.ChunkedArray)
                else norm
            )
            if norm.null_count:
                raise ValueError("null text in winnow kernel")
            n_offs = np.frombuffer(norm.buffers()[1], dtype=np.int32)[
                norm.offset : norm.offset + len(norm) + 1
            ].astype(np.int64)
            n_buf = norm.buffers()[2]
            n_data = (
                np.frombuffer(n_buf, dtype=np.uint8)
                if n_buf is not None
                else np.empty(0, np.uint8)
            )
            toks = pc.split_pattern(norm, " ")
            toks = (
                toks.combine_chunks()
                if isinstance(toks, pa.ChunkedArray)
                else toks
            )
            t_offs = np.frombuffer(toks.buffers()[1], dtype=np.int32)[
                toks.offset : toks.offset + len(toks) + 1
            ].astype(np.int64)
            t_offs = t_offs - t_offs[0]  # flat-relative token indices
            flat = toks.flatten()
            f_offs = np.frombuffer(flat.buffers()[1], dtype=np.int32)[
                flat.offset : flat.offset + len(flat) + 1
            ].astype(np.int64)
            tlens = f_offs[1:] - f_offs[:-1]
            n_tok = t_offs[1:] - t_offs[:-1]  # tokens per doc (>=1)
            # char offset of each token inside ITS norm: cumsum of
            # (len+1) reset at doc starts — norm is " ".join(tokens)
            step = tlens + 1
            cum = np.cumsum(step) - step  # exclusive prefix sum
            doc_first = t_offs[:-1]  # first token index per doc
            tok_doc = np.repeat(
                np.arange(len(doc_ids), dtype=np.int64), n_tok
            )
            start_in_doc = cum - cum[doc_first][tok_doc]
            end_in_doc = start_in_doc + tlens
            # shingle i of doc d spans tokens i..i+k-1 (clamped to the
            # doc end for short docs, whose single shingle is the
            # whole norm); m = max(n_tok-k+1, 1) shingles per doc
            m = np.maximum(n_tok - k + 1, 1)
            sh_doc = np.repeat(np.arange(len(doc_ids), dtype=np.int64), m)
            sh_first = np.cumsum(m) - m  # first shingle index per doc
            pos0 = np.arange(len(sh_doc), dtype=np.int64) - sh_first[sh_doc]
            tok_i = doc_first[sh_doc] + pos0
            tok_j = np.minimum(
                tok_i + k - 1, doc_first[sh_doc] + n_tok[sh_doc] - 1
            )
            base = n_offs[:-1][sh_doc]
            a = (base + start_in_doc[tok_i]).tolist()
            b = (base + end_in_doc[tok_j]).tolist()
            mv = memoryview(n_data)
            md5 = hashlib.md5
            # 9 hex chars = first 4.5 digest bytes: (5 bytes BE) >> 4
            hs = [
                int.from_bytes(md5(mv[ai:bi]).digest()[:5], "big") >> 4
                for ai, bi in zip(a, b)
            ]
            pos = pos0 + 1
            combined = (
                np.asarray(hs, dtype=np.int64) * _POS_MOD
                + (_POS_MOD - 1 - pos)
            )
            # trailing sliding min of width w, masked at doc starts
            wmin = combined.copy()
            for s in range(1, w):
                same = sh_doc[s:] == sh_doc[:-s]
                np.minimum(
                    wmin[s:], np.where(same, combined[:-s], wmin[s:]),
                    out=wmin[s:],
                )
            keep = pos >= np.minimum(w, m[sh_doc])
            d_keep, w_keep = sh_doc[keep], wmin[keep]
            # per-doc distinct (the window form's trailing .distinct())
            order = np.lexsort((w_keep, d_keep))
            d_s, w_s = d_keep[order], w_keep[order]
            new = np.empty(len(d_s), bool)
            if len(d_s):
                new[0] = True
                new[1:] = (d_s[1:] != d_s[:-1]) | (w_s[1:] != w_s[:-1])
            d_u, w_u = d_s[new], w_s[new]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[d_u], pa.int64()),
                    pa.array(_POS_MOD - 1 - (w_u % _POS_MOD), pa.int64()),
                    pa.array(w_u // _POS_MOD, pa.int64()),
                ],
                names=["doc_id", "sel_pos", "sel_hash"],
            )

    src = widen_narrow_input(
        df, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(
        F.col(id_col).alias("doc_id"),
        normalize_text(text_col).alias("norm"),
    )
    return src.mapInArrow(fn, "doc_id bigint, sel_pos bigint, sel_hash bigint")


def cdc_chunks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, chunk_idx, start_pos, end_pos, n_tokens, chunk_hash) —
    content-defined chunks over the normalized token stream.

    A cut falls AFTER token ``j`` (j >= SHINGLE_K) when the 60-bit md5
    hash of the ``SHINGLE_K``-token window ending at ``j`` is
    divisible by ``CDC_DIVISOR``; expected chunk length is
    ``CDC_DIVISOR`` tokens.  ``chunk_hash`` is the md5 of the chunk's
    space-joined tokens — the insertion-robust dedup key.

    r14 kernel (the wave-8 winnow pattern): chunking is strictly
    per-doc, yet the explode + lag-window form shuffled every token
    STRING for the doc_id window sort and then REBUILT chunk text
    with a collect_list — O(corpus text) over the wire, twice. This
    runs the identical arithmetic in ONE ``mapInArrow`` pass with
    ZERO shuffle: both the K-gram cut hash and the chunk hash are
    md5 over byte SLICES of the normalized doc (``norm`` joins
    tokens with single spaces), the running cut-count and chunk
    grouping are vectorized numpy."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.partitioning import (
        CPU_HEAVY_MIN_PARTITION_BYTES,
        widen_narrow_input,
    )

    k = SHINGLE_K

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            norm = batch.column("norm")
            norm = (
                norm.combine_chunks()
                if isinstance(norm, pa.ChunkedArray)
                else norm
            )
            if norm.null_count:
                raise ValueError("null text in cdc kernel")
            n_offs = np.frombuffer(norm.buffers()[1], dtype=np.int32)[
                norm.offset : norm.offset + len(norm) + 1
            ].astype(np.int64)
            n_buf = norm.buffers()[2]
            n_data = (
                np.frombuffer(n_buf, dtype=np.uint8)
                if n_buf is not None
                else np.empty(0, np.uint8)
            )
            toks = pc.split_pattern(norm, " ")
            toks = (
                toks.combine_chunks()
                if isinstance(toks, pa.ChunkedArray)
                else toks
            )
            t_offs = np.frombuffer(toks.buffers()[1], dtype=np.int32)[
                toks.offset : toks.offset + len(toks) + 1
            ].astype(np.int64)
            t_offs = t_offs - t_offs[0]
            flat = toks.flatten()
            f_offs = np.frombuffer(flat.buffers()[1], dtype=np.int32)[
                flat.offset : flat.offset + len(flat) + 1
            ].astype(np.int64)
            tlens = f_offs[1:] - f_offs[:-1]
            n_tok = t_offs[1:] - t_offs[:-1]
            step = tlens + 1
            cum = np.cumsum(step) - step
            doc_first = t_offs[:-1]
            tok_doc = np.repeat(
                np.arange(len(doc_ids), dtype=np.int64), n_tok
            )
            start_in_doc = cum - cum[doc_first][tok_doc]
            end_in_doc = start_in_doc + tlens
            base = n_offs[:-1][tok_doc]
            tok_a = base + start_in_doc
            tok_b = base + end_in_doc
            pos_in_doc = (
                np.arange(len(tok_doc), dtype=np.int64)
                - doc_first[tok_doc]
                + 1
            )
            mv = memoryview(n_data)
            md5 = hashlib.md5
            # cut AFTER token j (pos >= K): 60-bit md5 prefix of the
            # K-gram ending at j divisible by CDC_DIVISOR. The K-gram
            # is the byte slice from token j-K+1's start to token j's
            # end (15 hex chars = first 7.5 digest bytes).
            cut = np.zeros(len(tok_doc), bool)
            idx = np.flatnonzero(pos_in_doc >= k)
            if len(idx):
                ga = tok_a[idx - (k - 1)].tolist()
                gb = tok_b[idx].tolist()
                h60 = np.fromiter(
                    (
                        int.from_bytes(md5(mv[a:b]).digest()[:8], "big") >> 4
                        for a, b in zip(ga, gb)
                    ),
                    dtype=np.int64,
                    count=len(idx),
                )
                cut[idx] = (h60 % CDC_DIVISOR) == 0
            # chunk_idx = cuts strictly BEFORE this token, per doc
            cc = np.cumsum(cut)
            chunk_idx = (
                cc
                - cut
                - (cc - cut)[doc_first[tok_doc]]
            )
            # chunk heads: doc start or chunk_idx change
            head = np.empty(len(tok_doc), bool)
            if len(tok_doc):
                head[0] = True
                head[1:] = (tok_doc[1:] != tok_doc[:-1]) | (
                    chunk_idx[1:] != chunk_idx[:-1]
                )
            heads = np.flatnonzero(head)
            tails = np.append(heads[1:], len(tok_doc)) - 1
            ca = tok_a[heads].tolist()
            cb = tok_b[tails].tolist()
            hashes = [md5(mv[a:b]).hexdigest() for a, b in zip(ca, cb)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[tok_doc[heads]], pa.int64()),
                    pa.array(chunk_idx[heads], pa.int64()),
                    pa.array(pos_in_doc[heads], pa.int64()),
                    pa.array(pos_in_doc[tails], pa.int64()),
                    pa.array(tails - heads + 1, pa.int64()),
                    pa.array(hashes, pa.string()),
                ],
                names=[
                    "doc_id",
                    "chunk_idx",
                    "start_pos",
                    "end_pos",
                    "n_tokens",
                    "chunk_hash",
                ],
            )

    src = widen_narrow_input(
        df, min_partition_bytes=CPU_HEAVY_MIN_PARTITION_BYTES
    ).select(
        F.col(id_col).alias("doc_id"),
        normalize_text(text_col).alias("norm"),
    )
    return src.mapInArrow(
        fn,
        "doc_id bigint, chunk_idx bigint, start_pos bigint, "
        "end_pos bigint, n_tokens bigint, chunk_hash string",
    )
