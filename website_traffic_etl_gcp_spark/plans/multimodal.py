"""§2F — Multimodal queries: binary payload + Arrow-batched decode.

Every plan here runs REAL container codecs: each document is encoded
as a structurally valid BMP (8-bpp, padded bottom-up rows), RIFF/WAVE
PCM16, multi-frame ICO, zlib PNG, or uncompressed RIFF/AVI file by
the vendored pure-Python writers, then genuinely parsed back by the
vendored readers (sources/media_minimal.py) inside mapInPandas —
header validation, row-padding/bottom-up undo, RIFF chunk walking,
PNG filter reconstruction, per-frame DIB decode. The oracle pins are
content-derived (md5 / octet_length / the SQL-reproducible dimension
formulas), so a decoder that mis-parses strides, row order, or chunk
offsets corrupts the checksum and fails the gate. The perceptual-hash
plan additionally proves container INVARIANCE (BMP-vs-PNG re-encodes
collide on the decoded-pixel dHash) and bounded near-dup recall."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators import multimodal as mm
from .registry import register


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST(w AS INT) AS width,
           CAST(CEIL((octet_length(encode(text)) + 4) / (w * 1.0)) AS INT)
               AS height,
           CAST(((w + 3) // 4) * 4 AS INT) AS row_stride
    FROM (
        SELECT doc_id, text,
               16 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 512
                   AS w
        FROM documents
    )
    """,
    tags=("multimodal",),
    doc="REAL container decode under the oracle gate: each document is "
    "encoded as a structurally valid 8-bpp BMP (vendored pure-Python "
    "writer — real BITMAPINFOHEADER, 256-entry palette, DWORD row "
    "padding, bottom-up rows) carrying the length-prefixed content in "
    "its pixel array, then PARSED BACK by the vendored reader inside "
    "mapInPandas. n_bytes/checksum come from the recovered content and "
    "width/height/row_stride from the decoded header, so a stride or "
    "row-order bug corrupts the md5 and fails the hash gate. "
    "operators/multimodal.py:encode_bmp_corpus/extract_bmp_metadata, "
    "sources/media_minimal.py.",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.extract_bmp_metadata(mm.encode_bmp_corpus(docs))


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4))
                AS BIGINT) AS frame_idx,
           md5(text || ':' ||
               CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4))
                    AS VARCHAR)) AS frame_checksum,
           CAST({mm.ICO_FRAME_W} AS INT) AS width,
           CAST(CEIL((octet_length(encode(text))
                      + 1 + length(CAST(unnest(range(0,
                            1 + octet_length(encode(text)) % 4))
                          AS VARCHAR)) + 4)
                     / {mm.ICO_FRAME_W}.0) AS INT) AS height
    FROM documents
    """,
    tags=("multimodal",),
    doc="Frame sampling over a REAL multi-frame container (round 9): "
    "each document is packed as a structurally valid .ico — the "
    "spec-public Windows multi-image format — with 1..4 embedded "
    "doubled-height BMP frames (vendored writer, sources/"
    "media_minimal.py), then the vendored reader walks the ICONDIR, "
    "validates each embedded header and XOR/AND block, and recovers "
    "every frame's content inside a generator mapInPandas (the "
    "one-to-many batch shape of video decode, fan-out driven by the "
    "CONTAINER's actual frame count). frame_checksum is the md5 of "
    "the recovered per-frame content and width/height the decoded "
    "frame dims, so a directory-offset or mask-size bug fails the "
    "hash gate. operators/multimodal.py:encode_ico_corpus/"
    "sample_frames_ico.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.sample_frames_ico(mm.encode_ico_corpus(docs))


@register(
    "multimodal_resize_dims",
    oracle=f"""
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(GREATEST(1, (w * {mm.RESIZE_BOX}) // GREATEST(w, h)) AS INT)
               AS out_w,
           CAST(GREATEST(1, (h * {mm.RESIZE_BOX}) // GREATEST(w, h)) AS INT)
               AS out_h
    FROM (
        SELECT doc_id, w,
               CAST(CEIL((octet_length(encode(text)) + 4) / (w * 1.0))
                    AS BIGINT) AS h
        FROM (
            SELECT doc_id, text,
                   16 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                       % 512 AS w
            FROM documents
        )
    )
    """,
    tags=("multimodal",),
    doc=f"Image-resize planning over REAL decoded dimensions: parse "
    "each generated BMP's header with the vendored reader, then "
    f"aspect-preserving integer fit into a {mm.RESIZE_BOX}px box (long "
    "side pinned, short side floor-scaled — no float scale factor, so "
    "the SQL twin is bit-exact). One-row-in/one-row-out mapInPandas; "
    "the pixel resample itself remains the stubbed codec step. "
    "operators/multimodal.py:resize_dims_bmp/aspect_fit.",
)
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.resize_dims_bmp(mm.encode_bmp_corpus(docs))


@register(
    "multimodal_audio_chunks",
    oracle=f"""
    SELECT doc_id,
           chunk_idx,
           CAST(length(substr(text,
                CAST(chunk_idx * {mm.CHUNK_CHARS} + 1 AS INT),
                {mm.CHUNK_CHARS})) AS BIGINT) AS chunk_len,
           md5(substr(text,
                CAST(chunk_idx * {mm.CHUNK_CHARS} + 1 AS INT),
                {mm.CHUNK_CHARS})) AS chunk_md5,
           CAST((octet_length(encode(text)) + 5) // 2 AS BIGINT) AS n_frames
    FROM (
        SELECT doc_id, text,
               CAST(unnest(range(0, GREATEST(1,
                    CAST(ceil(length(text) / {mm.CHUNK_CHARS}.0) AS BIGINT))))
                    AS BIGINT) AS chunk_idx
        FROM documents
    )
    """,
    tags=("multimodal",),
    doc=f"Audio segmentation over REAL containers: each document is "
    "wrapped as a RIFF/WAVE PCM16-mono file by the vendored writer, "
    "then the vendored reader walks the chunk list (fmt validation, "
    "data-chunk location, RIFF odd-size padding), recovers the "
    f"content, and fans out to ceil(len/{mm.CHUNK_CHARS}) fixed-window "
    "chunk rows with per-chunk checksums through a generator "
    "mapInPandas (unbounded fan-out, never driver-side). n_frames is "
    "the decoded PCM frame count — only correct if the chunk walk "
    "found the genuine data chunk. Chunk boundaries are in the "
    "decoded character domain so the SQL twin reproduces them. "
    "operators/multimodal.py:encode_wav_corpus/chunk_wav, "
    "sources/media_minimal.py.",
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.chunk_wav(mm.encode_wav_corpus(docs))


@register(
    "multimodal_dedup_phash",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               w * CAST(CEIL((octet_length(encode(text)) + 4) / (w * 1.0))
                        AS BIGINT) AS n
        FROM (
            SELECT doc_id, text,
                   16 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                       % 512 AS w
            FROM documents
        )
    )
    SELECT doc_id * {mm.ITEM_STRIDE} AS canonical_id,
           doc_id * {mm.ITEM_STRIDE} + {mm.TIER_REENCODE} AS dup_id,
           'reencode' AS kind,
           TRUE AS caught,
           FALSE AS pixels_differ
    FROM documents WHERE doc_id % {mm.REENCODE_MOD} = 0
    UNION ALL
    SELECT doc_id * {mm.ITEM_STRIDE},
           doc_id * {mm.ITEM_STRIDE} + {mm.TIER_PERTURB},
           'perturbed',
           TRUE,
           ({mm.PERTURB_CELL + 1} * n) // 64 > ({mm.PERTURB_CELL} * n) // 64
    FROM dims WHERE doc_id % {mm.PERTURB_MOD} = 0
    ORDER BY 1, 2
    """,
    tags=("multimodal", "dedup"),
    doc="REAL perceptual media dedup (round 10, replacing the md5 "
    "stand-in): a mixed landing corpus — every doc as a BMP, every "
    "20th AGAIN as a PNG of the SAME pixels (byte-different "
    "container), every 13th AGAIN as a BMP with a planted one-cell "
    "pixel perturbation — is decoded by the vendored codecs (magic-"
    "byte sniff → decode_bmp/decode_png) and hashed with a 64-bit "
    "dHash over the DECODED PIXEL GRID (integer-exact cell-mean "
    "comparisons, operators/multimodal.py:dhash64). Banding reuses "
    "the SimHash LSH machinery (operators/dedup.py:"
    "banded_hamming_pairs, 4×16-bit bands, hamming ≤ 3): re-encodes "
    "collide exactly (hamming 0) and the perturbation touches ≤ 2 "
    "bits confined to band 0, so every planted pair is caught BY "
    "CONSTRUCTION — which is what lets the oracle pin caught=TRUE "
    "exactly. pixels_differ pins the decoded-grid md5 contract: "
    "equal across containers, different under perturbation (except "
    "the SQL-predictable empty-cell case). A byte-level hash would "
    "miss every planted pair in this corpus.",
)
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    # persist-and-die-with-the-query convention (package-wide): the
    # cache outlives the builder because the returned frame is still
    # lazy; a long-lived session running many queries should
    # spark.catalog.clearCache() between them
    hashed = mm.media_dhash(mm.encode_mixed_media(docs)).persist()
    pairs = dedup.banded_hamming_pairs(
        hashed,
        id_col="item_id",
        hash_col="phash",
        n_bands=mm.PHASH_BANDS,
        band_width=mm.PHASH_BAND_WIDTH,
        max_hamming=mm.PHASH_MAX_HAMMING,
    )
    base = F.col("doc_id") * mm.ITEM_STRIDE
    planted = (
        docs.filter(F.col("doc_id") % mm.REENCODE_MOD == 0)
        .select(
            base.alias("canonical_id"),
            (base + mm.TIER_REENCODE).alias("dup_id"),
            F.lit("reencode").alias("kind"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % mm.PERTURB_MOD == 0).select(
                base.alias("canonical_id"),
                (base + mm.TIER_PERTURB).alias("dup_id"),
                F.lit("perturbed").alias("kind"),
            )
        )
    )
    caught = pairs.select(
        F.col("doc_a").alias("canonical_id"),
        F.col("doc_b").alias("dup_id"),
        F.lit(True).alias("hit"),
    )
    md5s = hashed.select("item_id", "pix_md5")
    return (
        planted.join(caught, ["canonical_id", "dup_id"], "left")
        .join(
            md5s.select(
                F.col("item_id").alias("canonical_id"),
                F.col("pix_md5").alias("md5_a"),
            ),
            "canonical_id",
        )
        .join(
            md5s.select(
                F.col("item_id").alias("dup_id"),
                F.col("pix_md5").alias("md5_b"),
            ),
            "dup_id",
        )
        .select(
            "canonical_id",
            "dup_id",
            "kind",
            F.coalesce(F.col("hit"), F.lit(False)).alias("caught"),
            (F.col("md5_a") != F.col("md5_b")).alias("pixels_differ"),
        )
        .orderBy("canonical_id", "dup_id")
    )


@register(
    "multimodal_video_frames",
    oracle=f"""
    SELECT doc_id,
           CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4))
                AS BIGINT) AS frame_idx,
           md5(text || '@' ||
               CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4))
                    AS VARCHAR)) AS frame_checksum,
           CAST({mm.VID_FRAME_W} AS INT) AS width,
           CAST(CEIL((octet_length(encode(text)) + 6)
                     / {mm.VID_FRAME_W}.0) AS INT) AS height,
           CAST(1 + octet_length(encode(text)) % 4 AS BIGINT) AS n_frames,
           CAST({1_000_000 // mm.media.AVI_FPS} AS BIGINT)
               AS micros_per_frame
    FROM documents
    """,
    tags=("multimodal",),
    doc="REAL motion-container decode (round 10 — closes the last "
    "§2F cell, replacing the deleted decode_image stub): each "
    "document is packed as a structurally valid uncompressed "
    "RIFF/AVI (vendored writer, sources/media_minimal.py:encode_avi "
    "— hdrl with MainAVIHeader + vids/DIB stream header + 8-bpp "
    "BI_RGB strf, movi with one '00db' DIB per frame in BMP "
    "pixel-array convention) with 1..4 frames, then the vendored "
    "reader walks the RIFF lists with the SAME chunk walker as the "
    "WAV decoder, validates the stream contract, rejects compressed "
    "'00dc' frames, undoes per-frame bottom-up DWORD-padded rows, "
    "and cross-checks the frame count against avih.dwTotalFrames — "
    "inside a generator mapInPandas whose fan-out is driven by the "
    "container's actual frame list. frame_checksum is the md5 of "
    "each recovered frame's content and micros_per_frame comes from "
    "the decoded avih, so a list-offset, stride, or row-order bug "
    "fails the hash gate. operators/multimodal.py:encode_avi_corpus/"
    "sample_video_frames.",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.sample_video_frames(mm.encode_avi_corpus(docs))


@register(
    "multimodal_png_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(LEAST(h, 5) AS INT) AS n_filter_types
    FROM (
        SELECT doc_id, text, w,
               CAST(CEIL((octet_length(encode(text)) + 4) / (w * 1.0))
                    AS BIGINT) AS h
        FROM (
            SELECT doc_id, text,
                   16 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                       % 512 AS w
            FROM documents
        )
    )
    """,
    tags=("multimodal",),
    doc="REAL compressed-container decode (round 9): each document is "
    "encoded as a valid non-interlaced 8-bit grayscale PNG — zlib "
    "IDAT (stdlib DEFLATE), chunk CRCs, and per-row filter cycling "
    "through ALL FIVE spec filter types (None/Sub/Up/Average/Paeth) — "
    "then parsed back inside mapInPandas: CRC checks, IHDR validation, "
    "inflate, and full filter reconstruction including the Paeth "
    "predictor's normative tie-breaking. The recovered content's md5 "
    "is the oracle pin, so any wrong reconstruction path fails the "
    "hash gate. operators/multimodal.py:encode_png_corpus/"
    "extract_png_metadata, sources/media_minimal.py:decode_png.",
)
def multimodal_png_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.extract_png_metadata(mm.encode_png_corpus(docs))
