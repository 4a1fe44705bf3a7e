"""Streaming MEDIA ingest: real audio containers landing as binary
columns, decoded per micro-batch.

The production shape for a multimodal training corpus: media blobs
arrive continuously (here RIFF/WAVE-PCM files produced by the
vendored writer — real containers, not stand-ins), ride a ``binary``
column through the file stream, and each micro-batch runs the REAL
chunk-list decode inside Arrow-batched ``mapInPandas``
(operators/multimodal.py:chunk_wav → sources/media_minimal.py) to
produce per-chunk segmentation rows. Per batch the work is O(batch
bytes); no corpus-side state, no shuffle — decode is a pure map, so
at 100 TB the ingest scales with arrival rate alone.

``foreachBatch`` + batch_id-keyed overwrite gives exactly-once chunk
rows under at-least-once execution, the same contract as the other
ingest sinks (see streaming/drain.py:write_batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators import multimodal as mm
from .drain import drain, read_back, scratch_dir, write_batch

__all__ = ["run_streaming_wav_chunks", "run_streaming_video_frames"]


def run_streaming_wav_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a landing dir of real WAV payloads through the streaming
    engine; returns the (doc_id, chunk_idx, chunk_len, chunk_md5,
    n_frames) segmentation rows for every landed container — the
    multimodal_audio_chunks contract, produced by the arrival path."""
    root = scratch_dir("stream_wav", sf_dir)
    landing = os.path.join(root, "landing")
    out_path = os.path.join(root, "chunks")
    ckpt = os.path.join(root, "ckpt")

    docs = load_table(spark, sf_dir, "documents")
    # land the corpus as REAL containers: (doc_id, payload) parquet,
    # payload = a structurally valid RIFF/WAVE file per document
    mm.encode_wav_corpus(docs).write.mode("overwrite").parquet(landing)

    def decode(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(mm.chunk_wav(batch_df), out_path, batch_id)

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    drain(stream, decode, ckpt)
    return read_back(spark, root, ckpt, out_path)


def run_streaming_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The motion-container twin of :func:`run_streaming_wav_chunks`:
    real uncompressed AVI payloads land continuously, each micro-batch
    walks the RIFF lists and decodes every DIB frame
    (operators/multimodal.py:sample_video_frames), and frame rows land
    under the same batch_id-keyed exactly-once contract. Per batch the
    work is O(batch bytes); fan-out (1..4 frame rows per container) is
    generator-side inside mapInPandas, never driver-side."""
    root = scratch_dir("stream_avi", sf_dir)
    landing = os.path.join(root, "landing")
    out_path = os.path.join(root, "frames")
    ckpt = os.path.join(root, "ckpt")

    docs = load_table(spark, sf_dir, "documents")
    mm.encode_avi_corpus(docs).write.mode("overwrite").parquet(landing)

    def decode(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(mm.sample_video_frames(batch_df), out_path, batch_id)

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
    )
    drain(stream, decode, ckpt)
    return read_back(spark, root, ckpt, out_path)
