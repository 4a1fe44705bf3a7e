"""Streaming EMBEDDING ingest probing a persisted semantic-cell
index — admission-time SEMANTIC dedup, the vector-space twin of
``doc_ingest`` (which probes the MinHash band index).

The production arrival path for an embedded corpus: vectors land as
files, and each micro-batch is checked for cosine-near duplicates
against the existing corpus BEFORE admission. The admitted corpus is
stored ONCE as a bucketed table keyed by the SCALED semantic cell id
(plans/embeddings.semantic_cell_frame: cluster label refined by
corpus-depth LSH sign-bits, expected members per cell bounded by
SEMDEDUP_CELL_CAP at ANY corpus size). Per batch the work is a
per-row cell computation on the incoming vectors (sign bits — zero
shuffle, no argmin) plus one keyed join against a single bounded
cell's members per vector: O(batch × cell_cap) REGARDLESS of corpus
size — with fixed-k cells the members-per-cell (and so the admission
cost per vector) would grow linearly with the corpus.

Batches land through the batch_id-keyed overwrite sink
(streaming/drain.py:write_batch — exactly-once verdicts under
at-least-once foreachBatch execution), and the whole scheme — depth
p, signatures, unit-vector cosines — is integer/rounded-deterministic,
so a SQL oracle recomputes the entire pipeline bit-identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, table_schema
from ..sources.bucketing import index_table_name, publish_bucketed
from .drain import drain, read_back, scratch_dir, write_batch
from .rollups import stream_source_dir

__all__ = ["run_streaming_semdedup_ingest"]


def run_streaming_semdedup_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain the embeddings landing dir through the streaming engine,
    checking each micro-batch (the odd-vec_id "new" vectors, mirroring
    the batch incremental split) against the even-id corpus's
    persisted semantic-cell index. Returns (vec_id, cell_id, dup_of,
    is_semantic_dup) — the dedup_semantic_cells verdict shape
    restricted to incoming vectors, dup candidates restricted to the
    ADMITTED corpus (a production admission check compares against
    what's already in, not against other arrivals in flight)."""
    from ..plans.embeddings import SEM_PLANES, SEMDEDUP_TAU, semantic_cell_frame

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    # the CELL-SCHEME version is part of the index identity: content
    # keying alone would keep serving an index built under an older
    # signature scheme (e.g. the pre-r9 8-bit cells) for the same
    # corpus bytes
    cells_t = index_table_name(f"semcells{SEM_PLANES}", sf_dir)
    publish_bucketed(
        spark,
        lambda: semantic_cell_frame(corpus).select(
            "cell_id",
            F.col("vec_id").alias("cand_id"),
            F.col("unit").alias("cu"),
        ),
        cells_t,
        "cell_id",
    )

    root = scratch_dir("stream_semdedup", sf_dir)
    out_path = os.path.join(root, "verdicts")
    ckpt = os.path.join(root, "ckpt")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        incoming = batch_df.filter(F.col("vec_id") % 2 == 1)
        # incoming vectors compute their own cell per row, with the
        # depth p pinned to the ADMITTED corpus's stats so both sides
        # agree on the cell scheme; renamed qcell so the equality
        # below can't fold trivially-true
        asg = semantic_cell_frame(incoming, stats_of=corpus).select(
            "vec_id",
            F.col("cell_id").alias("qcell"),
            F.col("unit").alias("qu"),
        )
        members = batch_df.sparkSession.table(cells_t)
        pair_cos = F.round(
            F.aggregate(
                F.zip_with(F.col("qu"), F.col("cu"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )
        dup = (
            asg.join(members, F.col("qcell") == F.col("cell_id"))
            .filter(pair_cos >= SEMDEDUP_TAU)
            .groupBy("vec_id")
            .agg(F.min("cand_id").alias("dup_of"))
        )
        verdict = (
            asg.select("vec_id", F.col("qcell").alias("cell_id"))
            .join(dup, "vec_id", "left")
            .select(
                "vec_id",
                "cell_id",
                F.coalesce(F.col("dup_of"), F.lit(-1))
                .cast("bigint")
                .alias("dup_of"),
                F.col("dup_of").isNotNull().alias("is_semantic_dup"),
            )
        )
        write_batch(verdict, out_path, batch_id)

    schema = table_schema(spark, sf_dir, "embeddings")
    # recursiveFileLookup: the landing entry may be a directory of
    # part files (derived tables) rather than one parquet file
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(stream_source_dir(sf_dir, "embeddings"))
    )
    drain(stream, probe, ckpt)
    return read_back(spark, root, ckpt, out_path)
