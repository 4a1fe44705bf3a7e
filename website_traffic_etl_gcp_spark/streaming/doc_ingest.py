"""Streaming document ingest probing the PERSISTED dedup index.

The production arrival path for a training corpus: documents land as
files, and each micro-batch is near-dup-checked against the existing
corpus's persisted MinHash band index (operators/dedup_index.py — the
same bucketed tables the batch incremental query probes) BEFORE
admission. Per batch the work is O(batch × bands): the batch's
signatures probe the band table, candidates score against the stored
signature table, and the corpus side never shuffles or recomputes —
this is what makes admission-time dedup affordable when the corpus is
100 TB and the batch is megabytes.

``foreachBatch`` materializes each batch's verdicts through the
exactly-once batch_id-keyed sink (streaming/drain.py:write_batch) —
the file sink can't run a multi-join batch plan; foreachBatch is the
standard escape hatch. The oracle emits DISTINCT pairs, so a blind
append on retry would break parity.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, table_schema
from ..operators import dedup as dd
from ..operators import dedup_index as di
from ..sources.bucketing import index_table_name
from .drain import drain, read_back, scratch_dir, write_batch
from .rollups import stream_source_dir

__all__ = ["run_streaming_minhash_ingest"]


def run_streaming_minhash_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain the documents landing dir through the streaming engine,
    probing each micro-batch (the odd-doc_id "new" docs, mirroring the
    batch incremental split) against the even-id corpus's persisted
    band index. Returns (doc_id, matched_id, n_hash_agree,
    est_jaccard) — identical to the batch incremental minhash
    semantics, so the same SQL oracle checks it."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    existing = sigs.filter(F.col("doc_id") % 2 == 0)
    bands_t = index_table_name("mhbands", sf_dir)
    sigs_t = index_table_name("mhsigs", sf_dir)
    di.ensure_minhash_index(existing, bands_t, sigs_t)

    root = scratch_dir("stream_minhash", sf_dir)
    out_path = os.path.join(root, "verdicts")
    ckpt = os.path.join(root, "ckpt")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        incoming = batch_df.filter(F.col("doc_id") % 2 == 1)
        batch_sigs = dd.minhash_signatures(incoming)
        res = di.probe_minhash_index(
            batch_df.sparkSession, batch_sigs, bands_t, sigs_t
        )
        write_batch(res, out_path, batch_id)

    schema = table_schema(spark, sf_dir, "documents")
    # recursiveFileLookup: the landing entry may be a directory of
    # part files (derived tables) rather than one parquet file
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(stream_source_dir(sf_dir, "documents"))
    )
    drain(stream, probe, ckpt)
    return read_back(spark, root, ckpt, out_path)


def run_streaming_exact_admit(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Admission-time exact dedup WITH index extension — the stateful
    production ingest: each micro-batch's docs are rejected if their
    content fingerprint exists in (a) the persisted corpus index OR
    (b) the fingerprints ADMITTED BY EARLIER BATCHES OF THIS STREAM,
    then the batch's own admissions extend that state — so a duplicate
    arriving two batches after its twin is caught even though neither
    is in the base corpus (the gap a static-index probe leaves open).

    State is a parquet dir of batch_id-keyed subdirs (the delta-
    sidecar pattern of ann_index.append_ivf_delta): appends are
    O(admitted-batch), the base index is untouched, and a retried
    batch OVERWRITES its own subdir — idempotent under at-least-once
    delivery. Probes are fingerprint equi-joins: O(batch) rows against
    the bucketed corpus index (scans in place) plus the accumulated
    admitted set (stream-lifetime bounded, the role RocksDB state
    plays in a continuous deployment).

    The landing set is the odd-id docs plus PLANTED re-keyed clones
    (the corpus has no natural exact dups): every 25th odd doc clones
    to id+2·span (a later batch — caught via the STREAM state) and
    every 25th even doc clones to id+4·span+1 (odd, caught via the
    CORPUS index), so both rejection paths are genuinely exercised.
    Landing order is pinned (files split by id range, mtimes
    increasing, maxFilesPerTrigger=1), so "earlier batch or earlier
    row" collapses to "smaller id" — which is exactly what the SQL
    oracle checks. Returns (doc_id, dup_source, admitted)."""
    import glob as _glob

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp_all = di.exact_fingerprints(docs)
    existing = fp_all.filter(F.col("doc_id") % 2 == 0)
    table = index_table_name("fp", sf_dir)
    di.ensure_exact_index(existing, table)

    root = scratch_dir("stream_admit", sf_dir)
    land = os.path.join(root, "land")
    state = os.path.join(root, "state")
    out_path = os.path.join(root, "verdicts")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(land, exist_ok=True)
    os.makedirs(state, exist_ok=True)

    # landing files: odd docs + planted clones, split by id range
    # (monotone in id so batch order == id order), one file per batch
    # bounded scalar fetch (one row), not a frame round-trip
    span = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    k = F.col("doc_id")
    odd = docs.filter(k % 2 == 1).select("doc_id", "text")
    landing = (
        odd
        .unionByName(
            docs.filter((k % 2 == 1) & (k % 25 == 1)).select(
                (k + 2 * span).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter((k % 2 == 0) & (k % 25 == 0)).select(
                (k + 4 * span + 1).alias("doc_id"), "text"
            )
        )
    )
    total_span = 5 * span + 2
    for i in range(n_batches):
        lo = total_span * i // n_batches
        hi = total_span * (i + 1) // n_batches
        tmp = os.path.join(root, f"_stage_{i}")
        landing.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        parts = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        if parts:  # a range slice can be empty — no landing file then
            dst = os.path.join(land, f"batch_{i}.parquet")
            shutil.move(parts[0], dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        fp = di.exact_fingerprints(batch_df)
        corp = di.probe_exact_index(s, fp, table).select(
            "doc_id", "fingerprint",
            F.col("canonical_id").isNotNull().alias("in_corpus"),
        )
        prior_files = _glob.glob(os.path.join(state, "*", "*.parquet"))
        if prior_files:
            prior = s.read.parquet(*prior_files).select(
                "fingerprint", F.lit(True).alias("in_prior")
            ).distinct()
            corp = corp.join(prior, "fingerprint", "left")
        else:
            corp = corp.withColumn("in_prior", F.lit(None).cast("boolean"))
        w = Window.partitionBy("fingerprint")
        verdicts = corp.withColumn(
            "first_in_batch", F.min("doc_id").over(w)
        ).select(
            "doc_id",
            "fingerprint",
            F.when(F.col("in_corpus"), "corpus")
            .when(
                F.col("in_prior") | (F.col("doc_id") > F.col("first_in_batch")),
                "stream",
            )
            .alias("dup_source"),
        ).withColumn("admitted", F.col("dup_source").isNull())
        write_batch(
            verdicts.select("doc_id", "dup_source", "admitted"),
            out_path, batch_id,
        )
        # extend the admitted-state sidecar (batch-keyed overwrite →
        # a retried batch replaces, never duplicates, its extension)
        write_batch(
            verdicts.filter("admitted").select("fingerprint").distinct(),
            state, batch_id,
        )

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    drain(stream, admit, ckpt)
    return read_back(spark, root, ckpt, out_path)
