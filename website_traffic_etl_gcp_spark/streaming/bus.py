"""A vendored message-bus-shaped streaming source: partitioned,
offset-addressed, sealed-segment NDJSON logs — the Kafka storage model
reduced to what a file-based transport can carry.

Layout (one topic):

    <bus_dir>/partition=K/part-*.txt     # sealed segments, 1 JSON msg/line
    <bus_dir>/partition=K/redelivered-*  # at-least-once twins (links)

Each message is ``{"partition": k, "offset": o, "key": user_id,
"ts_us": epoch_micros, "event_type": s, "value": v}`` with offsets
DENSE per partition — consumers dedup on (partition, offset), exactly
the Kafka consumer contract. The producer materializes the canonical
events table into the bus with Spark itself (partition = user_id %
N_PARTITIONS; offsets via TWO-LEVEL numbering — local row_number per
(partition, chunk) cell plus a per-cell base from the tiny count
table — so assignment fans out over N_PARTITIONS × OFFSET_CHUNKS
tasks instead of serializing the corpus on N_PARTITIONS reducers;
executor-side writes, no driver loop), then plants a full set of
redelivered segment twins so every message arrives at least twice.

The consumer is an ordinary Structured Streaming file source over the
segment lines: readStream.text → from_json → event-time watermark →
``dropDuplicatesWithinWatermark`` on (partition, offset). State is
bounded by the watermark delay, not by topic history — the standard
watermark contract, which carries the standard watermark assumption:
dedup is guaranteed for redeliveries that arrive within the delay of
the first delivery's event time, and data later than the watermark is
dropped like in any watermarked pipeline. The seal records the
topic's event-time span, and the drains derive their delay from it
(``bus_span_delay``), so the guarantee holds no matter how the engine
slices the drain into micro-batches — single-batch availableNow
behavior is an optimization, not a correctness dependency. Bounded
drains land through the exactly-once batch_id-keyed foreachBatch sink
contract (streaming/drain.py:write_batch); ``consume_bus_unbounded`` is
the production shape — processing-time trigger, per-batch
offset-progress ledger, caller-owned lifecycle.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table, state_key, table_path
from .drain import SCRATCH_ROOT, drain, write_batch
from .rollups import run_to_completion

N_PARTITIONS = 8

# Offset assignment fans out over (partition, chunk) so the producer
# never funnels the corpus through N_PARTITIONS reducer tasks: each of
# the N_PARTITIONS × OFFSET_CHUNKS cells numbers its rows locally and
# a tiny per-cell count table (collected nowhere — broadcast-joined)
# provides the dense per-partition base offsets.
OFFSET_CHUNKS = 32

# stale producer build dirs older than this are swept before a rebuild
TMP_GRACE_SECONDS = 3600

MSG_SCHEMA = StructType(
    [
        StructField("partition", LongType()),
        StructField("offset", LongType()),
        StructField("key", LongType()),
        StructField("ts_us", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def bus_dir(sf_dir: str, topic: str = "events") -> str:
    # key by basename + a hash of the ABSOLUTE path: two corpora that
    # share a basename (pytest tmp dirs, testdata/sf1 vs .bigdata/sf1)
    # must not reuse each other's sealed bus
    src = os.path.abspath(sf_dir).rstrip("/")
    key = (
        f"{os.path.basename(src)}-"
        f"{hashlib.md5(src.encode()).hexdigest()[:8]}"
    )
    return os.path.join(SCRATCH_ROOT, "bus", key, topic)


def _sweep_stale_tmp(final: str) -> None:
    """GC '<topic>.tmp.<hex>' siblings left by a crashed build or a
    lost publish race. Only dirs older than TMP_GRACE_SECONDS go — a
    concurrent builder's live tmp dir is younger than the grace
    window, so the sweep can never race an in-flight publish.

    Staleness is the NEWEST mtime anywhere in the tree, not the tmp
    root's: the producer writes segments into ``partition=k/``
    subdirectories, which does not refresh the root dir's mtime, so a
    segment build running longer than the grace window would look
    stale at the root while still actively writing."""
    import time

    cutoff = time.time() - TMP_GRACE_SECONDS
    for d in glob.glob(f"{final}.tmp.*"):
        try:
            newest = os.path.getmtime(d)
            for root, dirs, files in os.walk(d):
                for name in dirs + files:
                    try:
                        newest = max(
                            newest,
                            os.path.getmtime(os.path.join(root, name)),
                        )
                    except OSError:
                        continue
            if newest < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


def bus_span_delay(bus_path: str, margin_s: int = 3600) -> str:
    """A watermark delay derived from the sealed topic's event-time
    span (+margin): with delay ≥ span, NO redelivery can fall behind
    the watermark regardless of how the engine slices the drain into
    micro-batches — the availableNow single-batch assumption the r11
    advice flagged stops being load-bearing. Falls back to '2 hours'
    for seals that predate the span line."""
    seal = os.path.join(bus_path, "_SEALED")
    try:
        with open(seal) as fh:
            lines = fh.read().splitlines()
        lo, hi = (int(x) for x in lines[1].split(":"))
        span_s = max(0, (hi - lo) // 1_000_000)
        return f"{span_s + margin_s} seconds"
    except (OSError, IndexError, ValueError):
        return "2 hours"


def produce_events_bus(
    spark: SparkSession,
    sf_dir: str,
    topic: str = "events",
) -> str:
    """Materialize the events table as a sealed bus topic (idempotent:
    keyed by sf_dir basename; rebuilt atomically via temp-dir rename).

    The topic is at-least-once: every sealed segment gets a
    redelivered twin (hard link), so the topic delivers each message
    exactly twice — the delivery model a correct consumer must
    collapse.
    """
    final = bus_dir(sf_dir, topic)
    # a regenerated events table under the same path invalidates the seal
    stamp = state_key(table_path(sf_dir, "events"))
    seal = os.path.join(final, "_SEALED")
    if os.path.exists(seal):
        try:
            with open(seal) as fh:
                lines = fh.read().splitlines()
                if lines and lines[0].strip() == stamp:
                    return final
        except OSError:
            pass
        shutil.rmtree(final, ignore_errors=True)  # stale: source changed
    _sweep_stale_tmp(final)
    tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
    ev = load_table(spark, sf_dir, "events")
    part = (F.col("user_id") % N_PARTITIONS).cast("long")
    # event-time span, recorded in the seal so consumers can derive a
    # watermark delay that PROVABLY covers every redelivery no matter
    # how the engine batches the drain (see bus_span_delay)
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).first()
    # two-level dense offsets: local row_number per (partition, chunk)
    # cell + a per-cell base from the tiny count table — fan-out is
    # N_PARTITIONS × OFFSET_CHUNKS tasks, not N_PARTITIONS, so a big
    # corpus never serializes on the partition count
    keyed = ev.select(
        part.alias("partition"),
        (F.col("event_id") % OFFSET_CHUNKS).cast("long").alias("chunk"),
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    w_local = Window.partitionBy("partition", "chunk").orderBy(
        "ts", "event_id"
    )
    w_base = (
        Window.partitionBy("partition")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        keyed.groupBy("partition", "chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "base", F.coalesce(F.sum("n").over(w_base), F.lit(0))
        )
        .select("partition", "chunk", "base")
    )
    msgs = (
        keyed.withColumn(
            "local", F.row_number().over(w_local).cast("long") - 1
        )
        .join(F.broadcast(bases), ["partition", "chunk"])
        .withColumn("offset", F.col("base") + F.col("local"))
        .select(
            "partition",
            F.to_json(
                F.struct("partition", "offset", "key", "ts_us", "event_type", "value")
            ).alias("value"),
        )
    )
    msgs.write.mode("overwrite").partitionBy("partition").text(tmp)
    for seg in glob.glob(os.path.join(tmp, "partition=*", "part-*")):
        if seg.endswith(".crc"):
            continue
        twin = os.path.join(
            os.path.dirname(seg), f"redelivered-{os.path.basename(seg)}"
        )
        os.link(seg, twin)
    # the _SUCCESS/. _* markers are hidden from the file source anyway
    # (line 1: source stamp; line 2: event-time span in epoch micros)
    with open(os.path.join(tmp, "_SEALED"), "w") as fh:
        fh.write(stamp + "\n")
        fh.write(f"{span['lo'] or 0}:{span['hi'] or 0}\n")
    try:
        os.replace(tmp, final)  # atomic publish (rename over empty/absent)
    except OSError:
        # lost the publish race or a previous final dir exists: keep
        # the winner, drop our build
        if os.path.exists(os.path.join(final, "_SEALED")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(final, ignore_errors=True)
            os.replace(tmp, final)
    return final


def read_bus_stream(spark: SparkSession, bus_path: str) -> DataFrame:
    """The consumer: a streaming scan of the sealed segments, parsed
    and event-timed. Pure map — partition/offset/ts all come from the
    message, so the plan is source-agnostic (a socket or queue source
    slots in by swapping this reader)."""
    raw = (
        spark.readStream.option("recursiveFileLookup", "true")
        .text(bus_path)
    )
    return (
        raw.select(F.from_json("value", MSG_SCHEMA).alias("m"))
        .select("m.*")
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )


def dedup_bus_messages(msgs: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Exactly-once consumption of an at-least-once bus: drop
    (partition, offset) twins within the event-time watermark. State
    is O(messages per watermark window) per the engine's eviction —
    offset tracking that stays bounded on an unbounded topic, under
    the watermark assumption that a redelivery lands within ``delay``
    of its first delivery (size ``delay`` to the bus's retry bound;
    an availableNow drain satisfies it trivially)."""
    return msgs.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["partition", "offset"]
    )


def bus_ingest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the bus exactly-once and roll up per (partition, hour) —
    the rollup checks partition assignment AND dedup at once, since
    any surviving redelivery doubles a count."""
    path = produce_events_bus(spark, sf_dir)
    deduped = dedup_bus_messages(
        read_bus_stream(spark, path), delay=bus_span_delay(path)
    )
    landed = run_to_completion(
        deduped.select("partition", "ts", "value"), output_mode="append"
    )
    return landed.groupBy(
        "partition",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )


def consume_bus_exactly_once(
    spark: SparkSession, sf_dir: str, out_path: str, ckpt: str
) -> None:
    """Land the deduped bus through the exactly-once foreachBatch
    contract: each micro-batch writes to its own batch_id-keyed subdir
    with overwrite, so an at-least-once foreachBatch retry REPLACES
    its prior output instead of appending (same contract as
    drain.write_batch)."""
    path = produce_events_bus(spark, sf_dir)
    deduped = dedup_bus_messages(
        read_bus_stream(spark, path), delay=bus_span_delay(path)
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(batch_df, out_path, batch_id)

    drain(deduped, land, ckpt)


def read_bus_stream_with_meta(spark: SparkSession, bus_path: str) -> DataFrame:
    """The consumer with transport metadata: source partition comes
    from the segment path (the out-of-band metadata a real bus hands
    every record), so a message whose PAYLOAD is unparseable can still
    be attributed and dead-lettered instead of poisoning the stream.
    Adds ``src_partition`` (from the path) and ``is_poison`` (payload
    failed to parse or lacks the addressing fields)."""
    raw = (
        spark.readStream.option("recursiveFileLookup", "true")
        .text(bus_path)
        .withColumn(
            "src_partition",
            F.regexp_extract(F.input_file_name(), r"partition=(\d+)", 1)
            .cast("long"),
        )
    )
    m = F.from_json("value", MSG_SCHEMA)
    return raw.select(
        F.col("value").alias("raw"),
        "src_partition",
        m.alias("m"),
    ).select(
        "raw",
        "src_partition",
        "m.*",
        (
            F.col("m.partition").isNull()
            | F.col("m.offset").isNull()
            | F.col("m.ts_us").isNull()
        ).alias("is_poison"),
    )


def plant_poison_lines(bus_path: str) -> None:
    """Plant one deterministic non-JSON line per partition (plus its
    at-least-once twin) — the malformed-producer scenario a DLQ has to
    absorb. Idempotent."""
    for k in range(N_PARTITIONS):
        pdir = os.path.join(bus_path, f"partition={k}")
        if not os.path.isdir(pdir):
            continue
        p = os.path.join(pdir, "poison-0.txt")
        if not os.path.exists(p):
            with open(p, "w") as fh:
                fh.write(f"corrupt producer frame @partition {k} ###\n")
        twin = os.path.join(pdir, "poison-0-redelivered.txt")
        if not os.path.exists(twin):
            os.link(p, twin)


def bus_dlq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a bus containing planted poison lines: good messages
    dedup on (partition, offset) exactly as the clean ingest; poison
    lines route to the dead-letter side keyed by the TRANSPORT
    partition and dedup by content (no offsets inside a frame that
    would not parse). Returns per-partition (n_events, n_poison_raw,
    n_poison_distinct) — proving the DLQ absorbed exactly the corrupt
    lines and lost no good rows. Uses its own topic dir so the clean
    streaming_bus_ingest contract stays byte-identical."""
    path = produce_events_bus(spark, sf_dir, topic="events_dlq")
    plant_poison_lines(path)
    msgs = read_bus_stream_with_meta(spark, path)
    good = dedup_bus_messages(
        msgs.filter(~F.col("is_poison")).withColumn(
            "ts", F.timestamp_micros("ts_us")
        ),
        delay=bus_span_delay(path),
    )
    landed_good = run_to_completion(
        good.select("partition", "value"), output_mode="append"
    )
    landed_poison = run_to_completion(
        msgs.filter(F.col("is_poison")).select("src_partition", "raw"),
        output_mode="append",
    )
    g = landed_good.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    p = landed_poison.groupBy(F.col("src_partition").alias("partition")).agg(
        F.count(F.lit(1)).alias("n_poison_raw"),
        F.countDistinct("raw").alias("n_poison_distinct"),
    )
    return g.join(p, "partition", "full").select(
        "partition",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("n_poison_raw", F.lit(0)).alias("n_poison_raw"),
        F.coalesce("n_poison_distinct", F.lit(0)).alias("n_poison_distinct"),
    )


def consume_bus_unbounded(
    spark: SparkSession,
    bus_path: str,
    out_path: str,
    ckpt: str,
    progress_path: str,
    processing_interval: str = "500 milliseconds",
    delay: str | None = None,
):
    """The PRODUCTION drain shape: a non-availableNow, processing-time
    triggered consumer that keeps polling the topic for new sealed
    segments — unlike the bounded registry drains, this is the query a
    deployment leaves running. Returns the live StreamingQuery; the
    caller owns its lifecycle (``.stop()``).

    Per-batch offset-progress tracking: every micro-batch appends one
    JSON line to ``progress_path`` with its batch_id, row count, and
    per-partition max offset — the consumer-group offset-commit ledger
    a real bus client maintains, reconstructible after a crash from
    the checkpoint + ledger pair. Data lands through the exactly-once
    batch_id-keyed sink contract (drain.write_batch), and a
    foreachBatch RETRY therefore replaces its parquet output but
    APPENDS a second ledger line for the same batch_id — the ledger
    is append-only by design, so readers must keep the LAST line per
    batch_id (``read_progress_ledger`` does) before summing n_rows.

    Watermark caveat: the default delay (``bus_span_delay``) covers
    every redelivery of the SEALED prefix, because the producer's
    redeliveries stay within the sealed event-time span. Segments
    appended AFTER the seal advance the watermark past that bound, so
    redeliveries of post-seal messages are only covered if their
    retry lag stays under the delay — a deployment that keeps
    appending must pass an explicit ``delay`` sized to the bus's
    retry/redelivery bound, not the seal span.
    """
    import json as _json

    deduped = dedup_bus_messages(
        read_bus_stream(spark, bus_path),
        delay=delay or bus_span_delay(bus_path),
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            write_batch(batch_df, out_path, batch_id)
            prog = (
                batch_df.groupBy("partition")
                .agg(F.max("offset").alias("mx"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            entry = {
                "batch_id": batch_id,
                "n_rows": int(sum(r["n"] for r in prog)),
                "max_offset": {
                    str(r["partition"]): int(r["mx"]) for r in prog
                },
            }
            with open(progress_path, "a") as fh:
                fh.write(_json.dumps(entry, sort_keys=True) + "\n")
        finally:
            batch_df.unpersist()

    return (
        deduped.writeStream.foreachBatch(land)
        .trigger(processingTime=processing_interval)
        .option("checkpointLocation", ckpt)
        .start()
    )


def read_progress_ledger(progress_path: str) -> list[dict]:
    """The consumer-group ledger, collapsed to its effective state:
    LAST line per batch_id (a foreachBatch retry appends a duplicate
    line; the rewrite-on-retry sink makes the last one authoritative),
    sorted by batch_id. Summing n_rows over THIS is exactly-once;
    summing over the raw file double-counts retried batches."""
    import json as _json

    last: dict[int, dict] = {}
    try:
        with open(progress_path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                try:
                    e = _json.loads(line)
                    last[int(e["batch_id"])] = e
                except (ValueError, KeyError, TypeError):
                    # a torn final line from a crash mid-append is
                    # exactly the recovery scenario this ledger is
                    # for — skip it; the retry will rewrite the batch
                    continue
    except OSError:
        return []
    return [last[k] for k in sorted(last)]
