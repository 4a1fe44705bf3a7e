"""Structured Streaming rollups over the events file stream.

``readStream`` on the parquet path + event-time watermark + tumbling
window aggregation — the canonical late-data-tolerant pipeline. The
``run_*_to_completion`` helpers drive the stream with an
``availableNow`` trigger into a memory sink and hand back the
final result as a plain DataFrame, so the same code is verifiable in
tests/oracles and deployable as a continuous job (swap the sink +
drop the await)."""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..catalog import fold_events_ts, table_path
from ..session import ensure_runtime_confs
from .drain import SCRATCH_ROOT

# Streaming sources need an explicit schema (no inference mid-stream).
# The producer has shipped events.ts both as parquet TIMESTAMP(NANOS)
# (surfacing as int64 under nanosAsLong) and as TIMESTAMP(MICROS) —
# read_events_stream sniffs one footer driver-side and declares the
# matching schema; catalog.fold_events_ts then normalizes ts as the
# batch read does.
def _events_schema_with_ts(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


EVENTS_STREAM_SCHEMA = _events_schema_with_ts(LongType())


def read_events_stream(
    spark: SparkSession, sf_dir: str, source_dir: str | None = None
) -> DataFrame:
    """readStream over the events landing dir with ``ts`` normalized to
    a microsecond TimestampType, whatever the producer wrote.

    One parquet footer is read driver-side to pick the declared schema
    (streams cannot infer mid-flight). Parquet TIMESTAMP(NANOS) —
    which pyarrow reports as timestamp[ns], NOT int64 — and raw int64
    columns both surface as long under nanosAsLong, so both take the
    nano fold to micros (integer div — float division loses precision
    past 2^53); µs/ms timestamp columns pass through with only an
    ntz→tz cast — the batch path's fold (catalog.fold_events_ts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ensure_runtime_confs(spark)
    src = source_dir or stream_source_dir(sf_dir, "events")
    # sniff the footer from the ACTUAL source dir (a custom source_dir
    # may hold files with a different ts physical type than the
    # canonical events table); fall back to the canonical table only
    # when the dir has no parquet yet (stream started before first file)
    def _leaf_parquet(path: str) -> str | None:
        """A parquet FILE at or under ``path`` — the landing entry (or
        the canonical table) may be a DIRECTORY of part files rather
        than a single file; footer sniffing needs a leaf."""
        if os.path.isfile(path):  # follows symlinks
            return path
        inner = sorted(
            p
            for p in glob.glob(os.path.join(path, "*.parquet"))
            if not os.path.basename(p).startswith(("_", "."))
        )
        return inner[0] if inner else None

    candidates = sorted(
        p
        for p in glob.glob(os.path.join(src, "*.parquet"))
        if not os.path.basename(p).startswith(".")
    )
    leaves = [f for f in map(_leaf_parquet, candidates) if f]
    sniff_path = (
        leaves[0]
        if leaves
        else _leaf_parquet(table_path(sf_dir, "events"))
        or table_path(sf_dir, "events")
    )
    footer_ts = pq.read_schema(sniff_path).field("ts").type
    surfaces_as_long = pa.types.is_integer(footer_ts) or (
        pa.types.is_timestamp(footer_ts) and footer_ts.unit == "ns"
    )
    if surfaces_as_long:
        declared = EVENTS_STREAM_SCHEMA
    elif pa.types.is_timestamp(footer_ts) and footer_ts.tz is None:
        declared = _events_schema_with_ts(TimestampNTZType())
    else:
        declared = _events_schema_with_ts(TimestampType())
    # recursiveFileLookup: the landing entry may be a directory of
    # part files (derived tables) rather than one parquet file
    raw = (
        spark.readStream.schema(declared)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    return fold_events_ts(raw)


def _ensure_link(link: str, src: str) -> None:
    """Idempotent symlink that also REFRESHES: two sf_dirs can share a
    basename (e.g. pytest tmp dirs), so a cached link pointing at a
    different — possibly deleted — target must be re-pointed, not
    silently reused. The refresh is an atomic os.replace of a temp
    link (a remove+create window would 404 a concurrent reader, and a
    concurrent creator would crash the second symlink call); it also
    handles the path pre-existing as a regular file."""
    # absolutize: a relative src would resolve relative to the LINK's
    # directory (deep under .scratch), silently yielding a dangling
    # symlink the file source lists as an empty landing dir
    src = os.path.abspath(src)
    if os.path.islink(link) and os.readlink(link) == src:
        return
    # leading dot: Spark file sources ignore hidden paths, so a
    # concurrent stream listing never sees the in-flight temp link
    tmp = os.path.join(
        os.path.dirname(link),
        f".{os.path.basename(link)}.tmp.{uuid.uuid4().hex[:8]}",
    )
    os.symlink(src, tmp)
    os.replace(tmp, link)


def stream_source_dir(sf_dir: str, name: str = "events") -> str:
    """The streaming file source monitors a DIRECTORY; the testdata is
    single parquet files. Stage a symlink dir (idempotent) — in
    production this is simply the landing directory new files arrive
    in."""
    base = os.path.join(
        SCRATCH_ROOT, "stream_src", os.path.basename(sf_dir.rstrip("/")), name
    )
    os.makedirs(base, exist_ok=True)
    link = os.path.join(base, f"{name}.parquet")
    _ensure_link(link, table_path(sf_dir, name))
    return base


def duplicated_stream_source_dir(sf_dir: str, name: str = "events") -> str:
    """A landing dir where every input arrived TWICE (two links to the
    same parquet) — the at-least-once-delivery scenario a dedup ingest
    has to survive."""
    base = os.path.join(
        SCRATCH_ROOT, "stream_src_dup", os.path.basename(sf_dir.rstrip("/")), name
    )
    os.makedirs(base, exist_ok=True)
    src = table_path(sf_dir, name)
    for suffix in ("a", "b"):
        _ensure_link(os.path.join(base, f"{name}_{suffix}.parquet"), src)
    return base


def dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest over an at-least-once source:
    ``dropDuplicatesWithinWatermark`` on the event key suppresses
    redelivered rows while the watermark bounds the dedup state — keys
    older than max(event time) − delay are evicted, so state is O(keys
    per window), not O(all keys ever. The stream emits deduped rows in
    append mode (a second stateful window agg would hold trailing
    windows back until the watermark passes them — rollups belong
    downstream); here the materialized result is rolled up batch-side
    into per-hour counts, which must equal the batch rollup of the
    ORIGINAL unduplicated data."""
    ev = read_events_stream(
        spark, sf_dir, duplicated_stream_source_dir(sf_dir, "events")
    )
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    landed = run_to_completion(
        deduped.select("event_id", "ts", "value"), output_mode="append"
    )
    return (
        landed.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_events_stream(spark, sf_dir)


def hourly_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window hourly event counts + value sum.
    The watermark bounds state: windows older than max(event time) - 2h
    are finalized and dropped from the store."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "n_events",
            "value_sum",
        )
    )


def run_to_completion(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain all available input through the streaming engine into a
    memory sink; return the materialized result."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = result.sparkSession
    return spark.table(name)


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(hourly_counts(events_stream(spark, sf_dir)))


def rate_events(
    spark: SparkSession,
    rows_per_batch: int,
    n_types: int = 4,
    max_rows: int | None = None,
) -> DataFrame:
    """Synthetic event stream from the deterministic ``rate-micro-batch``
    source — the load-generator path: same downstream pipeline as the
    file stream, but input volume is dialed in code. Each generated row
    becomes an event whose type cycles through ``n_types`` values.
    ``max_rows`` caps the stream on the source's monotonic row counter
    (must be applied BEFORE the value remap below, which folds the
    counter into [0, 100))."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 2)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60_000)
        .load()
    )
    if max_rows is not None:
        raw = raw.filter(F.col("value") < max_rows)
    return raw.select(
        F.col("timestamp").alias("ts"),
        F.concat(F.lit("type_"), (F.col("value") % n_types).cast("string")).alias(
            "event_type"
        ),
        (F.col("value") % 100).cast("double").alias("value"),
    )


def rate_rollup(stream: DataFrame) -> DataFrame:
    """Per-minute per-type counts over the synthetic stream — the same
    watermark + tumbling-window shape as the production rollup."""
    return (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(
            F.window("ts", "1 minute").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def run_rate_demo(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    n_batches: int = 3,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Run the synthetic-ingest rollup until exactly
    ``rows_per_batch × n_batches`` generated rows have been aggregated,
    then stop. rate-micro-batch emits deterministic (timestamp, value)
    rows — value is a global counter — so capping on ``value`` makes
    the final aggregate identical run to run even though the source
    itself is unbounded. (An unbounded source never drains, so
    ``processAllAvailable``/``availableNow`` can't terminate it; the
    cap + poll is the bounded-demo idiom.)"""
    import time

    expected = rows_per_batch * n_batches
    capped = rate_events(spark, rows_per_batch, max_rows=expected)
    name = f"rate_{uuid.uuid4().hex[:12]}"
    q = (
        rate_rollup(capped)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            got = (
                spark.table(name).agg(F.sum("n_events").alias("n")).collect()[0]["n"]
            )
            if got == expected:
                break
            time.sleep(0.3)
        else:
            raise TimeoutError(
                f"rate demo saw {got}/{expected} rows within {timeout_s}s"
            )
    finally:
        q.stop()
    return spark.table(name)


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: the purchases stream joins the
    views stream on user_id with views constrained to the 30 minutes
    before the purchase. Both sides carry watermarks, so the join
    state evicts views older than the interval bound instead of
    growing forever — the canonical two-stream attribution shape.
    The raw matches land in append mode; per-purchase counts are a
    batch aggregation over the materialized result (a second stateful
    agg would wait on the final watermark)."""
    raw = read_events_stream(spark, sf_dir)
    views = (
        raw.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") < F.col("p_ts")),
    )
    landed = run_to_completion(
        joined.select("purchase_id", "p_user", "v_ts"), output_mode="append"
    )
    return landed.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_prior_views")
    )


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched per micro-batch
    with the static customer dimension (user_id → market segment),
    then rolled up to hourly revenue per segment.

    The static side is a plain batch DataFrame — Spark re-resolves it
    against each micro-batch, so a dimension refresh lands without
    restarting the query. It is broadcast: the join adds ZERO shuffle
    to the stream, and the streaming state store only ever holds the
    windowed aggregate, never join state (unlike stream-stream joins
    there is nothing to buffer — the static side is always complete)."""
    from ..catalog import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = events_stream(spark, sf_dir).join(F.broadcast(dim), "user_id")
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "segment",
            "n_events",
            "value_sum",
        )
    )
    return run_to_completion(agg)


def sliding_counts(
    stream: DataFrame,
    window_len: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """SLIDING-window rollup: each event lands in window_len/slide
    overlapping windows (2 here) — the trailing-window view a live
    dashboard reads ("events in the last 2h, refreshed hourly").
    State is (windows in flight) x (groups): the watermark retires a
    window only after event time passes its END, so peak state is
    ~(window_len/slide + watermark/slide) windows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_end"
            ),
            "n_events",
            "value_sum",
        )
    )


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(sliding_counts(events_stream(spark, sf_dir)))
