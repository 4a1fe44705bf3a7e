"""§2G — Structured Streaming queries, driven to completion through the
real streaming engine (availableNow trigger → memory sink) so the
driver can collect and oracle-check them like any batch query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming import rollups, sessions
from .registry import register


@register(
    "streaming_hourly_counts",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1
    """,
    tags=("streaming",),
    doc="Watermarked tumbling-window hourly rollup executed by the "
    "streaming engine (readStream → watermark → window agg → memory "
    "sink, availableNow). Matches the batch oracle exactly because the "
    "bounded run sees no late data past the watermark.",
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollups.streaming_hourly_counts(spark, sf_dir)


@register(
    "streaming_sessionize",
    # the custom stateful operator IS SQL-checkable on a bounded run:
    # one availableNow batch emits every closed session plus each
    # user's trailing open session (is_open) — exactly the batch gap
    # sessionization with is_open = (last session per user)
    oracle="""
    WITH tagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
        FROM tagged
    ),
    sess AS (
        SELECT user_id, session_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM numbered GROUP BY 1, 2
    ),
    last AS (SELECT user_id, MAX(session_id) AS max_sid FROM sess GROUP BY 1)
    SELECT s.user_id, s.session_start, s.session_end, s.n_events,
           s.value_sum, s.session_id = l.max_sid AS is_open
    FROM sess s JOIN last l USING (user_id)
    """,
    tags=("streaming",),
    doc="Stateful gap-sessionization via applyInPandasWithState (O(1) "
    "state per user: four scalars). Bounded run emits exactly the "
    "batch operator's sessions with the trailing open session flagged "
    "— the oracle is the batch gap sessionization plus "
    "is_open = (max session per user). see streaming/sessions.py.",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = rollups.read_events_stream(spark, sf_dir)
    return rollups.run_to_completion(
        sessions.sessionize_stream(stream), output_mode="append"
    )


@register(
    "streaming_dedup_ingest",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1
    """,
    tags=("streaming", "dedup"),
    doc="Exactly-once ingest from an at-least-once source: the stream "
    "reads every input file TWICE (duplicated landing dir) and "
    "dropDuplicatesWithinWatermark on event_id suppresses redelivery "
    "with watermark-bounded state. The oracle is the hourly rollup of "
    "the ORIGINAL unduplicated table — matching it proves the dedup "
    "removed exactly the redelivered rows. streaming/rollups.py:"
    "dedup_ingest.",
)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollups.dedup_ingest(spark, sf_dir)


@register(
    "streaming_view_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COUNT(*) AS n_prior_views
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
     AND v.ts <  p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
    tags=("streaming", "rangejoin"),
    doc="Stream-stream interval join: purchases x views on user_id "
    "within a 30-minute lookback, watermarks on BOTH streams bounding "
    "the join state. Oracle is the equivalent batch interval join — "
    "purchases with zero prior views produce no row (inner join on "
    "both paths). streaming/rollups.py:stream_stream_attribution.",
)
def streaming_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollups.stream_stream_attribution(spark, sf_dir)


@register(
    "streaming_segment_revenue",
    oracle="""
    SELECT strftime(e.ts, '%Y-%m-%d %H:00:00') AS hour,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    tags=("streaming",),
    doc="Stream-static join enrichment: the event stream joined per "
    "micro-batch to the static customer dimension (broadcast — no "
    "shuffle, no join state), then a watermarked hourly rollup per "
    "market segment. Oracle is the equivalent batch join+rollup. "
    "streaming/rollups.py:stream_static_enrichment.",
)
def streaming_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollups.stream_static_enrichment(spark, sf_dir)


@register(
    "streaming_sliding_2h",
    oracle="""
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           strftime(win_start + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S')
               AS win_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM (
        SELECT value,
               date_trunc('hour', ts) - unnest([0, 1]) * INTERVAL 1 HOUR
                   AS win_start
        FROM events
    )
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
    doc="Sliding-window rollup through the real streaming engine: "
    "2-hour windows sliding hourly, so every event lands in two "
    "overlapping windows — the trailing-window dashboard view "
    "(tumbling windows partition time; sliding windows overlap it). "
    "The oracle materializes both window memberships per event "
    "batch-side. streaming/rollups.py:sliding_counts.",
)
def streaming_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollups.streaming_sliding_counts(spark, sf_dir)


@register(
    "streaming_minhash_ingest",
    # identical semantics (and oracle) to the batch incremental
    # minhash: the stream delivers the same docs, the same persisted
    # index answers the probes
    oracle=None,  # replaced below — needs the documents module's SQL
    tags=("streaming", "dedup"),
    doc="Streaming ADMISSION-TIME near-dup check: document files land "
    "as a stream, and each micro-batch's minhash signatures probe the "
    "existing corpus's PERSISTED band index (the same bucketed tables "
    "the batch incremental query uses) via foreachBatch before "
    "admission. Per batch the work is O(batch × bands) with zero "
    "corpus-side shuffle or recompute — admission dedup stays "
    "affordable when the corpus is 100 TB and the batch is megabytes. "
    "Emits the batch incremental verdicts exactly, so the same SQL "
    "oracle checks it. streaming/doc_ingest.py.",
)
def streaming_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.doc_ingest import run_streaming_minhash_ingest

    return run_streaming_minhash_ingest(spark, sf_dir)


def _attach_minhash_oracle() -> None:
    """The oracle is the batch incremental-minhash SQL — generated in
    plans.documents from the shared minhash spec. Attached after
    registration to avoid a circular import at module-load order."""
    from dataclasses import replace

    from .documents import _sql_incremental_minhash
    from .registry import REGISTRY

    REGISTRY["streaming_minhash_ingest"] = replace(
        REGISTRY["streaming_minhash_ingest"],
        oracle=_sql_incremental_minhash(),
    )


_attach_minhash_oracle()


def _sql_sem_ingest() -> str:
    """Exact oracle for the streaming semantic-dedup admission check:
    the SCALED cell scheme (label × corpus-depth LSH sign-bits) with
    depth p derived from the EVEN (admitted) corpus, both sides'
    per-row cell assignment over unit vectors, and min-id dup
    verdicts for the odd (incoming) vectors — the same
    integer/rounded determinism as dedup_semantic_cells, restricted
    to the incremental split."""
    from ..operators.similarity import LSH_PLANES
    from .embeddings import (
        SEM_PLANES,
        SEM_SEED2,
        SEMDEDUP_CELL_CAP,
        SEMDEDUP_TAU,
        _sql_lsh_bucket,
        _sql_unit,
        _sql_unit_dot,
    )

    def asg(name: str, parity: int) -> str:
        # MATERIALIZED: new_asg is referenced twice (dup join + final
        # select); inlining recomputes signature + unit per reference
        return f"""
    {name} AS MATERIALIZED (
        SELECT e.vec_id,
               CAST(e.label AS BIGINT) * {1 << SEM_PLANES}
               + ((CAST({_sql_lsh_bucket('e.embedding')} AS BIGINT)
                   + {1 << LSH_PLANES}
                     * CAST({_sql_lsh_bucket('e.embedding', SEM_SEED2)}
                            AS BIGINT))
                  & ((1 << pp.p) - 1)) AS cell_id,
               {_sql_unit('e.embedding')} AS unit
        FROM embeddings e CROSS JOIN pp
        WHERE e.vec_id % 2 = {parity}
    )"""

    return f"""
    WITH st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS nl
        FROM embeddings WHERE vec_id % 2 = 0
    ),
    pp AS (
        SELECT CAST(COALESCE(MIN(q), {SEM_PLANES}) AS BIGINT) AS p
        FROM (SELECT unnest(range(0, {SEM_PLANES + 1})) AS q) qs, st
        WHERE st.n <= {SEMDEDUP_CELL_CAP} * st.nl * (1 << q)
    ),
    {asg('new_asg', 1)},
    {asg('old_asg', 0)},
    dup AS (
        SELECT a.vec_id, MIN(b.vec_id) AS dup_of
        FROM new_asg a JOIN old_asg b ON a.cell_id = b.cell_id
        WHERE {_sql_unit_dot('a.unit', 'b.unit')} >= {SEMDEDUP_TAU}
        GROUP BY a.vec_id
    )
    SELECT s.vec_id, s.cell_id,
           CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of,
           d.dup_of IS NOT NULL AS is_semantic_dup
    FROM new_asg s LEFT JOIN dup d USING (vec_id)
    """


@register(
    "streaming_semdedup_ingest",
    oracle=_sql_sem_ingest(),
    tags=("streaming", "embeddings", "dedup"),
    doc="Streaming ADMISSION-TIME semantic dedup — the vector-space "
    "twin of streaming_minhash_ingest: embedding files land as a "
    "stream, and each micro-batch's vectors probe the admitted "
    "corpus's PERSISTED semantic-cell index (bucketed on the SCALED "
    "cell id — label × corpus-depth LSH sign-bits, members per cell "
    "bounded by SEMDEDUP_CELL_CAP at any corpus size) via "
    "foreachBatch before admission. Per batch: per-row cell "
    "computation on the incoming vectors (sign bits, zero shuffle, "
    "no argmin) + one keyed join against a single bounded cell's "
    "stored unit vectors — O(batch × cell_cap) regardless of corpus "
    "size, zero corpus-side recompute or exchange. The whole scheme "
    "is integer/rounded deterministic, so the oracle is EXACT end to "
    "end; batch writes are batch_id-keyed overwrites (exactly-once "
    "verdicts under at-least-once execution). "
    "streaming/embed_ingest.py.",
)
def streaming_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.embed_ingest import run_streaming_semdedup_ingest

    return run_streaming_semdedup_ingest(spark, sf_dir)


@register(
    "streaming_dq_router",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_rows FROM events),
    rules AS (
        SELECT 'event_id_not_null' AS rule,
               COUNT(*) FILTER (event_id IS NULL) AS n_violations
        FROM events
        UNION ALL
        SELECT 'value_non_negative',
               COUNT(*) FILTER (value IS NOT NULL AND value < 0)
        FROM events
        UNION ALL
        SELECT 'event_type_in_domain',
               COUNT(*) FILTER (event_type NOT IN
                   ('view', 'click', 'purchase', 'signup', 'error'))
        FROM events
        UNION ALL
        SELECT 'ts_in_range',
               COUNT(*) FILTER (ts < TIMESTAMP '2020-01-01'
                                OR ts >= TIMESTAMP '2030-01-01')
        FROM events
        UNION ALL
        SELECT 'any_violation',
               COUNT(*) FILTER (
                   event_id IS NULL
                   OR (value IS NOT NULL AND value < 0)
                   OR event_type NOT IN
                      ('view', 'click', 'purchase', 'signup', 'error')
                   OR ts < TIMESTAMP '2020-01-01'
                   OR ts >= TIMESTAMP '2030-01-01')
        FROM events
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
           n.n_rows, n_violations = 0 AS passed
    FROM rules, n
    """,
    tags=("streaming", "quality"),
    doc="Arrival-path DQ quarantine router: every micro-batch's rows "
    "split ROW-LOCALLY by the SAME declarative violation predicates "
    "as the batch gate (operators/quality.py:event_row_rules — one "
    "rule set, two paths) into clean and quarantine tables, written "
    "batch_id-keyed for exactly-once under retries. The report is "
    "recomputed FROM THE PERSISTED TABLES, so the oracle proves the "
    "files on disk match the rules — the streaming path end to end. "
    "Routing is a pure map; uniqueness (not row-local) stays with "
    "the batch gate and the upsert sink. "
    "streaming/wap_ingest.py:run_streaming_dq_router.",
)
def streaming_dq_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.wap_ingest import run_streaming_dq_router

    return run_streaming_dq_router(spark, sf_dir)


@register(
    "streaming_cdc_merge_orders",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 11
                    WHEN o_orderkey % 5 = 0 THEN o_totalprice + 5
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0)
    )
    SELECT CAST(4 AS INT) AS n_versions,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_price_cents
    FROM final
    """,
    tags=("streaming", "lakehouse", "cdc"),
    doc="Ordered CDC apply: a three-batch change feed over orders "
    "(upsert every 5th key +5, delete every 7th, upsert every 11th "
    "+11) streams through foreachBatch, each micro-batch applied as "
    "one file-pruned MERGE INTO the snapshot table "
    "(sources/snapshot_table.py:merge_snapshot; the _op column is the "
    "delete predicate and is dropped on write). File mtimes pin "
    "source order under maxFilesPerTrigger=1 because CDC order IS the "
    "semantics — the oracle's CASE precedence (11 over 5) plus the "
    "survival predicate pin the delete-then-reinsert sequence, and "
    "n_versions = 4 pins one atomic manifest commit per batch. "
    "streaming/upsert.py:run_cdc_merge_orders.",
)
def streaming_cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from ..streaming.drain import scratch_dir
    from ..streaming.upsert import run_cdc_merge_orders

    root = scratch_dir("cdc_merge", sf_dir)
    try:
        final, n_versions = run_cdc_merge_orders(spark, sf_dir, root)
        rows = (
            final.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("sum_price_cents"),
            ).collect()  # scalar rollup — materialize before the scratch reaps
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(int(n_versions), rows[0]["n_orders"], rows[0]["sum_price_cents"])],
        "n_versions int, n_orders bigint, sum_price_cents bigint",
    )


@register(
    "streaming_admit_dedup_extend",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS f
        FROM documents
    ),
    mx AS (SELECT MAX(doc_id) + 1 AS span FROM documents),
    land AS (
        SELECT doc_id, f FROM fp WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 2 * span, f FROM fp, mx
        WHERE doc_id % 2 = 1 AND doc_id % 25 = 1
        UNION ALL
        SELECT doc_id + 4 * span + 1, f FROM fp, mx
        WHERE doc_id % 2 = 0 AND doc_id % 25 = 0
    ),
    corp AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0)
    SELECT l.doc_id,
           CASE WHEN c.f IS NOT NULL THEN 'corpus'
                WHEN EXISTS (SELECT 1 FROM land p
                             WHERE p.f = l.f AND p.doc_id < l.doc_id)
                     THEN 'stream'
           END AS dup_source,
           (c.f IS NULL AND NOT EXISTS (
               SELECT 1 FROM land p
               WHERE p.f = l.f AND p.doc_id < l.doc_id)) AS admitted
    FROM land l LEFT JOIN corp c ON l.f = c.f
    """,
    tags=("streaming", "dedup", "lakehouse"),
    doc="Admission-time exact dedup WITH index extension — the "
    "STATEFUL ingest the static-probe twins leave open: each "
    "micro-batch rejects docs whose fingerprint is in the persisted "
    "corpus index OR admitted by an EARLIER batch of this stream, "
    "then extends the admitted-state sidecar with its own admissions "
    "(batch_id-keyed overwrite → idempotent under retries, the "
    "delta-sidecar pattern of append_ivf_delta). A duplicate arriving "
    "two batches after its twin is caught even though neither is in "
    "the base corpus — planted re-keyed clones (every 25th doc; the "
    "corpus has no natural exact dups) exercise BOTH rejection paths. "
    "Landing order is pinned (id-range files, "
    "increasing mtimes, maxFilesPerTrigger=1), so the oracle's "
    "'corpus beats stream; earlier doc_id wins' CASE recomputes every "
    "verdict exactly. streaming/doc_ingest.py:"
    "run_streaming_exact_admit.",
)
def streaming_admit_dedup_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.doc_ingest import run_streaming_exact_admit

    return run_streaming_exact_admit(spark, sf_dir)


@register(
    "streaming_wav_chunks",
    oracle="""
    SELECT doc_id,
           chunk_idx,
           CAST(length(substr(text,
                CAST(chunk_idx * 256 + 1 AS INT), 256)) AS BIGINT)
               AS chunk_len,
           md5(substr(text,
                CAST(chunk_idx * 256 + 1 AS INT), 256)) AS chunk_md5,
           CAST((octet_length(encode(text)) + 5) // 2 AS BIGINT) AS n_frames
    FROM (
        SELECT doc_id, text,
               CAST(unnest(range(0, GREATEST(1,
                    CAST(ceil(length(text) / 256.0) AS BIGINT))))
                    AS BIGINT) AS chunk_idx
        FROM documents
    )
    """,
    tags=("streaming", "multimodal"),
    doc="Streaming MEDIA ingest (round 9, §2F×§2G): real RIFF/WAVE "
    "containers (vendored writer) land as binary columns in a drop "
    "dir; the file stream drains them and each micro-batch runs the "
    "REAL chunk-list decode (fmt validation, data-chunk location, "
    "RIFF odd-size padding) inside Arrow-batched mapInPandas, "
    "emitting per-chunk segmentation rows with exactly-once "
    "batch_id-keyed writes. Decode is a pure map — O(batch bytes), "
    "zero corpus state, zero shuffle — so the ingest scales with "
    "arrival rate alone at any corpus size. The oracle recomputes "
    "every chunk boundary, md5, and decoded frame count from the "
    "source documents (streaming/media_ingest.py).",
)
def streaming_wav_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.media_ingest import run_streaming_wav_chunks

    return run_streaming_wav_chunks(spark, sf_dir)


@register(
    "streaming_video_frames",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4))
                AS BIGINT) AS frame_idx,
           md5(text || '@' ||
               CAST(unnest(range(0, 1 + octet_length(encode(text)) % 4))
                    AS VARCHAR)) AS frame_checksum,
           CAST(96 AS INT) AS width,
           CAST(CEIL((octet_length(encode(text)) + 6) / 96.0) AS INT)
               AS height,
           CAST(1 + octet_length(encode(text)) % 4 AS BIGINT) AS n_frames,
           CAST(100000 AS BIGINT) AS micros_per_frame
    FROM documents
    """,
    tags=("streaming", "multimodal"),
    doc="Streaming MOTION-CONTAINER ingest (round 10, §2F×§2G): real "
    "uncompressed RIFF/AVI files (vendored writer) land as binary "
    "columns in a drop dir; the file stream drains them and each "
    "micro-batch walks the RIFF lists, validates the vids/DIB stream "
    "contract, and decodes EVERY frame's DIB (bottom-up padded-row "
    "undo, frame count cross-checked against avih) inside a generator "
    "mapInPandas — the 1..4-row fan-out per container happens "
    "executor-side, with exactly-once batch_id-keyed writes. Decode "
    "is a pure map: O(batch bytes), zero corpus state, zero shuffle, "
    "so ingest scales with arrival rate alone. Oracle recomputes "
    "every frame checksum and the decoded header constants from the "
    "source documents (streaming/media_ingest.py:"
    "run_streaming_video_frames).",
)
def streaming_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.media_ingest import run_streaming_video_frames

    return run_streaming_video_frames(spark, sf_dir)


@register(
    "streaming_bus_ingest",
    oracle="""
    SELECT user_id % 8 AS partition,
           strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "bus"),
    doc="Exactly-once consumption of a vendored message-bus source "
    "(partitioned, offset-addressed, sealed NDJSON segments; every "
    "message delivered twice via redelivered segment twins). The "
    "consumer dedups on (partition, offset) within the event-time "
    "watermark and rolls up per (partition, hour). The oracle is the "
    "batch rollup of the ORIGINAL events table with the producer's "
    "partition rule — matching proves partition assignment, dense "
    "offsets and exactly-once collapse. streaming/bus.py.",
)
def streaming_bus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import bus

    return bus.bus_ingest_rollup(spark, sf_dir)


@register(
    "streaming_html_extract",
    # batch-equivalence oracle: a bounded availableNow drain of the
    # landing dir sees exactly the batch corpus, and extraction is a
    # stateless per-row map — the streaming result IS the batch result
    oracle=None,  # set below from the batch twin's SQL (single source)
    tags=("streaming", "html", "documents"),
    doc="Streaming twin of text_extract_html — the crawl-stream "
    "pre-filter: documents land as files, each micro-batch plants "
    "the deterministic boilerplate wrapper (JVM concat) and strips "
    "it back out with the Arrow-batch density classifier. Stateless "
    "map, so watermarks/state never enter; the oracle is the batch "
    "extraction SQL verbatim (plans/documents.py).",
)
def streaming_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_schema
    from ..operators import html_extract as hx

    schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(rollups.stream_source_dir(sf_dir, "documents"))
    )
    planted = stream.select(
        "doc_id", hx.plant_boilerplate_html("doc_id", "text").alias("html")
    )
    return rollups.run_to_completion(
        hx.extract_main_content(planted, "html"), output_mode="append"
    )


def _wire_streaming_html_oracle() -> None:
    """Share the batch twin's oracle SQL (one source of truth for the
    planted-page ground truth) without a circular import at module
    import time."""
    from dataclasses import replace

    from . import documents as _docs_mod
    from .registry import REGISTRY

    REGISTRY["streaming_html_extract"] = replace(
        REGISTRY["streaming_html_extract"],
        oracle=_docs_mod._SQL_HTML_EXTRACT,
    )


_wire_streaming_html_oracle()


@register(
    "streaming_bus_dlq_audit",
    oracle="""
    SELECT user_id % 8 AS partition,
           COUNT(*) AS n_events,
           CAST(2 AS BIGINT) AS n_poison_raw,
           CAST(1 AS BIGINT) AS n_poison_distinct
    FROM events GROUP BY 1
    """,
    tags=("streaming", "bus", "dq"),
    doc="Dead-letter handling on the message bus: one deterministic "
    "non-JSON line per partition (delivered twice) is planted next to "
    "the good segments; the consumer attributes it via the TRANSPORT "
    "partition (segment path — the out-of-band metadata a real bus "
    "provides) and routes it to the DLQ side while the good messages "
    "dedup on (partition, offset) exactly as the clean ingest. The "
    "oracle pins per-partition good counts AND the poison raw/distinct "
    "constants — absorbing the poison without losing a good row. "
    "streaming/bus.py:bus_dlq_audit.",
)
def streaming_bus_dlq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import bus

    return bus.bus_dlq_audit(spark, sf_dir)


@register(
    "streaming_web_prefilter",
    # batch-equivalence oracle: the chain is a stateless per-row map
    # (extract -> domain -> blocklist -> quality verdict), so a bounded
    # availableNow drain equals the batch chain exactly
    oracle=None,  # set below from the batch twin's SQL (single source)
    tags=("streaming", "html", "web", "documents"),
    doc="Streaming twin of web_prefilter_chain — the FULL crawl-stream "
    "pre-filter running unchanged as a stream: each micro-batch "
    "plants the boilerplate wrapper + the per-doc URL, strips the "
    "boilerplate back out in the Arrow batch (domain riding through "
    "as a passthrough column), and emits the per-page keep verdict "
    "with its first-failing-stage reason. Stateless map end-to-end — "
    "no watermark, no state store — which is exactly why the 100 TB "
    "batch plan and the streaming plan are the SAME plan; the oracle "
    "is the batch chain's SQL verbatim (plans/web.py).",
)
def streaming_web_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..catalog import table_schema
    from ..operators import html_extract as hx
    from ..operators import urls as ur
    from .documents import (
        QSCORE_MIN,
        extract_quality_score_col,
        extract_quality_stats,
    )

    schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(rollups.stream_source_dir(sf_dir, "documents"))
    )
    url = ur.planted_url()
    planted = stream.select(
        "doc_id",
        hx.plant_boilerplate_html("doc_id", "text").alias("html"),
        ur.domain_col(url).alias("domain"),
    )
    ex = hx.extract_main_content(planted, "html", passthrough=("domain",))
    scored = extract_quality_stats(ex, "domain").withColumn(
        "q", extract_quality_score_col()
    )
    blocked = F.col("domain").isin(
        *[f"{s}.com" for s in ur.BLOCKED_SOURCES]
    )
    keep = (
        (~blocked)
        & (F.col("content_chars") >= 1)
        & (F.col("q") >= QSCORE_MIN)
    )
    reason = (
        F.when(blocked, F.lit("blocked_domain"))
        .when(F.col("content_chars") < 1, F.lit("no_content"))
        .when(F.col("q") < QSCORE_MIN, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    verdicts = scored.select(
        "doc_id",
        "domain",
        "content_chars",
        F.round(F.col("q") * 1e6, 0).cast("bigint").alias("score_micro"),
        blocked.alias("blocked"),
        keep.alias("keep"),
        reason.alias("reason"),
    )
    return rollups.run_to_completion(verdicts, output_mode="append")


def _wire_streaming_web_oracle() -> None:
    """Share the batch chain's oracle SQL (one source of truth)."""
    from dataclasses import replace

    from . import web as _web_mod
    from .registry import REGISTRY

    REGISTRY["streaming_web_prefilter"] = replace(
        REGISTRY["streaming_web_prefilter"],
        oracle=REGISTRY["web_prefilter_chain"].oracle,
    )


_wire_streaming_web_oracle()
