"""Structured Streaming view over the ``events`` table + batch twins.

The reference has no streaming surface (its cadence is a daily batch); this
is the driver-mandated extension. Design:

- every streaming query has a BATCH TWIN registered with a DuckDB oracle —
  identical window/group semantics over the same parquet — because the
  correctness harness can't drive an unbounded query;
- the streaming variants (``stream_*`` builders below) read the same parquet
  through ``readStream`` with ``availableNow`` semantics in tests: watermarks,
  tumbling/sliding/session windows, and watermark-scoped dedup run the real
  streaming engine (tests/test_streaming.py);
- at scale the source swaps for Kafka/files-on-arrival; the plans are
  unchanged. Watermark bounds state: aggregation state for windows older
  than (max event time - delay) is evicted, so state size is O(active
  windows x keys), not O(stream history).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from covid_19_data_engineering_spark.plans.registry import register
from covid_19_data_engineering_spark.sources.tables import load_table

WATERMARK_DELAY = "10 minutes"
SESSION_GAP = "5 minutes"


# --- batch twins (oracle-checked) -------------------------------------------

@register(
    "events_tumbling_1h",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Tumbling 1h window counts/sums per event type (batch twin of the streaming agg).",
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_1h_30m",
    oracle="""
    WITH expanded AS (
      SELECT e.*,
             to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 - k * 1800)
               AS window_start
      FROM events e CROSS JOIN (SELECT UNNEST([0, 1]) AS k)
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           COUNT(*) AS n_events,
           -- exact integer-micros sum, then identical IEEE double ops on both
           -- engines: plain ROUND(AVG(value),4) mismatched on a true mean of
           -- exactly x.xxxx5 (Spark rounds the shortest decimal repr, DuckDB
           -- the binary value)
           FLOOR(SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
                 / COUNT(*) / 100.0 + 0.5) / 10000.0 AS avg_value
    FROM expanded
    GROUP BY 1
    ORDER BY window_start
    """,
    doc="Sliding window (1h length / 30m slide): each event lands in 2 windows.",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(
                F.sum((F.col("value").cast("decimal(20,6)") * 1000000).cast("long"))
                / F.count(F.lit(1)) / F.lit(100.0) + F.lit(0.5)
            ) / F.lit(10000.0)).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
        .orderBy("window_start")
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 300
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             -- CAST: windowed SUM(INT) is HUGEINT in DuckDB -> pandas float
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM marked
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_no
    HAVING COUNT(*) >= 3
    ORDER BY user_id, session_no
    """,
    doc="Gap-based sessionization (5 min), batch twin of session_window via lag+cumsum.",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id", "ts", "value", "event_id",
        # interval arithmetic, NOT ts.cast("long"): the cast is legal on
        # TIMESTAMP but forbidden on TIMESTAMP_NTZ (what timestamp[us]
        # parquet reads as); subtraction yields a day-time interval on both.
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 300 SECONDS"), 1
        ).when(F.lag("ts").over(w).isNull(), 1).otherwise(0).alias("new_session"),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .where(F.col("n_events") >= 3)
        .orderBy("user_id", "session_no")
    )


@register(
    "events_dedup_by_key",
    oracle="""
    SELECT event_type, user_id, COUNT(*) AS n_first_events
    FROM (
      SELECT event_type, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) AS rn
      FROM events
    ) WHERE rn = 1
    GROUP BY event_type, user_id
    HAVING COUNT(*) > 1
    ORDER BY event_type, user_id
    """,
    doc="Keyed dedup (first event per event_id) then regroup — batch twin of "
    "dropDuplicatesWithinWatermark.",
)
def events_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_id").orderBy("ts")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n_first_events"))
        .where(F.col("n_first_events") > 1)
        .orderBy("event_type", "user_id")
    )


# --- streaming builders (driven by tests with availableNow) ------------------


# the canonical events payload as Kafka record JSON: one schema string
# covers producer and consumer; ts is timestamp_ntz to match the batch
# loader's canonical events shape, and the wire format pins SIX fractional
# digits — Spark's default JSON timestamp format truncates to millis,
# which would silently shave microseconds off every event on a round trip
EVENTS_KAFKA_SCHEMA = ("event_id bigint, user_id bigint, event_type string, "
                       "ts timestamp_ntz, value double")
KAFKA_JSON_OPTS = {"timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}


def events_from_kafka_records(raw: DataFrame) -> DataFrame:
    """Decode Kafka records (binary ``value`` column) into the engine's
    canonical events shape — the projection half of the kafka branch,
    shared by the stream reader and the batch-twin test (which feeds it
    literal JSON bytes, no connector or broker needed). Malformed records
    surface as NULL columns (from_json PERMISSIVE mode), the same
    row-tolerant posture as the CSV ingestion path."""
    payload = F.from_json(F.col("value").cast("string"), EVENTS_KAFKA_SCHEMA,
                          KAFKA_JSON_OPTS)
    return raw.select(
        payload["event_id"].alias("event_id"),
        payload["user_id"].alias("user_id"),
        payload["event_type"].alias("event_type"),
        payload["ts"].alias("ts"),
        payload["value"].alias("value"),
    )


def events_stream(spark: SparkSession, sf_dir: str, source: str = "files") -> DataFrame:
    """Streaming events in the engine's canonical shape, from a pluggable
    source. Every ``stream_*`` builder below takes this DataFrame — the
    plans never know which source produced it (the Kafka-shaped seam:
    swapping sources changes THIS function only).

    - ``source="files"``: readStream over the events parquet directory
      (stand-in for file-arrival ingestion). The ts physical type has
      flip-flopped between testdata vintages (INT64 TIMESTAMP(NANOS) vs
      timestamp[us]); take the schema from a batch read of the actual file
      and re-type exactly like the batch loader so stream and batch plans
      share semantics regardless of vintage.
    - ``source="rate"``: the built-in rate source mapped onto the events
      schema — a live unbounded source with none of the file machinery,
      proving the builders are source-agnostic (tests drive a stream_*
      plan off it).
    - ``source="kafka"``: the real connector branch —
      ``spark.readStream.format("kafka")`` subscribed to
      ``$SPARK_GRAFT_KAFKA_TOPIC`` (default ``events``) at
      ``$SPARK_GRAFT_KAFKA_BOOTSTRAP`` (default ``localhost:9092``), each
      record's JSON value decoded to the canonical columns by
      ``events_from_kafka_records``. The branch EXECUTES whenever the
      spark-sql-kafka connector jar is on the classpath (pytest drives it
      and skips, with the exact resolution error pinned, where the jar is
      absent — this container ships none); the record decode itself is
      batch-testable without any connector.
    """
    import os

    if source == "kafka":
        bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP",
                                   "localhost:9092")
        topic = os.environ.get("SPARK_GRAFT_KAFKA_TOPIC", "events")
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
        )
        return events_from_kafka_records(raw)
    if source == "rate":
        raw = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
        types = F.array(F.lit("click"), F.lit("view"), F.lit("purchase"))
        return raw.select(
            F.col("value").alias("event_id"),
            (F.col("value") % 50).alias("user_id"),
            F.element_at(types, (F.col("value") % 3 + 1).cast("int")).alias("event_type"),
            F.col("timestamp").alias("ts"),
            F.round(F.col("value") % 100 / 10.0, 2).alias("value"),
        )
    if source != "files":
        raise ValueError(f"unknown stream source {source!r}")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table_path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(table_path).schema
    # FileStreamSource requires a directory. The table ships as either a
    # single FILE events.parquet (the testdata layout) or a DIRECTORY of
    # part files (any Spark-written corpus — the 3x scale dirs). The glob
    # trick only matched the single-file shape: against a directory
    # layout it listed NOTHING and the stream silently drained zero rows
    # (caught by the round-10 scale bench, x3_rows = 0 — not by the
    # gate, whose testdata is all single files).
    if os.path.isdir(table_path):
        reader = (spark.readStream.schema(raw_schema).format("parquet")
                  .load(table_path))
    else:
        reader = (spark.readStream.schema(raw_schema).format("parquet")
                  .option("pathGlobFilter", "events.parquet").load(sf_dir))
    stream = reader
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
        # NTZ); the session timezone is pinned UTC, so the cast is
        # value-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation (state evicted past the
    watermark)."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def stream_session_windows(events: DataFrame) -> DataFrame:
    """Native session_window aggregation with watermark."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Watermark-scoped exact-once dedup on event_id."""
    return events.withWatermark("ts", WATERMARK_DELAY).dropDuplicatesWithinWatermark(["event_id"])


def stream_click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: purchases joined to clicks by the same user
    within the preceding 30 minutes. Both sides carry watermarks and the
    join condition bounds event-time distance, so each side's state buffer
    is evicted once the other side's watermark passes the band — state is
    O(30 min of traffic), not O(stream)."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts < purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 30 MINUTES
            """
        ),
    ).select("purchase_id", "purchase_ts", "p_user", "click_id", "click_ts", "value")


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet: stand-in for the arrival
    directory a crawler/exporter drops new document batches into."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def stream_snapshot_dedup(new_docs: DataFrame, snapshot: DataFrame,
                          threshold: float = 0.3) -> DataFrame:
    """Stream-static near-dup join: arriving documents are checked against
    the already-ingested corpus snapshot without stopping the stream.

    minhash signatures/bands are row-local (operators/dedup.py), so the
    stream side needs NO pre-join aggregation — legal in append mode with
    no watermark. The static band side is a bounded table Spark re-plans
    per micro-batch (broadcast when small, shuffled hash join when not);
    the only streaming state is the emitted-pair dedup, which grows with
    matches, not with the stream."""
    from covid_19_data_engineering_spark.operators.dedup import (
        minhash_agreement,
        minhash_bands,
    )

    nb = minhash_bands(new_docs).alias("n")
    sb = minhash_bands(snapshot).alias("s")
    return (
        nb.join(
            sb,
            (F.col("n.band") == F.col("s.band")) & (F.col("n.bucket") == F.col("s.bucket")),
        )
        .select(
            F.col("s.doc_id").alias("snapshot_doc_id"),
            F.col("n.doc_id").alias("new_doc_id"),
            minhash_agreement(F.col("n.sig"), F.col("s.sig")).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["snapshot_doc_id", "new_doc_id"])
    )


def start_admission_stream(new_docs: DataFrame, snapshot_state: dict,
                           sink, checkpoint_dir: str,
                           trigger_available_now: bool = True):
    """Streaming hand-off for the retention manifest (round-4 verdict #7):
    each arriving micro-batch of documents is ADMITTED against the frozen
    snapshot working set via ``incremental_retention_manifest`` inside
    ``foreachBatch``, and the per-batch decision table (doc_id, status,
    ref_doc) is handed to ``sink(decisions_df, epoch_id)``.

    Contract: admission epochs are independent decisions against the
    FROZEN snapshot — the steady-state shape where the snapshot state is
    a persisted table (``write_snapshot_dedup_state``) and folding
    accepted docs back into it is a separate, explicitly-versioned state
    update (exactly how the stored-state batch variant treats it). Inside
    foreachBatch the micro-batch is a plain DataFrame, so the full batch
    operator — checkpointed working sets, star components, the lot — runs
    unchanged; nothing is reimplemented for the stream.

    Returns the started StreamingQuery (availableNow by default — drain
    what has arrived, then stop — matching the test/batch-parity posture;
    pass ``trigger_available_now=False`` for a continuous micro-batch
    loop)."""
    from covid_19_data_engineering_spark.operators.clustering import (
        incremental_retention_manifest,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        decisions = incremental_retention_manifest(
            batch_df, snapshot_state=snapshot_state
        )
        sink(decisions, epoch_id)

    writer = (
        new_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- streaming-native oracle query -------------------------------------------
#
# Round-9 verdict task #4: streaming correctness had rested on batch twins
# (oracle-checked) plus pytest availableNow runs. This registered query runs
# the REAL streaming engine end-to-end — readStream file source, watermarked
# tumbling aggregation, memory sink, availableNow trigger, awaitTermination —
# and returns the final sink table, hash-checked by the driver against the
# SAME DuckDB oracle as the batch twin. The one correctness seam DuckDB
# couldn't see (does the streaming runtime produce the batch answer?) is now
# inside the gate.

import itertools as _itertools

_STREAM_ORACLE_SEQ = _itertools.count()


def _stream_state_width(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive shuffle width for the streaming gate drains
    (round 14, guide §2: derive partitioning from input size, never a
    constant tuned for one deployment). Stateful streaming operators
    have NO AQE coalescing — the shuffle width at stream start fixes
    the state-store count for the query's lifetime — so the batch
    shuffle width (32 locally, cluster-sized in deployment) made a
    megabyte drain pay 32 state-store inits + commits per stateful
    operator per micro-batch: measured 4.6 s -> 1.5 s on the
    stream-stream join at sf0.1 with a size-derived width. One state
    partition per ~16 MB of source input, floor 4, capped at the
    configured width — at production input sizes the cap returns the
    configured width unchanged. A path the local filesystem cannot size
    (``s3a://``, ``hdfs://``) falls back to the configured width."""
    import os

    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    table_path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(table_path):
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(table_path) for f in fs
            )
        else:
            size = os.path.getsize(table_path)
    except OSError:
        return configured
    return max(4, min(configured, size // (16 * 1024 * 1024) + 1))


def _drain_memory_sink(spark: SparkSession, stream_df: DataFrame,
                       name_prefix: str, output_mode: str,
                       sf_dir: str) -> DataFrame:
    """Shared memory-sink drain for the streaming oracle twins: start the
    query at the size-derived state width (restoring the session width
    immediately — streams pin their confs at start), drain with
    availableNow, fail loudly on timeout (a partially-filled sink would
    surface as an opaque hash mismatch), clean the checkpoint, return
    the sink table.

    The width is set by mutating the SESSION-wide
    ``spark.sql.shuffle.partitions`` between ``start()`` and the restore.
    That assumes sequential use of the session: a batch query planned on
    another thread inside that window would plan with the stream's
    width. Results would not change (only partitioning does), but its
    shuffle width would."""
    import shutil
    import tempfile

    name = f"{name_prefix}_{next(_STREAM_ORACLE_SEQ)}"
    ckpt = tempfile.mkdtemp(prefix="stream_oracle_ckpt_")
    configured = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(_stream_state_width(spark, sf_dir)))
    try:
        q = (
            stream_df.writeStream.format("memory").queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", configured)
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"streaming drain {name} did not finish within 300s; "
                "refusing to read a partially-filled memory sink")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register(
    "events_tumbling_1h_streamed",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Tumbling 1h counts/sums per event type computed by the ACTUAL "
    "streaming engine: readStream file source -> watermarked window agg -> "
    "memory sink, drained with availableNow; the returned DataFrame is the "
    "final sink table, which must hash-match the batch twin's oracle. "
    "Complete output mode makes the final table the full history (state is "
    "bounded by windows x types, not stream length; an at-scale deployment "
    "would run append mode into a versioned sink — start_versioned_append_"
    "stream — and let the watermark finalize windows).",
)
def events_tumbling_1h_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = stream_tumbling_counts(events_stream(spark, sf_dir, source="files"))
    return (
        _drain_memory_sink(spark, agg, "tumbling_1h_streamed", "complete",
                           sf_dir)
        # the stream casts ts NTZ->TIMESTAMP for the watermark; cast the
        # window back so the result schema is the batch twin's exactly
        .select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "session_duration_quantiles",
    oracle="""
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 300
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM marked
    ),
    durations AS (
      SELECT CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT)
               AS duration_ms
      FROM sessions GROUP BY user_id, session_no
    ),
    n_all AS (SELECT COUNT(*) AS n FROM durations),
    targets AS (
      SELECT CAST(q AS DOUBLE) AS quantile,
             CAST(floor(((SELECT n FROM n_all) - 1) * q) AS BIGINT) + 1
               AS rank
      FROM (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q)
    ),
    ranked AS (
      SELECT duration_ms,
             ROW_NUMBER() OVER (ORDER BY duration_ms) AS rn
      FROM durations
    )
    SELECT t.quantile, t.rank, r.duration_ms AS value
    FROM targets t JOIN ranked r ON r.rn = t.rank
    ORDER BY t.quantile
    """,
    doc="Exact session-duration order statistics (p25/50/75/90/99 in ms): "
    "gap-based sessionization (5-min, the lag+cumsum twin of "
    "session_window) composed with the histogram-refine quantile operator "
    "— durations never leave the cluster and never sort globally; the "
    "only ordered windows are per-user (sessionize) and per-candidate-"
    "bucket (refine). The composition is the point: engine operators are "
    "DataFrames in/out, so the scalable quantile pass runs on DERIVED "
    "tables (sessions) exactly as it does on stored ones.",
)
def session_duration_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from covid_19_data_engineering_spark.operators.quantiles import (
        exact_quantiles_histogram,
    )

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id", "ts", "event_id",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 300 SECONDS"), 1
        ).when(F.lag("ts").over(w).isNull(), 1).otherwise(0).alias("new_session"),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    durations = (
        sessions.groupBy("user_id", "session_no")
        .agg((F.unix_millis(F.max("ts").cast("timestamp"))
              - F.unix_millis(F.min("ts").cast("timestamp")))
             .cast("long").alias("duration_ms"))
        .select("duration_ms")
    )
    return (
        exact_quantiles_histogram(durations, "duration_ms")
        .orderBy("quantile")
    )


@register(
    "events_sessionization_streamed",
    # the oracle replays NATIVE session_window semantics: an event at t
    # opens [t, t+gap] and sessions merge while intervals TOUCH, so a gap
    # of exactly 300s still MERGES (strict >, the same rule as the batch
    # twin — measured against the real operator, and pinned by a planted
    # exactly-300s pytest case). session_end is last event + gap.
    oracle="""
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 300
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM marked
    )
    SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL 300 SECONDS AS TIMESTAMP) AS session_end,
           user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    doc="Per-user 5-minute session windows computed by the ACTUAL "
    "streaming engine's native session_window operator: readStream file "
    "source -> watermarked session aggregation (merge-on-overlap state) "
    "-> memory sink, drained with availableNow; the returned table must "
    "hash-match the lag+cumsum relational derivation in DuckDB — "
    "including the boundary rule that an exactly-gap-sized pause starts "
    "a NEW session (intervals merge only when they overlap). The second "
    "streaming-native oracle query beside the tumbling one: it gates the "
    "session-state machinery (merge, not just bucket-assign) end-to-end.",
)
def events_sessionization_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = stream_session_windows(events_stream(spark, sf_dir, source="files"))
    return (
        _drain_memory_sink(spark, agg, "sessionization_streamed", "complete",
                           sf_dir)
        .select(
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "user_id", "n_events", "session_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "events_click_attribution_streamed",
    # per-row passthrough values (no aggregation), so no rounding is
    # needed: both engines read the identical doubles out of the parquet
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.user_id AS p_user,
           c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           p.value
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
         - INTERVAL 30 MINUTES
    ORDER BY purchase_id, click_id
    """,
    doc="Purchase-to-click attribution computed by the ACTUAL streaming "
    "engine's stream-stream inner join: both sides watermarked, the "
    "event-time band bounds each side's state buffer to ~30 minutes of "
    "traffic, append-mode memory sink drained with availableNow; the "
    "emitted pairs must hash-match the batch interval join in DuckDB. "
    "The third streaming-native oracle query: after bucket-assign "
    "(tumbling) and merge state (session_window), this gates the "
    "dual-buffer join state machinery end-to-end.",
)
def events_click_attribution_streamed(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    joined = stream_click_purchase_join(
        events_stream(spark, sf_dir, source="files"))
    return (
        _drain_memory_sink(spark, joined, "click_attr_streamed", "append",
                           sf_dir)
        .select(
            "purchase_id",
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            "p_user",
            "click_id",
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            "value",
        )
        .orderBy("purchase_id", "click_id")
    )


@register(
    "events_ingest_versioned_sink",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="The DEPLOYMENT-SHAPED streaming sink under the oracle gate "
    "(round-11 verdict #4): readStream file source -> foreachBatch -> "
    "write_versioned append with a (writer, epoch) txn marker per "
    "micro-batch (start_versioned_append_stream — exactly-once across "
    "batch replays, CAS-committed), then the registered result is a "
    "tumbling-1h rollup READ BACK FROM THE COMMITTED VERSIONED TABLE, "
    "which must hash-match the batch oracle over the raw events. Unlike "
    "the memory-sink streamed twins (gate harnesses), every row here "
    "traveled through the production commit path: snapshot staging, "
    "atomic version claim, txn idempotence guard. The crash-replay "
    "pytest (tests/test_round12_ops.py) re-invokes the same epoch and "
    "pins that no duplicate batch lands.",
)
def events_ingest_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from covid_19_data_engineering_spark.sources.versioned import (
        read_versioned,
        table_history,
    )
    from covid_19_data_engineering_spark.streaming.stateful import (
        start_versioned_append_stream,
    )

    root = tempfile.mkdtemp(prefix="versioned_sink_")
    tbl = os.path.join(root, "events_tbl")
    ckpt = os.path.join(root, "ckpt")
    try:
        q = start_versioned_append_stream(
            events_stream(spark, sf_dir, source="files"), tbl, ckpt,
            writer_id="events_ingest_oracle")
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "versioned-sink drain did not finish within 300s; "
                "refusing to read a partially-committed table")
        if not table_history(tbl):
            raise RuntimeError("versioned sink committed no versions")
        committed = read_versioned(spark, tbl)
        rows = (
            committed
            .groupBy(
                F.date_trunc("hour", F.col("ts"))
                .cast("timestamp_ntz").alias("window_start"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .orderBy("window_start", "event_type")
            .collect()
        )
    finally:
        # the result is materialized above, so the temp table and
        # checkpoint can go — repeated gate/bench invocations must not
        # accumulate table copies in /tmp
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "window_start timestamp_ntz, event_type string, "
        "n_events bigint, total_value double",
    )


@register(
    "events_dedup_streamed",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Watermark-scoped exactly-once dedup computed by the ACTUAL "
    "streaming engine (the fourth streaming-native oracle query, after "
    "tumbling windows, session merge, and the stream-stream join): the "
    "file source is read TWICE and unioned — a deliberately duplicated "
    "stream, every event arriving exactly two times — then "
    "dropDuplicatesWithinWatermark(event_id) must reduce it back to "
    "one row per event; the drained sink rolls up per event type and "
    "must hash-match the batch oracle over the ORIGINAL events. If the "
    "dedup state machinery retains a duplicate, every count doubles and "
    "the gate goes red. State is bounded by the watermark horizon, not "
    "stream length.",
)
def events_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = events_stream(spark, sf_dir, source="files").unionByName(
        events_stream(spark, sf_dir, source="files"))
    deduped = stream_dedup(doubled)
    return (
        _drain_memory_sink(spark, deduped, "dedup_streamed", "append",
                           sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


def stream_click_purchase_left_join(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, joined to its
    preceding-30-minute clicks where they exist, emitted with NULL click
    columns otherwise. The semantics inner joins cannot show: an
    unmatched left row emits ONLY when the global watermark (the MIN of
    the two sides' watermarks) passes the point where a match is
    provably impossible — rows younger than the final watermark stay in
    state and never emit, which the oracle replicates exactly."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts < purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 30 MINUTES
            """
        ),
        "leftOuter",
    ).select("purchase_id", "purchase_ts", "p_user", "click_id",
             "click_ts", "value")


@register(
    "events_click_left_join_streamed",
    # The outer half's emission boundary is the join's final GLOBAL
    # watermark: min over both sides of (max event time - 10 min). An
    # unmatched purchase emits its NULL row iff a match is provably
    # impossible under that watermark; younger unmatched purchases are
    # still buffered when the drain ends and must NOT appear.
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, event_id,
             value
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT MAX(click_ts) FROM clicks),
                   (SELECT MAX(purchase_ts) FROM purchases))
             - INTERVAL 10 MINUTES AS w
    ),
    matched AS (
      SELECT p.event_id AS purchase_id, p.purchase_ts,
             p.user_id AS p_user, c.event_id AS click_id, c.click_ts,
             p.value
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.click_ts < p.purchase_ts
       AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTES
    )
    SELECT purchase_id, purchase_ts, p_user, click_id, click_ts, value
    FROM matched
    UNION ALL
    SELECT p.event_id, p.purchase_ts, p.user_id,
           CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), p.value
    FROM purchases p, wm
    WHERE p.purchase_ts < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM clicks c
        WHERE c.user_id = p.user_id
          AND c.click_ts < p.purchase_ts
          AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTES)
    ORDER BY purchase_id, click_id
    """,
    doc="Stream-stream LEFT OUTER join through the ACTUAL streaming "
    "engine: matched purchase-click pairs plus NULL-click rows for "
    "purchases whose match window provably closed — emitted exactly "
    "when the global watermark (min of both sides) passes the row, so "
    "unmatched purchases younger than the final watermark stay "
    "buffered and never appear. The sixth streaming-native oracle: "
    "after bucket-assign, session merge, dual-buffer inner join, "
    "exactly-once sink, and watermark dedup, this gates the outer "
    "join's state-expiry null emission end-to-end against DuckDB's "
    "replay of the same boundary.",
)
def events_click_left_join_streamed(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    joined = stream_click_purchase_left_join(
        events_stream(spark, sf_dir, source="files"))
    return (
        _drain_memory_sink(spark, joined, "click_left_streamed", "append",
                           sf_dir)
        .select(
            "purchase_id",
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            "p_user",
            "click_id",
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            "value",
        )
        .orderBy("purchase_id", "click_id")
    )
