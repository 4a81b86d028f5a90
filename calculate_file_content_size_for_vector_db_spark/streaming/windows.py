"""Streaming surface (SURVEY.md section 7.4): tumbling / sliding /
session windows, watermarked streaming aggregation, stateful dedup.

Every operator here works in BOTH batch and streaming mode — the same
`window()` / `session_window()` expressions apply to a static DataFrame
(used by the DuckDB-oracle queries) and to a `readStream` source (used
by the streaming smoke tests in tests/test_streaming.py). That is the
Spark-idiomatic shape: one declarative aggregation, two execution modes.

Scale notes: windowed aggregation shuffles on (window, key) with
map-side partial aggregation; watermarks bound state for unbounded
streams; `dropDuplicatesWithinWatermark` keeps exactly-once dedup state
bounded by the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _fmt(c: Column) -> Column:
    return F.date_format(c, TS_FMT)


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (LTZ).

    Spark reads the events parquet's naive timestamps as TIMESTAMP_NTZ
    (inferTimestampNTZ), but `withWatermark` only accepts TIMESTAMP —
    attaching a watermark to an NTZ column raises
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. Under this package's pinned
    UTC session timezone (session.py) the cast is value-identical, so
    batch and stream faces of the same aggregation stay comparable.
    """
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def tumbling_agg(
    events: DataFrame,
    duration: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums per key; window start as string."""
    return (
        events.groupBy(F.window(ts_col, duration).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(_fmt(F.col("w.start")).alias("window_start"), key_col, "n_events", "total_value")
    )


def sliding_agg(
    events: DataFrame,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts (each event lands in
    duration/slide windows)."""
    return (
        events.groupBy(F.window(ts_col, duration, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(_fmt(F.col("w.start")).alias("window_start"), "n_events", "total_value")
    )


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows per user: a session extends while consecutive
    events arrive within `gap`; closes at last_event + gap."""
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(_fmt(F.col("w.start")).alias("session_start"), key_col, "n_events", "total_value")
    )


def sessionize_lag(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization via lag + gap-flag cumulative sum — the
    window-function equivalent of session_agg (identical output;
    useful where session_window isn't available, and the form a SQL
    oracle can express)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag(ts_col).over(w).isNull()
            | (
                F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w))
                >= gap_s
            ),
            1,
        ).otherwise(0),
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w2))
    return (
        sessions.groupBy(key_col, "session_id")
        .agg(
            _fmt(F.min(ts_col)).alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select("session_start", key_col, "n_events", "total_value")
    )


def json_props(events: DataFrame, props_col: str = "props") -> DataFrame:
    """JSON property extraction (get_json_object surface)."""
    return events.select(
        "event_id",
        F.get_json_object(F.col(props_col), "$.k").cast("int").alias("k_value"),
    )


def topk_per_key(
    events: DataFrame,
    k: int = 3,
    key_col: str = "user_id",
    order_col: str = "value",
) -> DataFrame:
    """Top-k events per key by value (rank windows; deterministic
    tie-break on event_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.desc(F.round(F.col(order_col), 6)), F.asc("event_id")
    )
    return (
        events.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(key_col, "event_id", F.round(order_col, 6).alias("value_r"), "rank")
    )


def lag_delta(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-user value delta vs previous event (lead/lag surface)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy("ts", "event_id")
    return events.select(
        "event_id",
        F.col(key_col),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
    )


# ---------------------------------------------------------------------------
# True streaming runners (used by tests; the aggregations above are
# shared between batch and stream)
# ---------------------------------------------------------------------------


def run_stream_to_memory(agg: DataFrame, name: str, output_mode: str = "complete"):
    """Execute a streaming aggregation to a memory sink synchronously;
    returns the StreamingQuery (stopped)."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def watermarked_tumbling(events: DataFrame, duration: str = "10 minutes", delay: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling aggregation (late data beyond `delay` is
    dropped; state bounded)."""
    return (
        with_event_time(events, "ts")
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(_fmt(F.col("w.start")).alias("window_start"), "event_type", "n_events")
    )


def stream_dedup(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Stateful streaming dedup with bounded state."""
    return (
        with_event_time(events, "ts")
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap_seconds: int = 120,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Stream-stream (or batch) interval join: pair each left event
    with the same user's right events in (left.ts, left.ts + gap].

    Batch mode this is an equi-join on the key with a time-range
    residual. Streaming mode the SAME expression is Spark's canonical
    watermarked stream-stream join: with watermarks on both sides the
    time bound lets the engine discard buffered state older than
    watermark - gap, so state stays bounded (see
    tests/test_streaming.py::test_stream_stream_interval_join).
    """
    a = clicks.select(
        F.col(key_col),
        F.col("event_id").alias("a_event"),
        F.col(ts_col).alias("a_ts"),
    )
    b = purchases.select(
        F.col(key_col).alias("_bk"),
        F.col("event_id").alias("b_event"),
        F.col(ts_col).alias("b_ts"),
    )
    return (
        a.join(b, (F.col(key_col) == F.col("_bk")))
        .where(
            (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {max_gap_seconds} SECONDS"))
        )
        .select(
            key_col,
            "a_event",
            "b_event",
            _fmt(F.col("a_ts")).alias("a_time"),
            _fmt(F.col("b_ts")).alias("b_time"),
        )
    )
