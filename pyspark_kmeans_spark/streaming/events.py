"""Streaming slice over the `events` table (SURVEY.md §7.5).

The reference has no streaming surface (SURVEY.md §2.11); this module adds
the canonical Structured Streaming shapes a production events pipeline
needs, each with an exactly-equivalent batch form:

 - tumbling-window aggregation (count + exact sum per event_type per hour)
 - session windows per user (30-min gap)
 - per-user running counters via a custom stateful operator shape

The batch forms are what the driver oracle checks (windowed aggregation IS
SQL-expressible); tests/test_streaming.py runs the real readStream path with
a watermark + availableNow trigger and asserts stream == batch.

Scale notes: windowed aggs shuffle on (window, event_type) — bounded
cardinality, safe at any rate; the watermark bounds state; sessionization
state is per-user and evicted on gap timeout.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_kmeans_spark.functions.exact import decimal_sum
from pyspark_kmeans_spark.sources.tables import load_table


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact value sum.
    Works identically on a batch or streaming DataFrame."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(
    events: DataFrame, window: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding (hopping) windows per event_type: with window=2×slide each
    event lands in exactly two overlapping windows.  Works identically on a
    batch or streaming DataFrame; streaming callers must watermark the
    input FIRST (use streaming_sliding_rollup) or window state grows
    unbounded.

    Scale: the explode-by-window-multiplicity is partition-local (window /
    slide rows per event, a small constant), and the agg shuffles on
    (window, event_type) — bounded cardinality at any rate, same as
    hourly_rollup."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_rollup(
    spark: SparkSession, sf_dir: str, *, watermark: str = "2 hours"
) -> DataFrame:
    """The streaming form of sliding_rollup: the watermark closes windows
    `watermark` behind the max event time and evicts their state — bounded
    memory at any rate."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return sliding_rollup(stream)


def user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events within `gap` of each other merge.
    Batch/streaming-identical via F.session_window."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source streaming read of the events table (ns- and µs-footer
    safe, via the same normalize_event_ts the batch loader uses — the two
    paths cannot drift).

    `max_files_per_trigger` is OFF by default: it is a test/backfill
    throttle (simulate incremental arrival), and baking it in would cap a
    production backlog at one file per micro-batch regardless of cluster
    size."""
    from pyspark_kmeans_spark.sources.tables import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Streaming sources need a declared schema — peek at the batch-read
    # footer and declare what is actually there.
    ts_type = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    )["ts"]
    raw_schema = (
        f"event_id long, ts {ts_type}, user_id long, "
        "event_type string, value double, props string"
    )
    # File streaming sources require a directory; select just the events
    # table out of the shared sf_dir via a glob filter.
    reader = spark.readStream.schema(raw_schema).option(
        "pathGlobFilter", "events.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(spark, reader.parquet(sf_dir))


def segment_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream–static enrichment: join events to the customer dimension and
    roll up hourly per market segment.  Works identically on a batch or
    streaming events frame.

    The dimension side is BROADCAST — the canonical stream-static join is
    stateless (no streaming state at all: each micro-batch hash-joins
    against the small static side).  Structured Streaming re-plans the
    static side per micro-batch, which re-reads the files the dimension's
    listing already knows about — updates to EXISTING files flow in, but
    newly ADDED dimension files are not discovered without recreating the
    static DataFrame (a Delta/Iceberg table, whose snapshot is re-resolved
    per batch, lifts that limit).  The windowed agg shuffles on
    (window, segment) — bounded cardinality at any stream rate."""
    dim = F.broadcast(
        customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        events.join(dim, on="user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )


def streaming_segment_rollup(
    spark: SparkSession, sf_dir: str, *, watermark: str = "2 hours"
) -> DataFrame:
    """The streaming form of segment_rollup: watermarked events stream,
    broadcast static dimension, stateless join + windowed agg."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return segment_rollup(stream, load_table(spark, sf_dir, "customer"))


def anomaly_rollup(events: DataFrame, stats: DataFrame) -> DataFrame:
    """Live anomaly flags: hourly windowed counts per event type, scored
    against a precomputed per-type baseline (event_type, _mean, _std —
    `operators.analytics.hourly_type_stats`, the batch job a production
    pipeline refreshes periodically).  Works identically on a batch or
    watermarked streaming events frame: the stats side is a bounded
    static broadcast (stateless stream-static join), and the windowed
    count shuffles on (window, type) — bounded state at any stream rate."""
    hourly = events.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    z = F.try_divide(F.col("n_events") - F.col("_mean"), F.col("_std"))
    return (
        hourly.join(F.broadcast(stats), on="event_type")
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > F.lit(3.0)).alias("is_anomaly"),
        )
    )


def streaming_anomaly_rollup(
    spark: SparkSession, sf_dir: str, *, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming form: watermarked stream scored against the batch-built
    baseline — the standard deploy shape for streaming anomaly detection
    (train offline, score online)."""
    from pyspark_kmeans_spark.operators.analytics import hourly_type_stats

    stream = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    stats = hourly_type_stats(load_table(spark, sf_dir, "events"))
    return anomaly_rollup(stream, stats)


def view_click_join(
    views: DataFrame, clicks: DataFrame, *, horizon: str = "1 hour"
) -> DataFrame:
    """Interval join: per user, every click within `horizon` after a view.
    Works identically on batch frames and on two watermarked streams —
    the time-bound condition is exactly what Structured Streaming's
    stream-stream inner join requires to evict state (each side's buffered
    rows age out once the other side's watermark passes the horizon).

    Scale: an equi-join on user_id with a range predicate — one shuffle per
    side on user_id, range filter applied inside the join; state (streaming)
    / per-task memory (batch) is bounded by events per user per horizon."""
    v = views.select("user_id", F.col("ts").alias("view_ts"))
    c = clicks.select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    return (
        v.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (
                F.col("click_ts")
                <= F.col("view_ts") + F.expr(f"interval {horizon}")
            ),
            "inner",
        )
        .select(
            "user_id",
            F.unix_micros("view_ts").alias("view_ts_us"),
            F.unix_micros("click_ts").alias("click_ts_us"),
        )
    )


def streaming_view_click_join(
    spark: SparkSession,
    sf_dir: str,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """The real stream-stream form: two watermarked streams over the same
    source, inner-joined within the horizon.  Watermarks bound both join
    state stores; `watermark` is the lateness tolerance knob, same as the
    sibling streaming_* entry points."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
    )
    return view_click_join(views, clicks, horizon=horizon)


def dedup_events_stream(stream: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Streaming ingestion dedup — the exactly-once shape for an
    at-least-once source: drop re-deliveries of the same event_id arriving
    within the watermark.  State is one key per event_id seen in the
    watermark horizon and is evicted as the watermark advances — bounded
    memory at any rate (vs plain dropDuplicates on a stream, whose state
    grows forever).  Stream==batch equivalence over a duplicated source is
    pinned in tests/test_streaming.py."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def dedup_events_batch(events: DataFrame) -> DataFrame:
    """Batch form of ingestion dedup with deterministic output: one row
    per event_id with the duplicate count and the (unique) payload."""
    return events.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_deliveries"),
        F.unix_micros(F.min("ts")).alias("ts_us"),
        F.min("user_id").alias("user_id"),
        F.min("event_type").alias("event_type"),
        F.min("value").alias("value"),
    )


# --------------------------------------------------------------------------
# Query registry (batch forms — semantics identical to streaming)
# --------------------------------------------------------------------------


def q_event_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup(load_table(spark, sf_dir, "events"))


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_sessions(load_table(spark, sf_dir, "events"))


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion dedup over a simulated at-least-once feed: events unioned
    with a deterministic 10% re-delivery of themselves, then deduped per
    event_id.  The streaming twin (dropDuplicatesWithinWatermark) is
    equivalence-tested in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    redelivered = ev.filter(F.col("event_id") % 10 == 0)
    return dedup_events_batch(ev.unionByName(redelivered))


def q_event_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_rollup(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


def q_event_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_rollup(load_table(spark, sf_dir, "events"))


def q_event_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return view_click_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "event_hourly_rollup": q_event_hourly,
    "event_user_sessions": q_event_sessions,
    "event_dedup": q_event_dedup,
    "event_segment_rollup": q_event_segment_rollup,
    "event_sliding_rollup": q_event_sliding_rollup,
    "event_view_click_join": q_event_view_click_join,
}

ORACLES: dict[str, str] = {
    "event_dedup": """
        WITH feed AS (
            SELECT * FROM events
            UNION ALL
            SELECT * FROM events WHERE event_id % 10 = 0
        )
        SELECT event_id,
               COUNT(*) AS n_deliveries,
               epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS ts_us,
               MIN(user_id) AS user_id,
               MIN(event_type) AS event_type,
               MIN(value) AS value
        FROM feed
        GROUP BY event_id
    """,
    "event_segment_rollup": """
        SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(e.ts AS TIMESTAMP))) AS window_start_us,
               c.c_mktsegment AS segment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    "event_hourly_rollup": """
        SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "event_view_click_join": """
        WITH v AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts
            FROM events WHERE event_type = 'view'
        ), c AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT v.user_id,
               epoch_us(view_ts) AS view_ts_us,
               epoch_us(click_ts) AS click_ts_us
        FROM v JOIN c ON v.user_id = c.user_id
        WHERE click_ts >= view_ts
          AND click_ts <= view_ts + INTERVAL '1 hour'
    """,
    # Sliding 10-min windows hopping by 5 min: an event at t belongs to the
    # windows starting at bucket5(t) and bucket5(t) − 5 min — exactly
    # F.window(ts, '10 minutes', '5 minutes')'s epoch-aligned window set.
    "event_sliding_rollup": """
        SELECT epoch_us(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                        - k * INTERVAL '5 minutes') AS window_start_us,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events, unnest([0, 1]) AS offs(k)
        GROUP BY 1, 2
    """,
    # Session windows via gaps-and-islands — exactly F.session_window's
    # merge semantics (new session when gap > 30 min).
    "event_user_sessions": """
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        ), flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '30 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM ev
        ), sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               epoch_us(MIN(ts)) AS session_start_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
}
