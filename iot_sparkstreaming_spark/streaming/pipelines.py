"""The reference's streaming pipelines as Structured Streaming
transforms — plus the watermark/window operators the reference lacked.

Every transform is a pure ``DataFrame → DataFrame`` function: the
SAME code runs on a batch frame (unit tests, backfills) and a
``readStream`` frame (production) — Spark's batch/stream unification
replaces the reference's DStream-only formulation.

Reference mapping (SURVEY.md §2.5):
* pipeline 1 → :func:`warning_pipeline`  (workingTest.scala:110-148)
* pipeline 2 → :func:`activity_pipeline` (workingTest.scala:150-208)
* pipeline 3 → parse + KeyedUpsertSink   (workingTest.scala:55-75)
* pipeline 4 → :func:`userhistory_rows` / :func:`latest_location_rows`
               + sinks (workingTest.scala:211-244)
New (absent from the reference, SURVEY.md §2.8): event-time tumbling
windows with watermarked late-data handling, session windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from iot_sparkstreaming_spark.functions.health import (
    DEFAULT_THRESHOLD,
    WARN_NONE,
    classify_warning,
    tuple_string,
)

# ---------------------------------------------------------------------------
# Pipeline 1: warning notification
# ---------------------------------------------------------------------------


def warning_pipeline(
    fitbit: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> DataFrame:
    """fitbit records → (user_id, warning, machine_timestamp, payload).

    The reference emitted Scala-tuple strings to topic
    ``warningNotification`` (workingTest.scala:131-148); ``payload``
    reproduces that byte format. θ defaults to 0.95
    (workingTest.scala:126) but is a parameter because test.scala:130
    shipped 0.85 — both reference behaviors are reachable."""
    classified = fitbit.withColumn(
        "warning",
        classify_warning(col("pulse"), col("age"), col("bp_cat"), threshold),
    )
    return classified.filter(col("warning") != WARN_NONE).select(
        "user_id",
        "warning",
        "machine_timestamp",
        tuple_string(col("user_id"), col("warning"), col("machine_timestamp")).alias(
            "payload"
        ),
    )


# ---------------------------------------------------------------------------
# Pipeline 2: user activity category (stream-static join)
# ---------------------------------------------------------------------------


def activity_pipeline(
    fitbit: DataFrame,
    user_details: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Warnings joined to the static user_details dimension on
    user_id (inner → unknown users drop, like the reference's
    ``joinWithCassandraTable`` — workingTest.scala:183-187).

    Stream-static inner equi-join: no watermark needed, and Spark
    broadcasts the dimension per micro-batch — the shuffle-free
    equivalent of the connector's point lookups."""
    warnings = fitbit.withColumn(
        "warning",
        classify_warning(col("pulse"), col("age"), col("bp_cat"), threshold),
    ).filter(col("warning") != WARN_NONE)
    dim = F.broadcast(user_details.select("user_id", "category"))
    return warnings.join(dim, "user_id", "inner").select(
        "user_id",
        "machine_timestamp",
        "category",
        tuple_string(col("user_id"), col("machine_timestamp"), col("category")).alias(
            "payload"
        ),
    )


# ---------------------------------------------------------------------------
# Pipeline 4: telemetry persistence row shapes
# ---------------------------------------------------------------------------


def userhistory_rows(fitbit: DataFrame) -> DataFrame:
    """fitbit → userhistory-shaped rows: date + epoch-millis-string
    time (the reference's exact string transforms,
    workingTest.scala:215-223), rounded pulse kept as double telemetry.
    Feed to AppendDedupSink keyed (user_id, date, time)."""
    ts = F.to_timestamp(col("event_datetime"), "yyyy-MM-dd HH:mm:ss")
    return fitbit.select(
        "user_id",
        F.date_format(ts, "yyyy-MM-dd").alias("date"),
        F.unix_millis(ts).cast("string").alias("time"),
        "lat",
        "long",
        "pulse",
        "temp",
    )


def latest_location_rows(fitbit: DataFrame) -> DataFrame:
    """fitbit → latest_location candidate rows (K2). Feed to
    KeyedUpsertSink(keys=[user_id], order_by=[event_ts, ...]) — the
    event-time ordering is the fix for the reference's arrival-order
    bug (SURVEY.md §2.8 late-data note)."""
    return fitbit.select(
        "user_id",
        F.to_timestamp(col("event_datetime"), "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "lat",
        "long",
    )


# ---------------------------------------------------------------------------
# New operators: event-time windows + watermarks, session windows
# ---------------------------------------------------------------------------


def windowed_pulse_stats(
    fitbit: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-user tumbling-window pulse aggregates with a watermark:
    rows later than the watermark are dropped instead of silently
    corrupting state — the late-data handling the reference lacked
    entirely (SURVEY.md §2.8). In streaming append mode a window
    finalizes once the watermark passes its end."""
    ts = F.to_timestamp(col("event_datetime"), "yyyy-MM-dd HH:mm:ss")
    return (
        fitbit.withColumn("event_ts", ts)
        .withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window_duration).alias("win"), col("user_id"))
        .agg(
            F.count("*").alias("n_readings"),
            F.min("pulse").alias("min_pulse"),
            F.max("pulse").alias("max_pulse"),
            F.sum(col("pulse").cast("decimal(38,4)")).cast("double").alias("sum_pulse"),
        )
        .select(
            col("win.start").alias("window_start"),
            col("win.end").alias("window_end"),
            "user_id",
            "n_readings",
            "min_pulse",
            "max_pulse",
            "sum_pulse",
        )
    )


def session_activity(
    fitbit: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation (gap-based) — the streaming twin of
    queries/analytics.py:sessionize_events, via Spark's native
    ``session_window`` with watermarked state eviction."""
    ts = F.to_timestamp(col("event_datetime"), "yyyy-MM-dd HH:mm:ss")
    return (
        fitbit.withColumn("event_ts", ts)
        .withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("win"), col("user_id"))
        .agg(F.count("*").alias("n_readings"))
        .select(
            col("win.start").alias("session_start"),
            col("win.end").alias("session_end"),
            "user_id",
            "n_readings",
        )
    )


def session_window_events_stream(
    events: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``queries/analytics.py:session_window_events``
    — the SAME built-in ``session_window`` aggregation over the raw
    events shape (user_id, ts), with the watermark bounding session
    state. Append mode (the only output mode session windows support)
    emits each session exactly once, when the watermark passes its
    close — so the emitted set is precisely the batch query's rows
    restricted to watermark-closed sessions, which is what the
    split-feed parity and kill/restart tests in
    tests/test_stateful.py pin.

    Event time is ms-floored through the identical
    ``timestamp_millis ∘ unix_millis`` the batch member applies, so a
    session merges/breaks on exactly the same millisecond gaps on
    both rails, and the output columns (formatted start/end strings,
    bigint count) are byte-identical to the batch projection.

    Scale shape: state per key is one (start, end, count) triple per
    OPEN session — eviction is the watermark, so state size is
    active-users × open-sessions, not history. The shuffle key is
    user_id, the same single exchange as the batch plan.
    """
    from iot_sparkstreaming_spark.queries.analytics import SESSION_GAP_MS

    ev = events.withColumn(
        "ts_ms", F.timestamp_millis(F.unix_millis(col("ts")))
    )
    sw = F.session_window(col("ts_ms"), f"{SESSION_GAP_MS // 1000} seconds")
    return (
        ev.withWatermark("ts_ms", watermark)
        .groupBy("user_id", sw.alias("sw"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (absent category: the reference only had
# stream-static J1)
# ---------------------------------------------------------------------------


def click_purchase_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matches the
    clicks of the SAME user in the preceding ``within`` interval.

    Both sides carry event-time watermarks plus the time-range join
    condition, which is what lets Spark BOUND the join state: click
    rows older than (watermark + within) are evicted, so state size
    is input-rate × window, not unbounded history. Without the range
    condition the state would grow forever — the difference between
    a demo and an operator that survives a month of uptime.

    Columns in: (user_id, ts) on both sides. Out: one row per
    qualifying (click, purchase) pair.
    """
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    return c.join(
        p,
        (col("c.user_id") == col("p.user_id"))
        & (col("p.ts") >= col("c.ts"))
        & (col("p.ts") <= col("c.ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        col("c.user_id").alias("user_id"),
        col("c.ts").alias("click_ts"),
        col("p.ts").alias("purchase_ts"),
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once cleanup of an at-least-once stream: drop replayed
    events by ``event_id`` using ``dropDuplicatesWithinWatermark`` —
    the streaming twin of the dedup family's batch distinct, and the
    step every Kafka-at-least-once ingest needs before keyed sinks.

    WithinWatermark (Spark 3.5+) is the 100-TB-correct variant: plain
    streaming ``dropDuplicates`` keeps every key seen FOREVER (state
    grows with the stream), while this expires state once the
    watermark passes an id's event time — state is bounded by the
    duplicate-arrival horizon, which is what at-least-once delivery
    actually guarantees. Duplicates arriving inside the horizon are
    dropped even when their timestamps differ slightly (retries
    re-stamp); the first arrival wins.

    Input: any frame with ``event_id`` and event-time ``ts``."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_calibration_bins(events: DataFrame) -> DataFrame:
    """The reliability/calibration curve as an INCREMENTALLY MAINTAINED
    streaming aggregation — the streaming twin of the batch
    ``calibration_bins_events`` query (queries/analytics.py). Because
    the per-bin statistics are decomposable (COUNT and SUM combine
    map-side and across micro-batches), the twin needs NO custom state
    operator: Spark's built-in streaming aggregation over the bin key
    IS the maintenance loop, with state bounded at the fixed bin count
    regardless of stream length — the cheapest possible stateful shape,
    in contrast to the deque-state twins (Theil-Sen, Holt-Winters)
    whose batch queries re-anchor on a sliding window.

    Bucketing is the shared :func:`~iot_sparkstreaming_spark.queries.
    analytics.calibration_score` (identical clamp + indicator), and the
    final report assembles via the shared ``calibration_finish`` on the
    bin-count table the sink holds — so twin parity with the batch
    query is bitwise by construction AND order-independent: counts
    commute, so any partitioning of the feed into micro-batches (or a
    kill/restart from the checkpoint) yields the identical final table
    (pinned by tests/test_streaming.py).

    Run in ``complete`` (or ``update``) output mode; downstream,
    ``calibration_finish`` turns the final counts into rates and lift.
    """
    from iot_sparkstreaming_spark.queries.analytics import calibration_score

    return (
        calibration_score(events)
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("pos").alias("n_pos"))
    )
