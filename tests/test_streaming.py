"""Streaming-layer tests: CSV record parsing, pipeline golden
outputs (byte-format payloads, threshold boundaries), end-to-end
Structured Streaming runs (file source → memory sink), and the
Cassandra-semantics sinks (out-of-order, replay idempotence, PK
dedup) — the test layers SURVEY.md §5 planned."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from iot_sparkstreaming_spark.io.sources import parse_csv_records
from iot_sparkstreaming_spark.schemas import (
    FITBIT_SCHEMA,
    NEW_USER_SCHEMA,
    SALES_SCHEMA,
)
from iot_sparkstreaming_spark.streaming.pipelines import (
    activity_pipeline,
    latest_location_rows,
    session_activity,
    userhistory_rows,
    warning_pipeline,
    windowed_pulse_stats,
)
from iot_sparkstreaming_spark.streaming.sinks import AppendDedupSink, KeyedUpsertSink

# fitbit CSV: tag, datetime, user, lat, long, pulse, temp, age, bp_cat, machine_ts
FITBIT_LINES = [
    # age 30 → maxHR 190, θ·maxHR = 180.5
    "fitbit,2016-11-07 10:00:00,u1, 12.97 ,77.59,180.5,98.6,30,HYP_1,1478512345000",  # critical (>= boundary)
    "fitbit,2016-11-07 10:00:05,u2,12.00,77.00,180.5,98.6,30,NORMAL,1478512346000",  # simple
    "fitbit,2016-11-07 10:00:10,u3,12.00,77.00,180.4,98.6,30,HYP_CR,1478512347000",  # no-use (below)
    # age 40 → maxHR 178 (second branch), θ·maxHR = 169.1
    "fitbit,2016-11-07 10:00:15,u4,12.00,77.00,169.1,99.1,40,HYP_2,1478512348000",  # critical
    # age 39 → maxHR 181 (first branch), θ·maxHR = 171.95
    "fitbit,2016-11-07 10:00:20,u5,12.00,77.00,171.0,99.1,39,HYP_2,1478512349000",  # no-use
    "sales,2016-11-07,12",  # other-topic noise must be filtered out
]

NEW_USER_LINES = [
    "new-user-notification,34,M,active,82.5,180.0,25.4,18.2,NORMAL,120.0,80.0,u1,d1",
    "new-user-notification, 45 ,F,sedentary,60.0,165.0,22.0,25.0,HYP_1,140.0,90.0,u2,d2",
]

SALES_LINES = ["sales,2016-11-07,12", "sales,2016-11-08,90", "fitbit,x,y"]


@pytest.fixture()
def fitbit_df(spark):
    lines = spark.createDataFrame([(l,) for l in FITBIT_LINES], ["value"])
    return parse_csv_records(lines, FITBIT_SCHEMA, "fitbit")


def test_parse_fitbit_trims_and_casts(fitbit_df):
    rows = {r.user_id: r for r in fitbit_df.collect()}
    assert set(rows) == {"u1", "u2", "u3", "u4", "u5"}
    assert rows["u1"].lat == "12.97"  # trimmed, kept as text (DDL fidelity)
    assert rows["u1"].pulse == 180.5 and isinstance(rows["u1"].pulse, float)
    assert rows["u1"].age == 30


def test_parse_new_user(spark):
    lines = spark.createDataFrame([(l,) for l in NEW_USER_LINES], ["value"])
    df = parse_csv_records(lines, NEW_USER_SCHEMA, "new-user-notification")
    rows = {r.user_id: r for r in df.collect()}
    assert rows["u2"].age == 45 and rows["u2"].category == "sedentary"
    assert rows["u1"].weight == 82.5


def test_parse_sales(spark):
    lines = spark.createDataFrame([(l,) for l in SALES_LINES], ["value"])
    df = parse_csv_records(lines, SALES_SCHEMA, "sales")
    assert {(r.date, r["count"]) for r in df.collect()} == {
        ("2016-11-07", 12),
        ("2016-11-08", 90),
    }


def test_warning_pipeline_golden(fitbit_df):
    """Boundary semantics: >= at θ·maxHR, age<40 breakpoint, HYP_*
    membership, and the Scala-tuple payload byte format."""
    out = {r.user_id: r for r in warning_pipeline(fitbit_df).collect()}
    assert set(out) == {"u1", "u2", "u4"}  # u3/u5 below threshold
    assert out["u1"].warning == "critical"
    assert out["u2"].warning == "simple"  # hot but NORMAL bp
    assert out["u4"].warning == "critical"  # age-40 second branch
    assert out["u1"].payload == "(u1,critical,1478512345000)"


def test_warning_pipeline_threshold_param(fitbit_df):
    """test.scala:130 shipped θ=0.85 — the parameter reproduces it:
    u5 (pulse 171, θ·maxHR = 153.85) becomes critical."""
    out = {r.user_id: r for r in warning_pipeline(fitbit_df, threshold=0.85).collect()}
    assert "u5" in out and out["u5"].warning == "critical"


def test_activity_pipeline_inner_join_drops_unknown(spark, fitbit_df):
    user_details = spark.createDataFrame(
        [("u1", "active"), ("u4", "sedentary")], ["user_id", "category"]
    )
    out = {r.user_id: r for r in activity_pipeline(fitbit_df, user_details).collect()}
    assert set(out) == {"u1", "u4"}  # u2 has no dimension row → dropped
    assert out["u1"].payload == "(u1,1478512345000,active)"


def test_streaming_end_to_end_file_to_memory(spark, tmp_path):
    """File source → parse → warning pipeline → memory sink: the same
    transform that passed batch golden tests, run as a stream."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch0.txt").write_text("\n".join(FITBIT_LINES) + "\n")
    lines = spark.readStream.format("text").load(str(src))
    out = warning_pipeline(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    q = (
        out.writeStream.format("memory")
        .queryName("warnings_e2e")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.user_id: r.payload for r in spark.sql("SELECT * FROM warnings_e2e").collect()
        }
    finally:
        q.stop()
    assert got == {
        "u1": "(u1,critical,1478512345000)",
        "u2": "(u2,simple,1478512346000)",
        "u4": "(u4,critical,1478512348000)",
    }


def test_payload_writer_file_edge_end_to_end(spark, tmp_path):
    """K5 producer edge through the sink BUILDER (io/sinks.py): file
    source → warning pipeline → payload_writer(files) — the same
    builder whose kafka branch is the production path. The published
    lines must be the exact Scala-tuple byte format."""
    from iot_sparkstreaming_spark.io.sinks import payload_writer

    src = tmp_path / "in"
    src.mkdir()
    (src / "batch0.txt").write_text("\n".join(FITBIT_LINES) + "\n")
    out_dir = tmp_path / "out"
    lines = spark.readStream.format("text").load(str(src))
    out = warning_pipeline(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    q = (
        payload_writer(
            out,
            sink="files",
            path=str(out_dir),
            checkpoint=str(tmp_path / "ckpt"),
        )
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.value for r in spark.read.text(str(out_dir)).collect()}
    assert got == {
        "(u1,critical,1478512345000)",
        "(u2,simple,1478512346000)",
        "(u4,critical,1478512348000)",
    }


def test_payload_writer_kafka_branch_builds(spark):
    """The kafka branch must BUILD (format/options wired) — no broker
    exists in the container, so .start() is not attempted; config
    validation errors would surface at build time."""
    from iot_sparkstreaming_spark.io.sinks import payload_writer

    stream = spark.readStream.format("rate").load().select(
        F.col("value").cast("string").alias("payload"),
        F.col("value").cast("string").alias("user_id"),
    )
    w = payload_writer(
        stream,
        sink="kafka",
        key_col="user_id",
        topic="warningNotification",
        kafka_bootstrap="localhost:9092",
    )
    assert w is not None


def test_keyed_upsert_out_of_order_and_replay(spark, tmp_path, fitbit_df):
    """K2 fix: state keyed by event time, not arrival order — a LATE
    row arriving in a later batch must NOT overwrite newer state; and
    replaying a batch must be a no-op (idempotence)."""
    sink = KeyedUpsertSink(
        str(tmp_path / "latest_location"),
        keys=["user_id"],
        order_by=["event_ts"],
    )
    rows = latest_location_rows(fitbit_df)
    newer = rows.filter(F.col("user_id") == "u1")  # ts 10:00:00
    late = newer.withColumn(
        "event_ts", F.col("event_ts") - F.expr("INTERVAL 1 HOUR")
    ).withColumn("lat", F.lit("0.0"))

    sink(newer, 0)
    sink(late, 1)  # late arrival in a later batch
    state = {r.user_id: r for r in sink.read_state(spark).collect()}
    assert state["u1"].lat == "12.97"  # newer event time won

    sink(newer, 0)  # replay
    state2 = sink.read_state(spark).collect()
    assert len(state2) == 1 and state2[0].lat == "12.97"


def test_append_dedup_pk(spark, tmp_path, fitbit_df):
    """K3: identical (user_id, date, time) collapses to one row —
    within a batch and across batches."""
    sink = AppendDedupSink(
        str(tmp_path / "userhistory"), keys=["user_id", "date", "time"]
    )
    hist = userhistory_rows(fitbit_df)
    doubled = hist.unionByName(hist)
    sink(doubled, 0)
    assert sink.read_state(spark).count() == hist.count()
    sink(hist, 1)  # replay entire content
    assert sink.read_state(spark).count() == hist.count()


_TIE_SCHEMA = "user_id STRING, event_ts TIMESTAMP, lat DOUBLE"


def _tie_rows(spark, *lats, partitions=1):
    ts = datetime.datetime(2024, 1, 1)
    rdd = spark.sparkContext.parallelize([("u1", ts, lat) for lat in lats], partitions)
    return spark.createDataFrame(rdd, _TIE_SCHEMA)


def test_keyed_upsert_tie_does_not_depend_on_arrival(spark, tmp_path):
    """Two rows of one key with the same event time, fed as two
    one-row batches in either order, leave the same winner."""
    winners = []
    for order in ((1.0, 2.0), (2.0, 1.0)):
        sink = KeyedUpsertSink(str(tmp_path / f"ll_{order[0]}"), ["user_id"], ["event_ts"])
        for i, lat in enumerate(order):
            sink(_tie_rows(spark, lat), i)
        winners.append([tuple(r) for r in sink.read_state(spark).collect()])
    assert len(winners[0]) == 1 and winners[0] == winners[1]


def test_append_dedup_tie_does_not_depend_on_arrival(spark, tmp_path):
    """Two rows of one key with different payloads in one batch, spread
    over two input partitions in either order, keep the same row."""
    kept = []
    for order in ((1.0, 2.0), (2.0, 1.0)):
        sink = AppendDedupSink(str(tmp_path / f"uh_{order[0]}"), ["user_id", "event_ts"])
        sink(_tie_rows(spark, *order, partitions=2), 0)
        kept.append([tuple(r) for r in sink.read_state(spark).collect()])
    assert len(kept[0]) == 1 and kept[0] == kept[1]


def test_sink_rejects_rows_of_another_schema(spark, tmp_path):
    """The state schema is read once per sink; a batch whose columns
    differ from the stored table fails instead of being merged."""
    sink = KeyedUpsertSink(str(tmp_path / "ll"), ["user_id"], ["event_ts"])
    sink(_tie_rows(spark, 1.0), 0)
    with pytest.raises(ValueError, match="holds"):
        sink(_tie_rows(spark, 2.0).withColumn("lat", F.col("lat").cast("string")), 1)


def test_keyed_upsert_replay_after_crash_between_renames(spark, tmp_path, monkeypatch):
    """A crash after the state dir is renamed aside and before the new
    table takes its place loses no state: a new sink object replaying
    the batch merges it into the stored table, and no sibling dir of
    the sink is left behind."""
    from iot_sparkstreaming_spark.streaming import sinks

    state = str(tmp_path / "ll")
    ts = datetime.datetime(2024, 1, 1)

    def rows(*users):
        return spark.createDataFrame([(u, ts, 1.0) for u in users], _TIE_SCHEMA)

    KeyedUpsertSink(state, ["user_id"], ["event_ts"])(rows("u1", "u2"), 0)

    def crash(src, dst):
        raise OSError("crash between the renames")

    with monkeypatch.context() as m:
        m.setattr(sinks.os, "replace", crash)
        with pytest.raises(OSError, match="crash between the renames"):
            KeyedUpsertSink(state, ["user_id"], ["event_ts"])(rows("u3"), 1)

    sink = KeyedUpsertSink(state, ["user_id"], ["event_ts"])
    sink(rows("u3"), 1)
    users = sorted(r.user_id for r in sink.read_state(spark).collect())
    assert users == ["u1", "u2", "u3"]
    assert os.listdir(tmp_path) == ["ll"]


def test_windowed_pulse_stats_stream(spark, tmp_path):
    """Tumbling window + watermark as a real stream (update mode)."""
    src = tmp_path / "win_in"
    src.mkdir()
    (src / "b0.txt").write_text("\n".join(FITBIT_LINES) + "\n")
    lines = spark.readStream.format("text").load(str(src))
    stats = windowed_pulse_stats(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    q = (
        stats.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM win_stats").collect()
    finally:
        q.stop()
    # all 5 fitbit rows fall in the 10:00 minute, one row per user
    assert len(rows) == 5
    assert all(r.n_readings == 1 for r in rows)
    assert {str(r.window_start) for r in rows} == {"2016-11-07 10:00:00"}


def test_session_window_stream(spark, tmp_path):
    """Native session_window aggregation as a stream (append mode —
    the only mode session windows support). A session only emits once
    the watermark passes its close, so a second batch far in the
    future flushes the first five."""
    src = tmp_path / "sess_in"
    src.mkdir()
    (src / "b0.txt").write_text("\n".join(FITBIT_LINES) + "\n")
    lines = spark.readStream.format("text").load(str(src))
    sessions = session_activity(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sessions").count() == 0  # watermark at epoch
        (src / "b1.txt").write_text(
            "fitbit,2016-11-07 20:00:00,u9,1,1,100.0,98.0,30,NORMAL,t\n"
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sessions").collect()
    finally:
        q.stop()
    # the 5 original sessions finalized; u9's session still open
    assert len(rows) == 5
    assert all(r.n_readings == 1 for r in rows)
    assert "u9" not in {r.user_id for r in rows}


def test_watermark_drops_late_rows_in_append(spark, tmp_path):
    """The watermark contract, both directions: a finalized window
    emits exactly once, and a row arriving LATER than the watermark is
    dropped — it must neither re-emit the window nor change its
    counts. (The reference had no late-data handling at all:
    SURVEY.md §2.8 — late rows silently corrupted state.)"""
    src = tmp_path / "late_in"
    src.mkdir()
    (src / "b0.txt").write_text("\n".join(FITBIT_LINES) + "\n")
    lines = spark.readStream.format("text").load(str(src))
    stats = windowed_pulse_stats(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    q = (
        stats.writeStream.format("memory")
        .queryName("late_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    try:
        # advance the watermark far past the 10:00 window -> finalizes it
        (src / "b1.txt").write_text(
            "fitbit,2016-11-07 11:00:00,u9,1,1,100.0,98.0,30,NORMAL,t\n"
        )
        q.processAllAvailable()
        emitted = spark.sql(
            "SELECT user_id, n_readings FROM late_stats"
            " WHERE window_start = '2016-11-07 10:00:00'"
        ).collect()
        assert {r.user_id for r in emitted} == {"u1", "u2", "u3", "u4", "u5"}
        assert all(r.n_readings == 1 for r in emitted)
        # u1 again at 10:00:30 — behind the watermark (~10:58): dropped
        (src / "b2.txt").write_text(
            "fitbit,2016-11-07 10:00:30,u1,1,1,150.0,98.0,30,NORMAL,t\n"
        )
        q.processAllAvailable()
        after = spark.sql(
            "SELECT user_id, n_readings FROM late_stats"
            " WHERE window_start = '2016-11-07 10:00:00'"
        ).collect()
    finally:
        q.stop()
    # no re-emit, no count change: the late row vanished by contract
    assert sorted((r.user_id, r.n_readings) for r in after) == sorted(
        (r.user_id, r.n_readings) for r in emitted
    )


def test_checkpoint_restart_resumes(spark, tmp_path):
    """Stop a stream, add data, restart with the same checkpoint —
    the new run must pick up only the new file (offset recovery)."""
    src = tmp_path / "restart_in"
    src.mkdir()
    ckpt = str(tmp_path / "restart_ckpt")
    (src / "b0.txt").write_text(FITBIT_LINES[0] + "\n")

    seen: list[tuple[int, str]] = []

    def start():
        lines = spark.readStream.format("text").load(str(src))
        out = warning_pipeline(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
        return (
            out.writeStream.foreachBatch(
                lambda b, bid: seen.extend((bid, r.user_id) for r in b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [u for _, u in seen] == ["u1"]
    (src / "b1.txt").write_text(FITBIT_LINES[1] + "\n")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # post-restart run processed ONLY the new file: offset recovery
    assert [u for _, u in seen] == ["u1", "u2"]


def test_checkpoints_commit_through_filesystem_manager(spark, tmp_path):
    """The engine session commits checkpoint files through
    ``FileSystemBasedCheckpointFileManager``, whose rename forks no
    ``readlink`` process, and keeps the state store's checkpoint
    checksums on: the speed-up is not bought by dropping them."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: purchases match same-user
    clicks within the interval; outside-window and cross-user pairs
    don't."""
    from iot_sparkstreaming_spark.streaming.pipelines import (
        click_purchase_stream_join,
    )

    clicks_dir, purch_dir = tmp_path / "clicks", tmp_path / "purchases"
    clicks_dir.mkdir(), purch_dir.mkdir()
    (clicks_dir / "b0.txt").write_text(
        "u1,2024-01-01 10:00:00\nu1,2024-01-01 07:00:00\nu2,2024-01-01 10:05:00\n"
    )
    (purch_dir / "b0.txt").write_text("u1,2024-01-01 10:30:00\n")

    def parse(lines):
        p = F.split(F.col("value"), ",")
        return lines.select(
            F.element_at(p, 1).alias("user_id"),
            F.element_at(p, 2).cast("timestamp").alias("ts"),
        )

    clicks = parse(spark.readStream.format("text").load(str(clicks_dir)))
    purchases = parse(spark.readStream.format("text").load(str(purch_dir)))
    out = click_purchase_stream_join(clicks, purchases, within="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("cp_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM cp_join").collect()
    finally:
        q.stop()
    # only u1's 10:00 click is within 1h of the 10:30 purchase;
    # the 07:00 click is outside the window, u2 never purchased
    assert [(r.user_id, str(r.click_ts), str(r.purchase_ts)) for r in rows] == [
        ("u1", "2024-01-01 10:00:00", "2024-01-01 10:30:00")
    ]


def test_streaming_throughput_headroom(spark, tmp_path):
    """BASELINE.md's one hard number: per-trigger processing must stay
    under the 1 s trigger at fixture rates (~hundreds of rows/s). We
    push a 10,000-row micro-batch — ≥10× a second of fixture traffic —
    through the full parse→classify→format pipeline and read Spark's
    own triggerExecution measurement, requiring comfortable headroom
    rather than a knife-edge bound (shared CI hardware)."""
    import time

    src = tmp_path / "in"
    src.mkdir()
    lines = "\n".join(
        f"fitbit,2016-11-07 10:00:{i % 60:02d},u{i % 500},12.9,77.5,"
        f"{100 + (i % 90)}.4,98.6,{20 + i % 60},HYP_1,{1478512345000 + i}"
        for i in range(10_000)
    )
    (src / "b0.txt").write_text(lines + "\n")
    stream = warning_pipeline(
        parse_csv_records(
            spark.readStream.format("text").load(str(src)), FITBIT_SCHEMA, "fitbit"
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("throughput_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        deadline = time.time() + 10
        while q.lastProgress is None and time.time() < deadline:
            time.sleep(0.2)
        progress = q.lastProgress
        n_out = spark.sql("SELECT count(*) c FROM throughput_smoke").collect()[0].c
    finally:
        q.stop()
    assert n_out > 0
    assert progress is not None
    # 10x one second of fixture traffic must clear in < 5 s of
    # processing — an order of magnitude of headroom on the 1 s target.
    assert progress["durationMs"]["triggerExecution"] < 5_000, progress


def test_bad_record_path_quarantines_malformed_lines(spark):
    """The reference died on a malformed line (no bad-record path,
    SURVEY §1.2); the permissive parser must route wrong-arity and
    uncastable records to the reject side with a reason, and parse the
    good ones identically to the strict parser."""
    from iot_sparkstreaming_spark.io.sources import parse_csv_records_with_rejects

    lines = spark.createDataFrame(
        [
            (FITBIT_LINES[0],),                       # good
            ("fitbit,only,three",),                   # wrong arity
            (FITBIT_LINES[1].replace("77.59", "notanumber").replace(
                "98.2", "98.2") ,),                   # still 10 fields, lat is str → fine
            ("fitbit,2016-11-07 10:00:03,u9,12.9,77.5,NOTAPULSE,98.6,30,NORMAL,1478512348000",),
            ("sales,2016-11-07,5",),                  # other tag: ignored entirely
        ],
        ["value"],
    )
    good, rejects = parse_csv_records_with_rejects(lines, FITBIT_SCHEMA, "fitbit")
    got_good = {r.user_id for r in good.collect()}
    got_rejects = {(r.raw_line.split(",")[1], r.reason) for r in rejects.collect()}
    assert "u9" not in got_good and len(got_good) == 2
    assert got_rejects == {
        ("only", "field_count:3"),
        ("2016-11-07 10:00:03", "cast_failure"),
    }


def test_observe_metrics_ride_the_pipeline(spark, tmp_path):
    """df.observe(): pipeline health metrics (rows seen, warnings
    emitted, max pulse) computed DURING the normal pass — no second
    scan, no collect of the data itself. The production shape for
    monitoring a 100 TB job without re-reading it."""
    from pyspark.sql import Observation

    obs = Observation("warning_metrics")
    parsed = parse_csv_records(
        spark.createDataFrame([(l,) for l in FITBIT_LINES], ["value"]),
        FITBIT_SCHEMA,
        "fitbit",
    )
    out = warning_pipeline(
        parsed.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.max("pulse").alias("max_pulse"),
        )
    )
    n_out = out.count()
    got = obs.get
    assert got["rows_in"] == sum(1 for l in FITBIT_LINES if l.startswith("fitbit"))
    assert got["max_pulse"] >= 180.5
    assert 0 < n_out <= got["rows_in"]


def test_partitioned_streaming_sink(spark, tmp_path):
    """K3 (userhistory time-series append): the streaming parquet sink
    writes hive-partitioned by user — the layout whose directory
    pruning makes per-user history reads skip every other user's data
    (SURVEY §1.1: PK ((user_id), date, time))."""
    import glob

    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.txt").write_text("\n".join(FITBIT_LINES) + "\n")
    rows = userhistory_rows(
        parse_csv_records(
            spark.readStream.format("text").load(str(src)), FITBIT_SCHEMA, "fitbit"
        )
    )
    out_dir = str(tmp_path / "userhistory")
    q = (
        rows.writeStream.format("parquet")
        .option("path", out_dir)
        .partitionBy("user_id")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    part_dirs = sorted(
        d.split("user_id=")[1] for d in glob.glob(f"{out_dir}/user_id=*")
    )
    assert part_dirs == ["u1", "u2", "u3", "u4", "u5"]
    back = spark.read.parquet(out_dir)
    assert back.count() == 5
    # partition pruning: a single-user read lists only that directory
    from iot_sparkstreaming_spark.io.bucketing import explain_str

    plan = explain_str(back.filter(F.col("user_id") == "u3"))
    assert "PartitionFilters" in plan


def test_rate_source_drives_pipeline(spark, tmp_path):
    """The rate source (broker-free load generator): synthesize
    fitbit-shaped CSV lines from the rolling counter and run them
    through the real parse + warning pipeline — the load-testing edge
    for environments without Kafka."""
    lines = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .selectExpr(
            "concat('fitbit,2016-11-07 10:00:00,u', CAST(value % 50 AS STRING),"
            "',12.9,77.5,', CAST(150 + value % 100 AS STRING),"
            "',98.6,30,HYP_1,', CAST(1478512345000 + value AS STRING)) AS value"
        )
    )
    out = warning_pipeline(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    q = (
        out.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) c FROM rate_smoke").collect()[0].c
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    # pulse >= 180.5 fires at age 30; counter values 150..249 → some fire
    assert n > 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: at-least-once upstreams redeliver
    — the stream-side dedup keeps the first (user_id, machine_ts)
    occurrence and drops redeliveries arriving within the watermark,
    with state evicted after it passes (bounded, unlike a global
    dropDuplicates whose state grows forever)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.txt").write_text(FITBIT_LINES[0] + "\n" + FITBIT_LINES[1] + "\n")
    parsed = parse_csv_records(
        spark.readStream.format("text").load(str(src)), FITBIT_SCHEMA, "fitbit"
    ).withColumn("event_ts", F.to_timestamp("event_datetime"))
    deduped = parsed.withWatermark("event_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "machine_timestamp"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 redelivers row 0 (same user + machine ts) — must drop
        (src / "b1.txt").write_text(FITBIT_LINES[0] + "\n")
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) c FROM dedup_stream").collect()[0].c
    finally:
        q.stop()
    assert n == 2  # u1 once, u2 once; the redelivery vanished


def test_streaming_corpus_ingest(spark, tmp_path):
    """Streaming corpus ingestion: documents arrive as a json file
    stream and flow through the SAME batch operators — quality screen
    (token count + top-unigram repetition cutoff), PII scrub, exact
    dedup across batches (dropDuplicatesWithinWatermark on the
    content hash) — into an append sink. The corpus pipeline is not
    batch-only: every map-side stage is a Column expression, so it
    lifts onto a stream unchanged."""
    import json as _json

    src = tmp_path / "docs_in"
    src.mkdir()
    good = "alpha beta gamma delta " * 10  # 40 tokens, low repetition
    repetitive = "spam " * 40  # top-unigram frac 1.0 → screened
    short = "tiny doc"  # under min tokens → screened
    rows = [
        {"doc_id": 1, "text": good + " reach me at a@b.io", "event_time": "2024-01-01T00:00:01"},
        {"doc_id": 2, "text": repetitive, "event_time": "2024-01-01T00:00:02"},
        {"doc_id": 3, "text": short, "event_time": "2024-01-01T00:00:03"},
    ]
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows))

    schema = "doc_id BIGINT, text STRING, event_time STRING"
    stream = spark.readStream.schema(schema).json(str(src))
    tk = F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z0-9]+)"), 1)
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(tk),
                lambda d: F.size(F.filter(tk, lambda t: t == d)),
            )
        ).cast("double")
        / F.size(tk)
    )
    cleaned = (
        stream.withColumn("ts", F.to_timestamp("event_time"))
        .withColumn("n_tokens", F.size(tk))
        .withColumn("top_frac", top_frac)
        .filter((F.col("n_tokens") >= 25) & (F.col("top_frac") <= 0.5))
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"), r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"
            ),
        )
        .withColumn("content_hash", F.md5(F.col("text")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    q = (
        cleaned.writeStream.format("memory")
        .queryName("corpus_ingest")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: an exact duplicate of doc 1 (same post-scrub text)
        # plus one fresh doc — only the fresh one lands
        rows2 = [
            {"doc_id": 4, "text": good + " reach me at a@b.io", "event_time": "2024-01-01T00:10:00"},
            {"doc_id": 5, "text": good + " fresh tail words here", "event_time": "2024-01-01T00:11:00"},
        ]
        (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows2))
        q.processAllAvailable()
        out = spark.sql(
            "SELECT doc_id, text FROM corpus_ingest ORDER BY doc_id"
        ).collect()
    finally:
        q.stop()
    assert [r.doc_id for r in out] == [1, 5]
    assert "<EMAIL>" in out[0].text and "@" not in out[0].text.replace("<EMAIL>", "")


def test_dedup_events_stream_drops_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark twin of the dedup family: an
    at-least-once feed (the same events file delivered twice, second
    delivery re-stamped slightly) must come out exactly once."""
    from iot_sparkstreaming_spark.streaming.pipelines import dedup_events_stream
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "value"
    )
    n_distinct = ev.count()
    src = tmp_path / "in"
    src.mkdir()
    ev.coalesce(1).write.parquet(str(src / "d0.parquet"))
    # replay: same ids, timestamps nudged 1s (a retry re-stamp) —
    # still inside the 1h dedup horizon
    ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")).coalesce(
        1
    ).write.parquet(str(src / "d1.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        dedup_events_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    out = spark.sql("SELECT event_id FROM dedup_stream").collect()
    assert len(out) == n_distinct
    assert len({r.event_id for r in out}) == n_distinct


def test_streaming_hll_distinct_matches_batch(spark, tmp_path):
    """Sketches on streams: hll_sketch_agg as a streaming aggregation
    (complete mode) must estimate EXACTLY what the batch aggregate
    estimates over the same data, even with the input split across
    micro-batches — HLL register merge is a commutative max, so the
    estimate is independent of arrival order and batch boundaries.
    This is the streaming half of hll_union_region_suppliers'
    pre-aggregated-rollup pattern."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_type"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))

    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        stream.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {r.event_type: r.est for r in spark.sql("SELECT * FROM hll_stream").collect()}
    want = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert got == want and len(got) == 5


def test_streaming_calibration_bins_twin_parity(spark, tmp_path):
    """The incrementally maintained calibration counts, assembled
    through the SHARED calibration_finish, must equal the batch
    calibration_bins_events query bitwise with the feed split across
    micro-batches — per-bin COUNT/SUM commute, so batch boundaries
    cannot show through. The split is by event_id parity (not time),
    so every bin receives rows from BOTH micro-batches."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import (
        calibration_bins_events,
        calibration_finish,
    )
    from iot_sparkstreaming_spark.streaming.pipelines import (
        streaming_calibration_bins,
    )
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_calibration_bins(stream)
        .writeStream.format("memory")
        .queryName("calib_twin")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM calib_twin").count()
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            str(src / "b1.parquet")
        )
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in calibration_finish(spark.table("calib_twin")).collect()
        )
    finally:
        q.stop()
    want = sorted(tuple(r) for r in calibration_bins_events(spark, sf_dir).collect())
    assert n_first > 0
    assert got == want


def test_streaming_calibration_bins_survives_restart(spark, tmp_path):
    """Kill the calibration stream between micro-batches and restart a
    NEW query from the same checkpoint: the state-store-recovered bin
    counts must absorb the second half and the final report must still
    equal the batch query bitwise — the incremental materialized view
    survives the restart exactly."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import (
        calibration_bins_events,
        calibration_finish,
    )
    from iot_sparkstreaming_spark.streaming.pipelines import (
        streaming_calibration_bins,
    )
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def start(name):
        stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
        return (
            streaming_calibration_bins(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    q = start("calib_r1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    q = start("calib_r2")
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in calibration_finish(spark.table("calib_r2")).collect()
        )
    finally:
        q.stop()
    want = sorted(tuple(r) for r in calibration_bins_events(spark, sf_dir).collect())
    assert got == want
