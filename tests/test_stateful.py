"""applyInPandasWithState operators: cross-micro-batch state.

Each test writes the second input file only after the first batch is
fully processed, so state carry-over across micro-batches (the whole
point of the state store) is what's being proven — not within-batch
arithmetic.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from iot_sparkstreaming_spark.streaming import stateful
from iot_sparkstreaming_spark.streaming.stateful import (
    stateful_latest_location,
    warning_streaks,
)


def _lines_stream(spark, src_dir):
    return spark.readStream.format("text").load(str(src_dir))


def _parse_warnings(lines):
    p = F.split(F.col("value"), ",")
    return lines.select(
        F.element_at(p, 1).alias("user_id"),
        F.element_at(p, 2).alias("warning"),
        F.element_at(p, 3).alias("machine_timestamp"),
    )


def test_warning_streak_survives_batch_boundary(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.txt").write_text(
        "u1,critical,1000\nu1,simple,1001\nu2,critical,1000\nu2,no-use,1001\n"
    )
    out = warning_streaks(_parse_warnings(_lines_stream(spark, src)), min_streak=3)
    q = (
        out.writeStream.format("memory")
        .queryName("streaks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM streaks").count() == 0  # streaks at 2 and 0
        # batch 2: u1's third consecutive warning → fires; u2 restarts at 1 → silent
        (src / "b1.txt").write_text("u1,critical,1002\nu2,simple,1002\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM streaks").collect()
    finally:
        q.stop()
    assert [(r.user_id, r.streak_len, r.machine_timestamp) for r in rows] == [
        ("u1", 3, "1002")
    ]


def test_streak_resets_on_no_use_and_counts_within_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    # out-of-order lines in the file; operator sorts by timestamp
    (src / "b0.txt").write_text(
        "u1,critical,1003\nu1,simple,1001\nu1,no-use,1002\nu1,critical,1004\n"
    )
    out = warning_streaks(_parse_warnings(_lines_stream(spark, src)), min_streak=2)
    q = (
        out.writeStream.format("memory")
        .queryName("streaks2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM streaks2 ORDER BY machine_timestamp").collect()
    finally:
        q.stop()
    # sorted order: simple@1001 (1), no-use@1002 (reset), critical@1003 (1),
    # critical@1004 (2 → fires)
    assert [(r.streak_len, r.machine_timestamp) for r in rows] == [(2, "1004")]


def _parse_locations(lines):
    p = F.split(F.col("value"), ",")
    return lines.select(
        F.element_at(p, 1).alias("user_id"),
        F.element_at(p, 2).cast("bigint").alias("event_millis"),
        F.element_at(p, 3).alias("lat"),
        F.element_at(p, 4).alias("long"),
    )


def test_stateful_latest_location_ignores_late_rows(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.txt").write_text("u1,200,12.97,77.59\n")
    out = stateful_latest_location(_parse_locations(_lines_stream(spark, src)))
    q = (
        out.writeStream.format("memory")
        .queryName("latest_state")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row (event time 100 < state's 200) then a newer one
        (src / "b1.txt").write_text("u1,100,0.0,0.0\n")
        q.processAllAvailable()
        (src / "b2.txt").write_text("u1,300,13.00,77.60\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM latest_state ORDER BY event_millis").collect()
    finally:
        q.stop()
    # late row emitted nothing; the two genuine advances did
    assert [(r.event_millis, r.lat) for r in rows] == [(200, "12.97"), (300, "13.00")]


def test_streak_state_survives_restart(spark, tmp_path):
    """Kill the streaming query between micro-batches and restart it
    from the same checkpoint: the state store must restore the streak
    counter, so a warning in the new incarnation completes a streak
    begun before the restart."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        # file sink, not memory: the memory sink refuses checkpoint
        # recovery, and recovery is the property under test
        out = warning_streaks(
            _parse_warnings(_lines_stream(spark, src)), min_streak=3
        )
        return (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "b0.txt").write_text("u1,critical,1000\nu1,critical,1001\n")
    q = start()
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out_dir).count() == 0  # streak at 2
    finally:
        q.stop()

    # new incarnation, same checkpoint: one more warning fires the streak
    (src / "b1.txt").write_text("u1,critical,1002\n")
    q = start()
    try:
        q.processAllAvailable()
        rows = spark.read.parquet(out_dir).collect()
    finally:
        q.stop()
    assert [(r.user_id, r.streak_len, r.machine_timestamp) for r in rows] == [
        ("u1", 3, "1002")
    ]


def _run_ewma_twin(spark, tmp_path, op):
    """Feed the real sf0.001 events across TWO micro-batches split on
    event time (in-order feed — the condition under which stream ==
    batch) and return {(user, event): (value, ewma)} plus the
    first-batch row count, so the 15-value tail provably carries
    across the state-store boundary."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    name = f"ewma_twin_{op.__name__}"
    q = (
        op(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql(f"SELECT * FROM {name}").count()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(
            str(src / "b1.parquet")
        )
        q.processAllAvailable()
        got = {
            (r.user_id, r.event_id): (r.value, r.ewma)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
    finally:
        q.stop()
    return got, n_first


def test_streaming_ewma_twin_parity_and_batch_boundary(spark, tmp_path):
    """The applyInPandasWithState EWMA must equal the batch
    ewma_user_value query bitwise (same integer fold, same single
    division), including rows whose 16-tap window spans the
    micro-batch boundary."""
    from iot_sparkstreaming_spark.queries.analytics import ewma_user_value
    from iot_sparkstreaming_spark.streaming.stateful import streaming_ewma

    got, n_first = _run_ewma_twin(spark, tmp_path, streaming_ewma)
    want = {
        (r.user_id, r.event_id): (r.value, r.ewma)
        for r in ewma_user_value(spark, "/root/testdata/sf0.001").collect()
    }
    assert 0 < n_first < len(want)
    assert len(got) == len(want)
    assert got == want


def test_streaming_ewma_state_survives_restart(spark, tmp_path):
    """Kill the EWMA query between micro-batches and restart from the
    same checkpoint: the restored 15-value tail must make the second
    incarnation's outputs equal the batch computation over the FULL
    feed — restart must be invisible in the numbers."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import ewma_user_value
    from iot_sparkstreaming_spark.streaming.stateful import streaming_ewma
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
        return (
            streaming_ewma(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))
    q = start()
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.event_id): (r.value, r.ewma)
            for r in spark.read.parquet(out_dir).collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.event_id): (r.value, r.ewma)
        for r in ewma_user_value(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_streaming_transitions_twin_parity(spark, tmp_path):
    """The stateful transition stream must emit exactly the pairs the
    batch event_transition_matrix derives with its lead() window —
    including the pair that SPANS the micro-batch boundary (held as
    O(1) last-type state)."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from iot_sparkstreaming_spark.streaming.stateful import streaming_transitions
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_transitions(stream)
        .writeStream.format("memory")
        .queryName("transitions_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM transitions_twin").count()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(
            str(src / "b1.parquet")
        )
        q.processAllAvailable()
        got = {
            (r.user_id, r.from_type, r.to_type, r.event_id)
            for r in spark.sql("SELECT * FROM transitions_twin").collect()
        }
    finally:
        q.stop()

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.from_type, r.to_type, r.event_id)
        for r in ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
            F.lead("event_id").over(w).alias("event_id"),
        )
        .filter(F.col("to_type").isNotNull())
        .collect()
    }
    assert 0 < n_first < len(want)  # the boundary actually split pairs
    assert got == want


def test_streaming_transitions_state_survives_restart(spark, tmp_path):
    """Kill the transition stream between micro-batches and restart
    from the same checkpoint: the restored last-type state must make
    the cross-restart pair identical to the batch derivation over the
    full feed — restart invisible in the emitted pairs."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from iot_sparkstreaming_spark.streaming.stateful import streaming_transitions
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
        return (
            streaming_transitions(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))
    q = start()
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.from_type, r.to_type, r.event_id)
            for r in spark.read.parquet(out_dir).collect()
        }
    finally:
        q.stop()

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.from_type, r.to_type, r.event_id)
        for r in ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
            F.lead("event_id").over(w).alias("event_id"),
        )
        .filter(F.col("to_type").isNotNull())
        .collect()
    }
    assert got == want


def test_streaming_coverage_twin_parity(spark, tmp_path):
    """The stateful coverage stream's LAST row per user must equal the
    batch interval_coverage_user sweep-line exactly — including
    segments that span the micro-batch boundary (held as O(1) open
    -segment state)."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import interval_coverage_user
    from iot_sparkstreaming_spark.streaming.stateful import streaming_coverage
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_coverage(stream)
        .writeStream.format("memory")
        .queryName("coverage_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM coverage_twin").count()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(
            str(src / "b1.parquet")
        )
        q.processAllAvailable()
        rows = spark.sql(
            """SELECT user_id, n_intervals, n_segments, covered_ms FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_intervals DESC) rk
                 FROM coverage_twin) WHERE rk = 1"""
        ).collect()
    finally:
        q.stop()

    got = {r.user_id: (r.n_intervals, r.n_segments, r.covered_ms) for r in rows}
    want = {
        r.user_id: (r.n_intervals, r.n_segments, r.covered_ms)
        for r in interval_coverage_user(spark, sf_dir).collect()
    }
    assert 0 < n_first < sum(n for n, _, _ in want.values())
    assert got == want


def test_streaming_funnel_twin_parity(spark, tmp_path):
    """The stateful funnel's LAST row per user must equal the batch
    ordered_funnel_users chain — including stages that complete only
    after the micro-batch boundary (held as three O(1) epoch slots)."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.mining import ordered_funnel_users
    from iot_sparkstreaming_spark.streaming.stateful import streaming_funnel
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(
            str(src / "b1.parquet")
        )
        q.processAllAvailable()
        # every output column is monotone non-decreasing per user
        # (set-once slots, growing depth), so the per-user MAX is the
        # final state without depending on emission order
        last = spark.sql(
            """SELECT user_id, MAX(stage_depth) AS stage_depth,
                      MAX(signup_ms) AS signup_ms,
                      MAX(first_view_ms) AS first_view_ms,
                      MAX(first_purchase_ms) AS first_purchase_ms
               FROM funnel_twin GROUP BY user_id"""
        ).collect()
    finally:
        q.stop()

    got = {
        r.user_id: (r.stage_depth, r.signup_ms, r.first_view_ms, r.first_purchase_ms)
        for r in last
    }
    want = {
        r.user_id: (r.stage_depth, r.signup_ms, r.first_view_ms, r.first_purchase_ms)
        for r in ordered_funnel_users(spark, sf_dir).collect()
    }
    for uid, vals in want.items():
        assert got[uid] == vals
    for uid, (depth, *_rest) in got.items():
        if uid not in want:
            assert depth == 0


def test_streaming_twap_twin_parity(spark, tmp_path):
    """The stateful TWAP stream's LAST row per user must equal the
    batch time_weighted_avg_user lead-window query bitwise — including
    the interval that spans the micro-batch boundary (held as the
    O(1) (prev_ms, prev_value) state)."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import time_weighted_avg_user
    from iot_sparkstreaming_spark.streaming.stateful import streaming_twap
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_twap(stream)
        .writeStream.format("memory")
        .queryName("twap_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM twap_twin").count()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))
        q.processAllAvailable()
        rows = spark.sql(
            """SELECT user_id, n_intervals, span_ms, twap FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_intervals DESC) rk
                 FROM twap_twin) WHERE rk = 1"""
        ).collect()
    finally:
        q.stop()

    got = {r.user_id: (r.n_intervals, r.span_ms, r.twap) for r in rows}
    want = {
        r.user_id: (r.n_intervals, r.span_ms, r.twap)
        for r in time_weighted_avg_user(spark, sf_dir).collect()
    }
    assert 0 < n_first < sum(n for n, _, _ in want.values()) + len(want)
    # streaming emits a zero-interval first row per user; the batch
    # query has no row for a user until an interval closes
    got = {u: v for u, v in got.items() if v[0] > 0}
    assert got == want


def test_twap_quantizer_replays_spark_decimal_cast(spark):
    """The streaming twin's fixed-point quantizer must replay Spark's
    double→decimal(18,4) cast EXACTLY — HALF_UP on the SHORTEST
    decimal repr of the double (BigDecimal.valueOf semantics). Checked
    over adversarial half-way points where banker's rounding on an
    inexact float multiply (the bug class) and exact-binary-expansion
    rounding (the other plausible implementation) both diverge."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    vals = [0.00005, 0.00015, 2.675, 1.0005, 0.1 + 0.2, 123.45675,
            815.7155, 999.99995, 980.17485, 577.10295]
    rng = random.Random(11)
    vals += [round(rng.uniform(0, 1000), 5) for _ in range(300)]
    vals += [rng.uniform(0, 1000) for _ in range(300)]

    df = spark.createDataFrame([(v,) for v in vals], "value double")
    rows = df.select(
        "value", F.col("value").cast("decimal(18,4)").alias("d")
    ).collect()
    for r in rows:
        want = int(r.d.scaleb(4))
        got = int(
            Decimal(repr(float(r.value)))
            .scaleb(4)
            .to_integral_value(rounding=ROUND_HALF_UP)
        )
        assert got == want, (r.value, got, want)


def test_streaming_theil_sen_twin_parity(spark, tmp_path):
    """The stateful Theil-Sen stream's LAST row per user must equal
    the batch theil_sen_trend_user query bitwise — the trailing-16
    deque state carries the window across the micro-batch boundary."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import theil_sen_trend_user
    from iot_sparkstreaming_spark.streaming.stateful import streaming_theil_sen
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_theil_sen(stream)
        .writeStream.format("memory")
        .queryName("ts_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM ts_twin").count()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))
        q.processAllAvailable()
        rows = spark.sql(
            """SELECT user_id, n_pairs, theil_sen_slope FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_seen DESC) rk
                 FROM ts_twin) WHERE rk = 1"""
        ).collect()
    finally:
        q.stop()

    got = {
        r.user_id: (r.n_pairs, r.theil_sen_slope) for r in rows if r.n_pairs > 0
    }
    want = {
        r.user_id: (r.n_pairs, r.theil_sen_slope)
        for r in theil_sen_trend_user(spark, sf_dir).collect()
    }
    assert n_first > 0
    assert got == want


def test_streaming_ohlc_twin_parity(spark, tmp_path):
    """The stateful OHLC stream must converge to exactly the batch
    ``ohlc_bars_type_hour`` bars. The feed is split by event_id
    PARITY — so nearly every bar spans both micro-batches and rows
    arrive out of (ts, event_id) order across the boundary — proving
    the open/close state comparison reproduces the batch total order,
    not just in-order folding."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import ohlc_bars_type_hour
    from iot_sparkstreaming_spark.streaming.stateful import streaming_ohlc
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "event_id", "ts", "value"
    )
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_ohlc(stream)
        .writeStream.format("memory")
        .queryName("ohlc_twin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM ohlc_twin").count()
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            str(src / "b1.parquet")
        )
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM ohlc_twin").collect()
    finally:
        q.stop()

    # last emission per key = the one with the largest n_events
    # (n is nondecreasing; ties mean identical repeated rows)
    best = {}
    for r in emitted:
        k = (r.event_type, r.bar_ms)
        if k not in best or r.n_events > best[k].n_events:
            best[k] = r
    got = {
        k: (r.open, r.high, r.low, r.close, r.n_events, r.volume_e4)
        for k, r in best.items()
    }
    want = {
        (r.event_type, r.bar_ms): (
            r.open,
            r.high,
            r.low,
            r.close,
            r.n_events,
            r.volume_e4,
        )
        for r in ohlc_bars_type_hour(spark, "/root/testdata/sf0.001")
        .withColumn("bar_ms", F.unix_millis(F.col("bar_hour")))
        .collect()
    }
    assert n_first > 0
    assert got == want


def test_streaming_hll_twin_parity(spark, tmp_path):
    """The stateful HLL stream must converge to exactly the batch
    ``hll_portable_events`` sketch. The feed is split by event_id
    MOD 3 — so every register vector merges contributions from three
    micro-batches arriving out of (ts, event_id) order — proving the
    register max-merge is order-independent, the property every
    "mergeable sketch" docstring in the repo claims."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.functions import hll_portable_events
    from iot_sparkstreaming_spark.streaming.stateful import streaming_hll
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "ts", "event_id"
    )
    src = tmp_path / "in"
    src.mkdir()
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_hll(stream)
        .writeStream.format("memory")
        .queryName("hll_twin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        n_after_first = None
        for part in range(3):
            ev.filter(F.col("event_id") % 3 == part).coalesce(1).write.parquet(
                str(src / f"b{part}.parquet")
            )
            q.processAllAvailable()
            if part == 0:
                n_after_first = spark.sql("SELECT * FROM hll_twin").count()
        emitted = spark.sql("SELECT * FROM hll_twin").collect()
    finally:
        q.stop()

    # last emission per key = the one with the largest z-coverage;
    # n_buckets is nondecreasing and z_num nonincreasing under merges,
    # so (n_buckets, -z_num) picks the final state deterministically.
    best = {}
    for r in emitted:
        k = r.event_type
        if k not in best or (r.n_buckets, -r.z_num) > (
            best[k].n_buckets,
            -best[k].z_num,
        ):
            best[k] = r
    got = {k: (r.n_buckets, r.z_num, r.hll_estimate) for k, r in best.items()}
    want = {
        r.event_type: (r.n_buckets, r.z_num, r.hll_estimate)
        for r in hll_portable_events(spark, "/root/testdata/sf0.001").collect()
    }
    assert n_after_first is not None and n_after_first > 0
    assert got == want


def test_streaming_hll_state_survives_restart(spark, tmp_path):
    """Kill the HLL stream between micro-batches and restart from the
    same checkpoint: the restored register vectors must absorb the
    second half of the feed and finish with exactly the batch sketch —
    restart invisible in (n_buckets, z_num, hll_estimate)."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.functions import hll_portable_events
    from iot_sparkstreaming_spark.streaming.stateful import streaming_hll
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "ts", "event_id"
    )
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
        return (
            streaming_hll(stream, output_mode="append")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    q = start()
    try:
        q.processAllAvailable()
        emitted = spark.read.parquet(out_dir).collect()
    finally:
        q.stop()

    best = {}
    for r in emitted:
        k = r.event_type
        if k not in best or (r.n_buckets, -r.z_num) > (
            best[k].n_buckets,
            -best[k].z_num,
        ):
            best[k] = r
    got = {k: (r.n_buckets, r.z_num, r.hll_estimate) for k, r in best.items()}
    want = {
        r.event_type: (r.n_buckets, r.z_num, r.hll_estimate)
        for r in hll_portable_events(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_hw_window_constants_match():
    from iot_sparkstreaming_spark.queries import analytics
    from iot_sparkstreaming_spark.streaming import stateful

    assert stateful.HW_WINDOW == analytics.HW_WINDOW


def test_streaming_holt_winters_twin_parity(spark, tmp_path):
    """The stateful Holt-Winters stream's LAST row per user must equal
    the batch holt_winters_seasonal_user query bitwise — the
    trailing-32 value deque carries the re-anchoring bootstrap across
    the micro-batch boundary (feed split at median ts, in-order)."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import holt_winters_seasonal_user
    from iot_sparkstreaming_spark.streaming.stateful import streaming_holt_winters
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_holt_winters(stream)
        .writeStream.format("memory")
        .queryName("hw_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM hw_twin").count()
        ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))
        q.processAllAvailable()
        rows = spark.sql(
            """SELECT user_id, n_samples, level, trend, season_next, forecast_1
               FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_seen DESC) rk
                 FROM hw_twin) WHERE rk = 1 AND n_samples >= 4"""
        ).collect()
    finally:
        q.stop()

    got = {
        r.user_id: (r.n_samples, r.level, r.trend, r.season_next, r.forecast_1)
        for r in rows
    }
    want = {
        r.user_id: (r.n_samples, r.level, r.trend, r.season_next, r.forecast_1)
        for r in holt_winters_seasonal_user(spark, sf_dir).collect()
    }
    assert n_first > 0
    assert got == want


def test_streaming_holt_winters_state_survives_restart(spark, tmp_path):
    """Kill the Holt-Winters stream between micro-batches and restart
    from the same checkpoint: the restored value deque must absorb the
    second half of the in-order feed and the cross-restart last row
    per user must still equal the batch query bitwise."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.queries.analytics import holt_winters_seasonal_user
    from iot_sparkstreaming_spark.streaming.stateful import streaming_holt_winters
    from iot_sparkstreaming_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
        return (
            streaming_holt_winters(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "b0.parquet"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "b1.parquet"))
    q = start()
    try:
        q.processAllAvailable()
        emitted = spark.read.parquet(out_dir).collect()
    finally:
        q.stop()

    best = {}
    for r in emitted:
        if r.user_id not in best or r.n_seen > best[r.user_id].n_seen:
            best[r.user_id] = r
    got = {
        k: (r.n_samples, r.level, r.trend, r.season_next, r.forecast_1)
        for k, r in best.items()
        if r.n_samples >= 4
    }
    want = {
        r.user_id: (r.n_samples, r.level, r.trend, r.season_next, r.forecast_1)
        for r in holt_winters_seasonal_user(spark, sf_dir).collect()
    }
    assert got == want


def _cms_batch_grid(spark):
    """The batch count-min grid over sf0.001 clicks, built from the
    SAME shared cms_j_bucket projection the twin folds — dict
    (j, bucket) -> count."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.functions.sketch import cms_j_bucket
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rows = cms_j_bucket(
        ev.filter(F.col("event_type") == "click").select("user_id"), "user_id"
    )
    grid = rows.groupBy("j", "bucket").agg(F.count("*").alias("c")).collect()
    return {(r.j, r.bucket): r.c for r in grid}


def _cms_final_rows(emitted):
    """Last emission per grid row = the one with the largest
    total_mass (cell-wise add is monotone in the mass)."""
    best = {}
    for r in emitted:
        if r.j not in best or r.total_mass > best[r.j].total_mass:
            best[r.j] = r
    return best


def test_streaming_cms_twin_parity(spark, tmp_path):
    """The stateful count-min stream must converge to exactly the
    batch cms_heavy_hitters grid. The feed is split by event_id MOD 3
    so every counter row merges contributions from three micro-batches
    arriving out of order — proving cell-wise ADD is order-independent,
    the frequency-sketch counterpart of the HLL register-max proof."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.functions.sketch import CMS_DEPTH, CMS_WIDTH
    from iot_sparkstreaming_spark.streaming.stateful import streaming_cms
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "event_id"
    )
    src = tmp_path / "in"
    src.mkdir()
    stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
    q = (
        streaming_cms(stream)
        .writeStream.format("memory")
        .queryName("cms_twin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for part in range(3):
            ev.filter(F.col("event_id") % 3 == part).coalesce(1).write.parquet(
                str(src / f"b{part}.parquet")
            )
            q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM cms_twin").collect()
    finally:
        q.stop()

    best = _cms_final_rows(emitted)
    want = _cms_batch_grid(spark)
    assert set(best) == set(range(CMS_DEPTH))
    got = {
        (j, b): c
        for j, r in best.items()
        for b, c in enumerate(r.cells)
        if c > 0
    }
    assert got == want
    # emission invariants: mass = total click count per row, nonzero
    # cell count matches the grid's occupancy
    n_clicks = ev.filter(F.col("event_type") == "click").count()
    for j, r in best.items():
        assert r.total_mass == n_clicks
        assert r.n_nonzero == sum(1 for (jj, _b) in want if jj == j)
        assert len(r.cells) == CMS_WIDTH


def test_streaming_cms_state_survives_restart(spark, tmp_path):
    """Kill the CMS stream between micro-batches and restart from the
    same checkpoint: the restored counter rows must absorb the second
    half of the feed and finish with exactly the batch grid — restart
    invisible in every cell."""
    import pyspark.sql.functions as F

    from iot_sparkstreaming_spark.streaming.stateful import streaming_cms
    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "event_id"
    )
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = spark.readStream.schema(ev.schema).parquet(str(src / "*.parquet"))
        return (
            streaming_cms(stream, output_mode="append")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    q = start()
    try:
        q.processAllAvailable()
        emitted = spark.read.parquet(out_dir).collect()
    finally:
        q.stop()

    best = _cms_final_rows(emitted)
    got = {
        (j, b): c
        for j, r in best.items()
        for b, c in enumerate(r.cells)
        if c > 0
    }
    assert got == _cms_batch_grid(spark)


# ---------------------------------------------------------------------------
# Native session_window streaming twin (append mode, watermark-closed)
# ---------------------------------------------------------------------------


def _session_batch_rows(spark):
    """The batch member's full session table at sf0.001, as a set of
    comparable tuples."""
    from iot_sparkstreaming_spark.queries.analytics import session_window_events

    return {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_window_events(spark, "/root/testdata/sf0.001").collect()
    }


_SESSION_SENTINEL_USER = 999_999


def _session_feed_parts(spark):
    """The sf0.001 events split into two TIME-ORDERED halves plus a
    far-future sentinel row. Time-ordering (not a mod split) is what a
    watermark allows: each half's rows are newer than the watermark
    the previous half advanced to, so nothing is dropped as late, and
    every session spanning the cut must merge ACROSS micro-batches.
    The sentinel's event time pushes the final watermark past every
    real session's close, so append mode must have emitted all of
    them; the sentinel's own session stays open and never emits."""
    import datetime

    from iot_sparkstreaming_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    sentinel = spark.createDataFrame(
        [(_SESSION_SENTINEL_USER, hi + datetime.timedelta(days=30))],
        ev.schema,
    )
    return (
        ev.filter(F.col("ts") < F.lit(mid)),
        ev.filter(F.col("ts") >= F.lit(mid)),
        sentinel,
        ev.schema,
    )


def test_streaming_session_window_split_parity(spark, tmp_path):
    """Sessions assembled from two time-split micro-batches must be
    row-identical to the batch session_window_events table: state
    merges partial sessions across the cut, and once the sentinel
    advances the watermark past every real close, append mode has
    emitted each session exactly once."""
    from iot_sparkstreaming_spark.streaming.pipelines import (
        session_window_events_stream,
    )

    b0, b1, sentinel, schema = _session_feed_parts(spark)
    src = tmp_path / "in"
    src.mkdir()
    stream = spark.readStream.schema(schema).parquet(str(src / "*.parquet"))
    q = (
        session_window_events_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for i, part in enumerate((b0, b1, sentinel)):
            part.coalesce(1).write.parquet(str(src / f"b{i}.parquet"))
            q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM sess_twin").collect()
    finally:
        q.stop()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in emitted
    }
    assert _SESSION_SENTINEL_USER not in {r.user_id for r in emitted}
    assert len(got) == len(emitted), "append mode re-emitted a session"
    assert got == _session_batch_rows(spark)


def test_streaming_session_window_state_survives_restart(spark, tmp_path):
    """Kill the session stream at the time-split cut and restart from
    the same checkpoint: restored open-session state must absorb the
    second half (merging every session that spans the cut) and finish
    with exactly the batch session table — restart invisible in every
    row."""
    from iot_sparkstreaming_spark.streaming.pipelines import (
        session_window_events_stream,
    )

    b0, b1, sentinel, schema = _session_feed_parts(spark)
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*.parquet"))
        return (
            session_window_events_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    b0.coalesce(1).write.parquet(str(src / "b0.parquet"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    b1.coalesce(1).write.parquet(str(src / "b1.parquet"))
    sentinel.coalesce(1).write.parquet(str(src / "b2.parquet"))
    q = start()
    try:
        q.processAllAvailable()
        emitted = spark.read.parquet(out_dir).collect()
    finally:
        q.stop()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in emitted
    }
    assert len(got) == len(emitted), "append mode re-emitted a session"
    assert got == _session_batch_rows(spark)


def _streaks_of_events(ev):
    """The events as a warning stream: clicks reset the streak."""
    return warning_streaks(
        ev.select(
            F.col("user_id").cast("string").alias("user_id"),
            F.when(F.col("event_type") == "click", "no-use")
            .otherwise(F.col("event_type"))
            .alias("warning"),
            F.unix_millis("ts").cast("string").alias("machine_timestamp"),
        )
    )


ORDERED_OPERATORS = {
    "warning_streaks": _streaks_of_events,
    "streaming_ewma": stateful.streaming_ewma,
    "streaming_transitions": stateful.streaming_transitions,
    "streaming_coverage": stateful.streaming_coverage,
    "streaming_funnel": stateful.streaming_funnel,
    "streaming_twap": stateful.streaming_twap,
    "streaming_theil_sen": stateful.streaming_theil_sen,
    "streaming_holt_winters": stateful.streaming_holt_winters,
}


@pytest.mark.parametrize("name", sorted(ORDERED_OPERATORS))
def test_ordered_operator_ignores_arrow_chunking(spark, tmp_path, name):
    """An order-sensitive operator folds a key's WHOLE micro-batch in
    event order: with every key's rows arriving newest first in one
    micro-batch, Arrow chunks of 2 rows must give the same output as
    the default chunk size (sorting each chunk on its own would not)."""
    op = ORDERED_OPERATORS[name]
    base = datetime.datetime(2024, 1, 1)
    kinds = ["signup", "view", "view", "purchase", "click", "purchase", "view"]
    rows = [
        (u, 100 * u + k, base + datetime.timedelta(minutes=7 * k + u), kinds[k],
         float(k * k % 5) + 0.25 * u)
        for u in (1, 2, 3)
        for k in reversed(range(len(kinds)))
    ]
    schema = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    src = tmp_path / "in"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    def run(tag):
        table = f"chunking_{name}_{tag}"
        q = (
            op(spark.readStream.schema(schema).parquet(str(src)))
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(map(tuple, spark.sql(f"SELECT * FROM {table}").collect()))

    whole = run("default")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        chunked = run("chunked")
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert whole and chunked == whole


def _users_in_null_key_bucket(spark, n):
    """``n`` user ids whose bucket is the one a null user id hashes to."""
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(stateful.BUCKETS))
    null_bucket = (
        spark.range(1).select(F.lit(None).cast("string").alias("user_id")).select(bucket).first()[0]
    )
    ids = spark.range(20 * stateful.BUCKETS * n).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("user_id")
    )
    return [r.user_id for r in ids.filter(bucket == null_bucket).limit(n).collect()]


def test_keys_sharing_a_bucket_fold_apart(spark, tmp_path):
    """Keys of one hash bucket share a state row and a Python call, yet
    each key's streaks are its own fold: three users chosen to share
    the null user id's bucket, plus the null user id, over three
    micro-batches whose lines arrive newest first."""
    users = _users_in_null_key_bucket(spark, 3) + [None]
    assert len(users) == 4
    src = tmp_path / "in"
    src.mkdir()

    def warning(i, t):
        return "no-use" if (t + i) % (i + 3) == 0 else ("critical", "simple")[t % 2]

    def batch(b):
        """Each user's events of micro-batch ``b``, oldest first."""
        return {
            u: [(warning(i, t), f"{1_700_000_000_000 + t:d}") for t in range(6 * b, 6 * b + 6)]
            for i, u in enumerate(users)
        }

    lines = spark.readStream.format("text").load(str(src))
    p = F.split(F.col("value"), ",")
    parsed = lines.select(
        F.nullif(F.element_at(p, 1), F.lit("")).alias("user_id"),
        F.element_at(p, 2).alias("warning"),
        F.element_at(p, 3).alias("machine_timestamp"),
    )
    q = (
        warning_streaks(parsed, min_streak=2)
        .writeStream.format("memory")
        .queryName("shared_bucket")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for b in range(3):
            (src / f"b{b}.txt").write_text(
                "".join(
                    f"{u or ''},{w},{ts}\n"
                    for u, events in batch(b).items()
                    for w, ts in reversed(events)
                )
            )
            q.processAllAvailable()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        got = spark.sql("SELECT * FROM shared_bucket").collect()
    finally:
        q.stop()
    assert state_rows == 1  # all four keys in one bucket
    for u in users:
        want, streak = [], 0
        for b in range(3):
            for w, ts in batch(b)[u]:
                streak = 0 if w == "no-use" else streak + 1
                if streak >= 2:
                    want.append((streak, ts, w))
        mine = sorted(
            (r.streak_len, r.machine_timestamp, r.warning) for r in got if r.user_id == str(u)
        )
        assert want and mine == sorted(want), u


def test_state_rows_are_bounded_by_buckets(spark, tmp_path):
    """The state store holds one row per bucket, not per key."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.txt").write_text("".join(f"u{i},critical,1000\n" for i in range(1000)))
    q = (
        warning_streaks(_parse_warnings(_lines_stream(spark, src)), min_streak=1)
        .writeStream.format("memory")
        .queryName("bounded_state")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        n_out = spark.sql("SELECT * FROM bounded_state").count()
    finally:
        q.stop()
    assert n_out == 1000
    assert state_rows <= stateful.BUCKETS


def test_per_key_checkpoint_does_not_restore(spark, tmp_path):
    """A checkpoint holding one state row per key (the layout before
    keys were bucketed) must fail Spark's state-schema check on
    restart, not restore into the bucket layout."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    out_cols = [f.name for f in stateful.STREAK_OUTPUT_SCHEMA]

    def per_key(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        state.update((n + sum(len(pdf) for pdf in pdfs),))
        yield pd.DataFrame([], columns=out_cols)

    def start(out):
        return (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    (src / "b0.txt").write_text("u1,critical,1000\nu1,critical,1001\n")
    q = start(
        _parse_warnings(_lines_stream(spark, src))
        .groupBy("user_id")
        .applyInPandasWithState(
            per_key,
            outputStructType=stateful.STREAK_OUTPUT_SCHEMA,
            stateStructType=stateful.STREAK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    (src / "b1.txt").write_text("u1,critical,1002\n")
    q = start(warning_streaks(_parse_warnings(_lines_stream(spark, src)), min_streak=3))
    try:
        with pytest.raises(StreamingQueryException, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert not spark.read.schema(stateful.STREAK_OUTPUT_SCHEMA).parquet(out_dir).count()
