"""The replay phase of ``alerts_live``: a closed-loop drain of a fixed
backlog of staged fitbit files whose user ids churn (a sliding window of
active users).

A round drains the backlog twice with ``availableNow`` and a fixed
``maxFilesPerTrigger``, from fresh checkpoints:

* query 1 (persist): ``foreachBatch`` calling ``KeyedUpsertSink`` on
  ``latest_location_rows`` and ``AppendDedupSink`` on ``userhistory_rows``;
* query 2 (streaks): ``classify_warning`` -> ``warning_streaks``
  (``applyInPandasWithState``) into a memory sink.

Throughput is backlog events over the wall time of both drains. Outputs are
checked against DuckDB over the staged files.
"""

from __future__ import annotations

import glob
import json
import os
import time

from harness import Run, group_counts, median

#: one generator backlog file (5,000 events) per batch, so the per-batch
#: work of the sinks and the state store outweighs per-query start-up
FILES_PER_TRIGGER = 1


def _fitbit(run: Run, backlog: str):
    from iot_sparkstreaming_spark.io.sources import parse_csv_records
    from iot_sparkstreaming_spark.schemas import FITBIT_SCHEMA

    lines = (run.spark.readStream.format("text")
             .option("maxFilesPerTrigger", FILES_PER_TRIGGER).load(backlog))
    return parse_csv_records(lines, FITBIT_SCHEMA, "fitbit")


class _Persist:
    """The ``foreachBatch`` body: both sinks, each call timed as a span."""

    def __init__(self, run: Run, tag: str):
        from iot_sparkstreaming_spark.streaming.sinks import AppendDedupSink, KeyedUpsertSink

        self.run = run
        self.tag = tag
        self.upsert = KeyedUpsertSink(run.path(tag, "latest_location"), ["user_id"], ["event_ts"])
        self.dedup = AppendDedupSink(run.path(tag, "userhistory"), ["user_id", "date", "time"])
        self.spans: dict[str, list[float]] = {"upsert": [], "dedup": []}

    def __call__(self, batch_df, batch_id: int) -> None:
        from iot_sparkstreaming_spark.streaming.pipelines import (
            latest_location_rows,
            userhistory_rows,
        )

        for name, sink, rows in (("upsert", self.upsert, latest_location_rows),
                                 ("dedup", self.dedup, userhistory_rows)):
            t = time.perf_counter()
            with self.run.group(f"{self.tag}.{name}"):
                sink(rows(batch_df), batch_id)
            self.spans[name].append((time.perf_counter() - t) * 1000.0)


def _drain(run: Run, tag: str, backlog: str) -> dict:
    from pyspark.sql.functions import col

    from iot_sparkstreaming_spark.functions.health import classify_warning
    from iot_sparkstreaming_spark.streaming.stateful import warning_streaks

    res = {}
    persist = _Persist(run, tag)
    fit = _fitbit(run, backlog)
    for name in ("persist", "streaks"):
        ckpt = run.path(tag, f"ckpt_{name}")
        if name == "persist":
            w = fit.writeStream.foreachBatch(persist)
        else:
            warned = fit.withColumn("warning", classify_warning(col("pulse"), col("age"), col("bp_cat")))
            w = (warning_streaks(warned).writeStream.format("memory")
                 .queryName(f"streaks_{tag}").outputMode("append"))
        t = time.perf_counter()
        q = w.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination()
        wall = time.perf_counter() - t
        res[name] = {"q": q, "wall": wall, "batches": run.progress.batches(q)}
    res["persist"]["spans"] = persist.spans
    res["upsert_dir"], res["dedup_dir"] = persist.upsert.state_dir, persist.dedup.state_dir
    res["streak_table"] = f"streaks_{tag}"
    return res


def _check(run: Run, r: dict, backlog: str, events: int) -> int:
    """Failed replayed events: those whose userhistory row, whose user's
    latest_location winner or whose streak rows differ from DuckDB run over
    the staged files."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    cols = ["record_type", "event_datetime", "user_id", "lat", "long", "pulse", "temp",
            "age", "bp_cat", "machine_timestamp"]
    spec = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
    con.execute(f"""
      CREATE VIEW raw AS SELECT * FROM read_csv('{backlog}/*.csv', header=false,
        delim=',', quote='', columns={{{spec}}});
      CREATE VIEW fit AS SELECT trim(event_datetime) AS event_datetime, trim(user_id) AS user_id,
        trim(lat) AS lat, trim(long) AS long, CAST(trim(pulse) AS DOUBLE) AS pulse,
        CAST(trim(temp) AS DOUBLE) AS temp, CAST(trim(age) AS INTEGER) AS age,
        trim(bp_cat) AS bp_cat, trim(machine_timestamp) AS machine_timestamp
        FROM raw WHERE trim(record_type) = 'fitbit';
      CREATE VIEW ev AS SELECT *, CASE
          WHEN pulse >= CAST(0.95 AS DOUBLE) * CASE WHEN age < 40 THEN CAST(220 - age AS DOUBLE)
               ELSE CAST(208 AS DOUBLE) - CAST(0.75 AS DOUBLE) * age END
          THEN CASE WHEN bp_cat IN ('HYP_1','HYP_2','HYP_CR') THEN 'critical' ELSE 'simple' END
          ELSE 'no-use' END AS warning,
        CAST(epoch_ms(strptime(event_datetime, '%Y-%m-%d %H:%M:%S')) AS VARCHAR) AS time_ms
        FROM fit;
    """)
    bad: set[str] = set()  # events, by their event-time millis
    by_machine_ts = dict(con.execute("SELECT machine_timestamp, time_ms FROM ev").fetchall())
    # userhistory: one row per distinct (user_id, date, time)
    want = {row[2]: row for row in con.execute(
        "SELECT DISTINCT user_id, substr(event_datetime, 1, 10), time_ms, lat, long, pulse, temp FROM ev"
    ).fetchall()}
    got_rows = con.execute(
        f"SELECT user_id, date, time, lat, long, pulse, temp FROM read_parquet('{r['dedup_dir']}/*.parquet')"
    ).fetchall()
    got = {}
    for row in got_rows:
        if row[2] in got:  # a duplicate key the sink should have dropped
            bad.add(row[2])
        got[row[2]] = row
    bad |= {k for k, v in want.items() if got.get(k) != v}
    bad |= {k for k in got if k not in want}
    # latest_location: per user, the row with the latest event time
    want_ll = {row[0]: row for row in con.execute("""
        SELECT user_id, arg_max(time_ms, event_datetime), arg_max(lat, event_datetime),
               arg_max(long, event_datetime) FROM ev GROUP BY user_id""").fetchall()}
    got_ll = {row[0]: row for row in con.execute(
        f"SELECT user_id, CAST(epoch_ms(event_ts) AS VARCHAR), lat, long "
        f"FROM read_parquet('{r['upsert_dir']}/*.parquet')").fetchall()}
    for u, row in want_ll.items():
        if got_ll.get(u) != row:
            bad.add(row[1])
    bad |= {row[1] for u, row in got_ll.items() if u not in want_ll}
    # streaks: consecutive non-"no-use" events per user, in event order
    want_st = con.execute("""
        WITH g AS (SELECT *, SUM(CASE WHEN warning = 'no-use' THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY machine_timestamp
                           ROWS UNBOUNDED PRECEDING) AS grp FROM ev),
             s AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY machine_timestamp)
                     - CASE WHEN grp > 0 THEN 1 ELSE 0 END AS streak FROM g)
        SELECT user_id, streak, machine_timestamp, warning FROM s
        WHERE warning <> 'no-use' AND streak >= 3""").fetchall()
    got_st = [tuple(x) for x in run.spark.table(r["streak_table"]).select(
        "user_id", "streak_len", "machine_timestamp", "warning").collect()]
    from collections import Counter

    diff = (Counter(want_st) - Counter(got_st)) + (Counter(got_st) - Counter(want_st))
    bad |= {by_machine_ts.get(row[2], row[2]) for row in diff}
    con.close()
    return min(len(bad), events)


def backlog_lines(run: Run) -> dict[str, int]:
    """Lines per staged backlog file (every line is one replayed event)."""
    out = {}
    for p in glob.glob(run.path("gen", "backlog", "*.csv")):
        with open(p) as f:
            out[os.path.basename(p)] = sum(1 for _ in f)
    return out


def warm(run: Run) -> None:
    _drain(run, "warm", run.path("gen", "warm"))


def measure(run: Run) -> dict:
    """One timed round, checked. Returns its throughput, counts and layers."""
    backlog = run.path("gen", "backlog")
    lines = sum(backlog_lines(run).values())
    r = _drain(run, "r0", backlog)
    return {
        "throughput_per_s": lines / (r["persist"]["wall"] + r["streaks"]["wall"]),
        "attempted": lines,
        "failed": _check(run, r, backlog, lines),
        "layers": {
            "replay.persist_events_per_s": lines / r["persist"]["wall"],
            "replay.streak_events_per_s": lines / r["streaks"]["wall"],
        },
    }


def trace(run: Run) -> dict:
    """A traced round and its per-layer numbers."""
    backlog = run.path("gen", "backlog")
    lines = sum(backlog_lines(run).values())
    with open(run.path("gen", "churn.json")) as f:
        churn = json.load(f)
    r = _drain(run, "t0", backlog)
    L: dict[str, float] = {}
    L["upsert_sink.call_ms"] = median(r["persist"]["spans"]["upsert"])
    L["dedup_sink.call_ms"] = median(r["persist"]["spans"]["dedup"])
    L["upsert_sink.state_rows"] = run.spark.read.parquet(r["upsert_dir"]).count()
    L["dedup_sink.rows"] = run.spark.read.parquet(r["dedup_dir"]).count()
    st = [p["stateOperators"][0] for p in r["streaks"]["batches"] if p.get("stateOperators")]
    if st:
        rows = [s["numRowsTotal"] for s in st]
        L["state.rows_total"] = rows[-1]
        L["state.rows_growth_per_batch"] = (rows[-1] - rows[0]) / max(1, len(rows) - 1)
        L["state.memory_bytes"] = st[-1]["memoryUsedBytes"]
        L["state.commit_ms"] = median([s.get("commitTimeMs", 0) for s in st])
        L["state.update_ms"] = median([s.get("allUpdatesTimeMs", 0) for s in st])
    L["gen.churn_users"] = churn["schedule"][-1]["active_hi"]
    streak_groups = [str(r["streaks"]["q"].runId)]
    groups = ["t0.upsert", "t0.dedup"] + streak_groups
    wall = r["persist"]["wall"] + r["streaks"]["wall"]
    return {"layers": L, "counts": {g: group_counts(run.spark, g) for g in groups},
            "groups": groups, "python_groups": streak_groups, "wall_ms": wall * 1000.0,
            "throughput_per_s": lines / wall}


def one_cpu(run: Run) -> dict[str, float]:
    """The single-thread baseline: the same backlog at ``local[1]``. It
    restarts the session, so it runs last."""
    backlog = run.path("gen", "backlog")
    lines = sum(backlog_lines(run).values())
    run.start_session(cpus=1)
    one = _drain(run, "one", backlog)
    return {"replay_1cpu.persist_events_per_s": lines / one["persist"]["wall"],
            "replay_1cpu.streak_events_per_s": lines / one["streaks"]["wall"]}
