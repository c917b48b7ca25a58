"""``alerts_live``: the reference's streaming path, live and then replayed.

Live phase -- an open loop at a fixed rate through the alert path,
``lines_stream("files")`` -> ``parse_csv_records(FITBIT_SCHEMA, "fitbit")``
-> ``warning_pipeline`` -> ``keyed_files`` sink (key ``user_id``, version
``machine_timestamp``) at a 1 s processing-time trigger. An alert's latency
runs from its due time at the generator (stamped into the record as
``machine_timestamp``) to the end of the micro-batch whose sink commit holds
it. Batch ends come from the benchmark's progress listener; the file -> batch
map from the checkpoint's source log.

Replay phase -- the persistence and streak queries drain a staged backlog of
fitbit telemetry with key churn (``replay.py``); it gives the throughput.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from gen import expected_table
from harness import Run, file_batches, group_counts, median, percentile, progress_end_ms

WARM_S = 1


def _window(run: Run, name: str, sink: str) -> dict:
    from iot_sparkstreaming_spark.io.sources import lines_stream, parse_csv_records
    from iot_sparkstreaming_spark.schemas import FITBIT_SCHEMA
    from iot_sparkstreaming_spark.streaming.pipelines import warning_pipeline

    spark = run.spark
    watch = run.path("gen", "in", name)
    os.makedirs(watch, exist_ok=True)
    ckpt, out = run.path("ckpt", name), run.path("out", name)
    alerts = warning_pipeline(parse_csv_records(lines_stream(spark, "files", path=watch),
                                                FITBIT_SCHEMA, "fitbit"))
    w = alerts.writeStream.trigger(processingTime="1 second").option("checkpointLocation", ckpt)
    if sink == "keyed":
        w = (w.format("keyed_files").option("path", out).option("key", "user_id")
             .option("version", "machine_timestamp"))
    else:
        w = w.format("noop")
    q = w.start()
    # the trigger fires on whole epoch seconds; start every window at the
    # same phase to them, a quarter second past one
    start_ms = (int(time.time() + 0.5) + 1) * 1000 + 250
    go = run.path("gen", f"go.{name}")
    with open(go + ".tmp", "w") as f:
        f.write(str(start_ms))
    os.replace(go + ".tmp", go)
    exp_path = run.path("gen", f"expected.{name}.json")
    run.wait_file(exp_path, timeout=run.seconds + 90)
    q.processAllAvailable()
    q.stop()
    with open(exp_path) as f:
        expected = json.load(f)
    batches = run.progress.batches(q)
    ends = {p["batchId"]: progress_end_ms(p) for p in batches}
    fb = file_batches(ckpt)
    lat, missing = [], 0
    for a in expected["alerts"]:
        b = fb.get(a["file"])
        if b is None or b not in ends:
            missing += 1
            continue
        lat.append(ends[b] - a["due_ms"])
    per_batch_files: dict[int, int] = {}
    for b in fb.values():
        per_batch_files[b] = per_batch_files.get(b, 0) + 1
    return {"q": q, "expected": expected, "lat": lat, "missing": missing, "batches": batches,
            "out": out, "files_per_batch": per_batch_files}


def _check(w: dict) -> tuple[int, int, int]:
    """(attempted, failed, table keys): every expected alert is an
    operation. It fails when its file never reached a committed batch, when
    it is its user's last-write-wins winner and the table row is missing or
    wrong, or (one each) when the table holds a row no alert explains."""
    from iot_sparkstreaming_spark.io.keyed_sink import read_table

    alerts = w["expected"]["alerts"]
    want = expected_table(alerts)
    got = {r["user_id"]: r for r in read_table(w["out"])}
    failed = w["missing"]
    failed += sum(1 for u, row in want.items() if got.get(u) != row)
    failed += sum(1 for u in got if u not in want)
    return len(alerts), min(failed, len(alerts)), len(got)


def _durations(batches: list[dict], key: str) -> list[float]:
    return [p["durationMs"].get(key, 0) for p in batches] or [0.0]


def _measure(run: Run) -> dict:
    """The untraced part: the main live window and one replay round."""
    import replay

    main = _window(run, "main", "keyed")
    run.mark("main_window")
    rep = replay.measure(run)
    run.mark("replay")
    attempted, failed, _ = _check(main)
    e2e = {
        "latency_p50_ms": percentile(main["lat"], 50),
        "latency_p90_ms": percentile(main["lat"], 90),
        "throughput_per_s": rep["throughput_per_s"],
    }
    layers = dict(rep["layers"])
    layers["alerts.samples_beyond_p90"] = sum(1 for x in main["lat"] if x > e2e["latency_p90_ms"])
    return {"e2e": e2e, "attempted": attempted + rep["attempted"],
            "failed": failed + rep["failed"], "layers": layers, "late_max_ms": main["expected"]["late_max_ms"]}


def _trace(run: Run) -> dict:
    """The traced part: a live window into ``keyed_files``, the same into
    ``noop``, and a replay round, with tracing hooks on."""
    import replay

    run.hooks = True
    tr, noop = _window(run, "traced", "keyed"), _window(run, "noop", "noop")
    rtr = replay.trace(run)
    run.hooks = False
    attempted, failed, keys = _check(tr)
    L = dict(rtr["layers"])
    L["gen.events"] = tr["expected"]["events"]
    b = tr["batches"]
    L["source.latest_offset_ms"] = median(_durations(b, "latestOffset"))
    L["source.get_batch_ms"] = median(_durations(b, "getBatch"))
    L["source.backlog_files_max"] = max(tr["files_per_batch"].values() or [0])
    L["source.rows_per_batch"] = median([p["numInputRows"] for p in b] or [0])
    trig = _durations(b, "triggerExecution")
    L["batch.count"] = len(b)
    L["batch.trigger_ms_p50"] = percentile(trig, 50)
    L["batch.trigger_ms_p90"] = percentile(trig, 90)
    L["batch.planning_ms"] = median(_durations(b, "queryPlanning"))
    L["batch.wal_commit_ms"] = median(_durations(b, "walCommit"))
    L["batch.commit_offsets_ms"] = median(_durations(b, "commitOffsets"))
    L["batch.add_batch_ms"] = median(_durations(b, "addBatch"))
    L["pipelines.noop_add_batch_ms"] = median(_durations(noop["batches"], "addBatch"))
    L["keyed_sink.excess_ms"] = L["batch.add_batch_ms"] - L["pipelines.noop_add_batch_ms"]
    L["keyed_sink.table_keys"] = keys
    live_group = str(tr["q"].runId)
    return {
        "traced_e2e": {
            "latency_p50_ms": percentile(tr["lat"], 50),
            "latency_p90_ms": percentile(tr["lat"], 90),
            "throughput_per_s": rtr["throughput_per_s"],
        },
        "layers": L,
        "attempted": attempted,
        "failed": failed,
        "late_max_ms": max(w["expected"]["late_max_ms"] for w in (tr, noop)),
        "counts": {live_group: group_counts(run.spark, live_group), **rtr["counts"]},
        "trace_groups": [live_group] + rtr["groups"],
        "python_groups": rtr["python_groups"],
        "trace_wall_ms": sum(trig) + rtr["wall_ms"],
    }


def run(run: Run) -> dict:
    import replay

    # a traced run measures both parts; odd seeds run the traced part first,
    # so that warm-up drift does not always favour the same side of the
    # overhead figure
    parts = ["untraced", "traced"] if run.trace else ["untraced"]
    if run.trace and run.seed % 2:
        parts.reverse()
    # the noop window only gives a median addBatch, so half the length does
    by_part = {"untraced": [("main", run.seconds)],
               "traced": [("traced", run.seconds), ("noop", run.seconds / 2)]}
    windows = [("warm", WARM_S)] + [w for p in parts for w in by_part[p]]
    run.start_gen("live", "--windows", ",".join(f"{n}:{s}" for n, s in windows),
                  *(["--files", "1"] if run.tiny else []))
    run.first_session()
    run.wait_file(run.path("gen", "gen_ready.json"))
    t = time.perf_counter()
    # both warm-ups are mostly first-query start-up; the drain overlaps the
    # window, in a thread of its own, to keep the run short (the window
    # stays on this thread, where the keyed_files source is registered)
    with ThreadPoolExecutor(1) as pool:
        drain = pool.submit(replay.warm, run)
        _window(run, "warm", "keyed")
        drain.result()
    setup_s = run.finish_setup(time.perf_counter() - t)

    got = {p: (_measure if p == "untraced" else _trace)(run) for p in parts}
    run.wait_gen()
    out = got["untraced"]
    out["e2e"]["setup_s"] = setup_s
    late_max_ms = out.pop("late_max_ms")
    if not run.trace:
        return out
    tr = got["traced"]
    out["layers"].update(tr.pop("layers"))
    out["layers"]["gen.late_max_ms"] = max(late_max_ms, tr.pop("late_max_ms"))
    out["attempted"] += tr.pop("attempted")
    out["failed"] += tr.pop("failed")
    out.update(tr)
    out["layers"].update(replay.one_cpu(run))
    return out
