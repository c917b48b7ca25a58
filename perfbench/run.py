"""Benchmark entry point.

    python3 perfbench/run.py --workload <alerts_live|analytics_batch>
                             --seed N --seconds S --trace <0|1>

Run from the root of a checkout. The engine runs at ``local[k]`` with
``k = min(3, cores - 1)``; its artifact store, local dirs, checkpoints and
warehouse live in a private directory under ``.perfbench_run/`` that is
removed at exit. Inputs come from one generator process (``gen.py``).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything else goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT, Run, exec_layer, python_layer, read_event_log  # noqa: E402

WORKLOADS = ("alerts_live", "analytics_batch")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _trace_layers(run: Run, out: dict) -> dict[str, float]:
    """Fold the event log of the traced part into exec.*, python.* and
    per-family numbers, and add the tracing overhead. The session must be
    stopped first, so that the event log is complete."""
    run.spark.stop()
    run.spark = None
    groups = read_event_log(run)
    counts = out.get("counts", {})
    L = dict(out["layers"])
    L.update(exec_layer(groups, out["trace_groups"], counts, out["trace_wall_ms"]))
    L.update(python_layer(groups, out.get("python_groups", [])))
    for fam, names in out.get("family_groups", {}).items():
        wall_ms = (L[f"queries.{fam}.build_s"] + L[f"queries.{fam}.action_s"]) * 1000.0
        fam_exec = exec_layer(groups, names, counts, wall_ms)
        for k in ("stages", "tasks", "executor_cpu_ms", "shuffle_write_bytes", "driver_ms"):
            L[f"queries.{fam}.{k}"] = fam_exec[f"exec.{k}"]
    for k, v in out["traced_e2e"].items():
        L[f"overhead.{k}"] = v - out["e2e"][k]
    return L


def main() -> int:
    ap = argparse.ArgumentParser(description="pyspark-iot-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test size: sf0.001 tables and a short backlog")
    args = ap.parse_args()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.tiny = args.tiny
    b = spec()
    try:
        if args.workload == "alerts_live":
            import alerts as mod
        else:
            import analytics as mod
        out = mod.run(run)
        metrics_spec = b["per_layer"] if args.trace else b["end_to_end"]
        if args.trace:
            values = _trace_layers(run, out)
            values["session.start_s"] = run.session_s
            values["check.failed_share"] = out["failed"] / out["attempted"]
        else:
            values = out["e2e"]
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.mark("done")
        run.close()
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in metrics_spec}
    result = {"correct": out["failed"] == 0, "attempted": int(out["attempted"]),
              "failed": int(out["failed"]), "metrics": metrics}
    for rec in run.progress.traced:
        print(json.dumps({"batch": rec}), file=sys.stderr)
    print(json.dumps({"marks": run.marks, "session_s": run.session_s, "e2e": out["e2e"],
                      "layers": out["layers"]}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
