"""Shared benchmark plumbing: run directory, engine environment, session
set-up, the generator process, streaming progress capture and tracing.

Nothing here changes the engine. The benchmark drives it from outside, and
every setting it needs (cores, artifact store, local dirs, the event log of
a traced run) is passed through the environment before the JVM starts.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "iot_sparkstreaming_spark"


def percentile(xs: list[float], q: float) -> float:
    """Linearly interpolated percentile (q in 1..99) of a non-empty list,
    as ``statistics.quantiles(..., method="inclusive")`` gives it."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def median(xs: list[float]) -> float:
    return statistics.median(xs)


class Run:
    """One benchmark process: its private directory, its engine settings
    and its generator. Create it before anything imports pyspark."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.t0 = time.perf_counter()
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        #: tracing hooks (job groups, per-batch records) are on only for
        #: the traced part of a traced run; the rest of it is the untraced
        #: reference its overhead is taken against
        self.hooks = False
        self.tiny = False
        if not os.path.isdir(os.path.join(ROOT, ENGINE)):
            raise SystemExit(f"perfbench: engine package {ENGINE}/ not found under {ROOT}")
        base = os.path.join(ROOT, ".perfbench_run")
        self.dir = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        # one core stays free for the driver-side Python (foreachBatch
        # callbacks, result collection) and the generator: at local[4] on a
        # 4-core VM the same drain ran slower and spread wider
        self.cpus = max(1, min(3, (os.cpu_count() or 1) - 1))
        self.gen: subprocess.Popen | None = None
        self.spark = None
        self.progress = ProgressLog(self)
        #: process start to the first session ready: imports, JVM launch
        self.session_s = 0.0
        self.marks: dict[str, object] = {}
        self._configure_env()

    def mark(self, phase: str) -> None:
        """Record when a phase ended (seconds since process start)."""
        self.marks[phase] = round(time.perf_counter() - self.t0, 3)

    # -- environment ---------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def _configure_env(self) -> None:
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(self.cpus)
        env["SPARK_GRAFT_ARTIFACTS"] = self.path("artifacts")
        env["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")  # the inputs are small; keep the JVM small too
        os.makedirs(self.path("spark-local"))
        # temporary files stay in the run directory too: TMPDIR for Python,
        # DuckDB and child processes, java.io.tmpdir for the JVM (Spark puts
        # its artifact directory and native libraries there); the JVM writes
        # no perf-data file
        os.makedirs(self.path("tmp"))
        env["TMPDIR"] = self.path("tmp")
        # executor-side Python workers import the engine (the keyed_files
        # DataSource pickles by reference), so they need the checkout too
        pp = env.get("PYTHONPATH", "")
        env["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        confs = [f"spark.sql.warehouse.dir={self.path('warehouse')}"]
        if self.trace:
            os.makedirs(self.path("eventlog"))
            confs += [
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
                f"spark.eventLog.dir=file://{self.path('eventlog')}",
            ]
        java_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {shlex.quote(c)}" for c in confs]
            + ["--driver-java-options", shlex.quote(java_opts), "pyspark-shell"])

    # -- generator -----------------------------------------------------------
    def start_gen(self, mode: str, *args: str) -> None:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), mode,
               "--seed", str(self.seed), "--out", self.path("gen"), *args]
        self.gen = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)

    def wait_file(self, path: str, timeout: float = 150.0) -> None:
        deadline = time.time() + timeout
        while not os.path.exists(path):
            if self.gen is not None and self.gen.poll() not in (None, 0):
                raise RuntimeError(f"generator exited with {self.gen.returncode}")
            if time.time() > deadline:
                raise TimeoutError(f"generator did not write {path}")
            time.sleep(0.01)

    def wait_gen(self, timeout: float = 60.0) -> None:
        if self.gen is not None:
            rc = self.gen.wait(timeout=timeout)
            if rc != 0:
                raise RuntimeError(f"generator exited with {rc}")

    # -- session ---------------------------------------------------------------
    def start_session(self, cpus: int | None = None):
        """(Re)start the engine's session through ``session.get_spark`` and
        register what every workload uses."""
        if self.spark is not None:
            self.spark.stop()
        if cpus is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from iot_sparkstreaming_spark.io import keyed_sink
        from iot_sparkstreaming_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        keyed_sink.register(self.spark)
        self.spark.streams.addListener(self.progress.listener())
        self.spark.range(1).collect()

    def first_session(self) -> None:
        """Start the session, timed from process start: imports, JVM launch
        with its launch settings, and the session itself."""
        self.start_session()
        self.session_s = time.perf_counter() - self.t0
        self.mark("session")

    def finish_setup(self, prepared_s: float) -> float:
        """``setup_s``: process start to the first session plus the
        workload's preparation (warm-up, artifact builds), both measured
        once."""
        self.mark("prepared")
        return self.session_s + prepared_s

    # -- tracing ---------------------------------------------------------------
    def group(self, name: str) -> "JobGroup":
        return JobGroup(self.spark, name if self.hooks else None)

    def close(self) -> None:
        """Stop the session, the JVM and the generator, wait for each, and
        remove the run directory."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            jvm = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if jvm is not None:
                jvm.stdin.close()  # the JVM exits when its stdin closes
                try:
                    jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        if self.gen is not None and self.gen.poll() is None:
            self.gen.kill()
            self.gen.wait()
        shutil.rmtree(self.dir, ignore_errors=True)
        base = os.path.dirname(self.dir)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


class JobGroup:
    """Set a Spark job group on the calling thread for the duration of a
    timed call, and clear it afterwards (a group sticks to its thread)."""

    def __init__(self, spark, name: str | None):
        self.spark, self.name = spark, name

    def __enter__(self):
        if self.name:
            self.spark.sparkContext.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        if self.name:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.spark.sparkContext.setLocalProperty("spark.job.description", None)
        return False


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of a job group, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is not None:
                stages += 1
                tasks += s.numTasks
    return len(jobs), stages, tasks


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_end_ms(p: dict) -> float:
    """Epoch ms at which a micro-batch ended: trigger start + its duration."""
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp() * 1000.0 + p["durationMs"].get("triggerExecution", 0)


class ProgressLog:
    """Collects every ``QueryProgressEvent`` through a listener the benchmark
    registers. While tracing hooks are on it also keeps one record per batch
    (durations, state operators, sink); ``run.py`` prints them to standard
    error, one JSON line each, when the run ends."""

    def __init__(self, run: Run):
        self.run = run
        self.by_run: dict[str, list[dict]] = {}
        self.traced: list[dict] = []
        self.lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def add(self, p: dict) -> None:
        with self.lock:
            self.by_run.setdefault(p["runId"], []).append(p)
            if self.run.hooks:
                rec = {k: p.get(k) for k in ("name", "runId", "batchId", "timestamp",
                                            "numInputRows", "durationMs", "stateOperators")}
                rec["sink"] = p.get("sink", {}).get("description")
                self.traced.append(rec)

    def batches(self, query, timeout: float = 20.0) -> list[dict]:
        """Progress of every batch of a stopped query, waiting for the
        listener bus to deliver the last one."""
        last = query.lastProgress
        want = last["batchId"] if last else -1
        run_id = str(query.runId)
        deadline = time.time() + timeout
        while True:
            with self.lock:
                got = list(self.by_run.get(run_id, []))
            if (got and max(p["batchId"] for p in got) >= want) or time.time() > deadline:
                break
            time.sleep(0.02)
        return sorted(got, key=lambda p: p["batchId"])


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's offset log in the
    checkpoint (``sources/0``, compacted files included)."""
    src = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

#: SQL-metric names of the Python/Arrow boundary operators (sizes in bytes,
#: times in ms)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_EXEC = "time to run Python workers"
PY_NODE_WORDS = ("Python", "Pandas", "Arrow")


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    """Accumulator ids of "number of output rows" on Python-boundary plan
    nodes (``MapInPandas``, ``FlatMapGroupsInPandasWithState``, ...)."""
    if any(w in plan.get("nodeName", "") for w in PY_NODE_WORDS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _python_row_accumulators(c, out)


def read_event_log(run: Run) -> dict[str, dict]:
    """Fold the (stopped) session's event log into per-job-group totals:
    executor run/CPU/GC time, input, shuffle and spill bytes, the task
    intervals (for critical-path executor time) and Python-boundary SQL
    metrics. Groups are benchmark job groups or streaming run ids."""
    logdir = run.path("eventlog")
    files = [os.path.join(logdir, f) for f in os.listdir(logdir)] if os.path.isdir(logdir) else []
    stage_group: dict[int, str] = {}
    py_rows: set[int] = set()
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
            "input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "intervals": [], "py_sent": 0, "py_recv": 0,
            "py_rows": 0, "py_exec_ms": 0.0,
        })

    for path in files:
        # stage and accumulator ids restart with every SparkContext
        stage_group.clear()
        py_rows.clear()
        with open(path) as f:
            for line in f:
                head = line[:120]
                if "SQLExecutionStart" in head or "SQLAdaptiveExecutionUpdate" in head:
                    _python_row_accumulators(json.loads(line).get("sparkPlanInfo", {}), py_rows)
                elif '"SparkListenerJobStart"' in head:
                    e = json.loads(line)
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        g(grp)["jobs"] += 1
                        for sid in e.get("Stage IDs", []):
                            stage_group[sid] = grp
                elif '"SparkListenerTaskEnd"' in head:
                    e = json.loads(line)
                    grp = stage_group.get(e.get("Stage ID"))
                    if grp is None:
                        continue
                    a = g(grp)
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    a["executor_run_ms"] += m.get("Executor Run Time", 0)
                    a["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    if info.get("Launch Time") and info.get("Finish Time"):
                        a["intervals"].append((info["Launch Time"], info["Finish Time"]))
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name not in (PY_SENT, PY_RECV, PY_EXEC) and acc.get("ID") not in py_rows:
                            continue
                        upd = float(acc.get("Update", 0))
                        if name == PY_SENT:
                            a["py_sent"] += upd
                        elif name == PY_RECV:
                            a["py_recv"] += upd
                        elif name == PY_EXEC:
                            a["py_exec_ms"] += upd
                        else:
                            a["py_rows"] += upd
    return groups


def busy_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of task intervals: the time at least one task of
    the group was running (its critical-path executor time)."""
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
             "driver_ms")


def exec_layer(groups: dict[str, dict], names: list[str], counts: dict[str, tuple],
               wall_ms: float) -> dict[str, float]:
    """``exec.*`` totals over a set of groups, ``driver_ms`` being the timed
    wall minus the time any of their tasks ran."""
    out = {k: 0.0 for k in EXEC_KEYS}
    intervals: list = []
    for n in names:
        a = groups.get(n)
        if a is None:
            continue
        for k in EXEC_KEYS[3:-1]:
            out[k] += a[k]
        intervals += a["intervals"]
        jobs, stages, tasks = counts.get(n, (a["jobs"], 0, 0))
        out["jobs"] += jobs
        out["stages"] += stages
        out["tasks"] += tasks
    out["driver_ms"] = max(0.0, wall_ms - busy_ms(intervals))
    return {f"exec.{k}": v for k, v in out.items()}


def python_layer(groups: dict[str, dict], names: list[str]) -> dict[str, float]:
    out = {"python.exec_ms": 0.0, "python.bytes_to_worker": 0.0,
           "python.bytes_from_worker": 0.0, "python.rows": 0.0}
    for n in names:
        a = groups.get(n)
        if a is None:
            continue
        out["python.exec_ms"] += a["py_exec_ms"]
        out["python.bytes_to_worker"] += a["py_sent"]
        out["python.bytes_from_worker"] += a["py_recv"]
        out["python.rows"] += a["py_rows"]
    return out
