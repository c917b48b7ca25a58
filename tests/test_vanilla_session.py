"""Regression gate: every query must run on a VANILLA SparkSession.

The external harness builds its own ``SparkSession.builder...getOrCreate()``
with none of our engine configs (``session.py``), so no query may depend
on session-build-time configuration. Round 1 shipped exactly that bug:
``load_table`` assumed ``spark.sql.legacy.parquet.nanosAsLong`` was set at
build time, and all 15 events-backed queries died under the driver with
``PARQUET_TYPE_ILLEGAL`` (VERDICT.md round 1, item 1).

A vanilla session cannot be built inside the test process — conftest's
configured session already owns the JVM, and getOrCreate would inherit
its conf. So this test execs a subprocess whose SparkSession is built
with ZERO configs (the driver's exact posture) and runs a representative
query slice: the events-backed paths that broke in round 1 plus one
query per registry module. It then runs two streaming queries on the
same session, ``warning_pipeline`` into ``keyed_files`` and
``warning_streaks`` across a restart from its checkpoint, against a
plain-Python expectation: the engine session's checkpoint manager
(``session.CHECKPOINT_FILE_MANAGER``) must be a speed setting only.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

SCRIPT = r"""
import os
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

# The driver's posture: no engine configs whatsoever.
spark = SparkSession.builder.master("local[4]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

from iot_sparkstreaming_spark.queries.registry import load_all

reg = load_all()
assert len(reg) >= 73, f"registry shrank: {len(reg)}"

# Round-1 breakage class: events.parquet (TIMESTAMP(NANOS)) readers.
names = [
    "window_topk_per_user",
    "sessionize_events",
    "asof_click_to_purchase",
    # one per module (module membership asserted by registry order)
    "warning_notification",      # reference
    "doc_token_stats",           # text
    "knn_bruteforce_cosine",     # similarity
    "multimodal_manifest",       # multimodal
    "sql_revenue_by_region",     # sql_surface
    "chunk_documents",           # pipeline
    "dedup_exact",               # dedup
    "rollup_customer_census",    # analytics
    "json_extract_events",       # functions (events-backed)
    "q1_pricing_summary",        # tpch
]
for name in names:
    n = reg[name].spark(spark, "/root/testdata/sf0.001").count()
    print(f"OK {name} rows={n}")

# Streaming on the same zero-config session: the engine session's
# checkpoint settings buy speed, never correctness.
from pyspark.sql import functions as F

from iot_sparkstreaming_spark.io import keyed_sink
from iot_sparkstreaming_spark.io.sources import parse_csv_records
from iot_sparkstreaming_spark.schemas import FITBIT_SCHEMA
from iot_sparkstreaming_spark.streaming.pipelines import warning_pipeline
from iot_sparkstreaming_spark.streaming.stateful import warning_streaks

tmp = sys.argv[2]

def write_lines(sub, name, lines):
    os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    with open(os.path.join(tmp, sub, name), "w") as f:
        f.write("\n".join(lines) + "\n")

# warning_pipeline -> keyed_files, one availableNow run over two files.
# Age 30: maxHR 190, so pulse 200 is hot and pulse 60 is not.
fitbit = [
    (f"u{i % 5}", pulse, bp, str(1478512345000 + i))
    for i, (pulse, bp) in enumerate(
        [(200, "HYP_1"), (200, "NORMAL"), (60, "HYP_2"), (200, "HYP_CR")] * 5
    )
]
for part in (0, 1):
    write_lines("fitbit", f"b{part}.txt", [
        f"fitbit,2016-11-07 10:00:00,{u},12.0,77.0,{p},98.6,30,{bp},{ts}"
        for u, p, bp, ts in fitbit[part::2]
    ] + ["sales,2016-11-07,12"])
expected = {}
for u, p, bp, ts in fitbit:
    if p >= 0.95 * 190:
        expected[u] = max(expected.get(u, ("", "")), (ts, "critical" if bp.startswith("HYP") else "simple"))
keyed_sink.register(spark)
lines = spark.readStream.format("text").load(os.path.join(tmp, "fitbit"))
(
    warning_pipeline(parse_csv_records(lines, FITBIT_SCHEMA, "fitbit"))
    .writeStream.format("keyed_files")
    .option("path", os.path.join(tmp, "keyed"))
    .option("key", "user_id")
    .option("version", "machine_timestamp")
    .option("checkpointLocation", os.path.join(tmp, "keyed_ckpt"))
    .trigger(availableNow=True)
    .start()
    .awaitTermination()
)
got = {
    r["user_id"]: (r["machine_timestamp"], r["warning"])
    for r in keyed_sink.read_table(os.path.join(tmp, "keyed"))
}
assert got == expected, (got, expected)
print(f"OK keyed_files stream keys={len(got)}")

# warning_streaks, stopped and restarted from its checkpoint.
events = [
    (u, w, str(1000 + i))
    for i, (u, w) in enumerate(
        [("a", "critical"), ("b", "simple"), ("a", "simple"), ("b", "no-use")]
        + [("a", "critical"), ("b", "critical"), ("a", "no-use"), ("b", "simple")]
        + [("b", "critical"), ("a", "simple"), ("b", "critical"), ("a", "simple")]
    )
]
streak, want = {}, []
for u, w, ts in events:
    streak[u] = 0 if w == "no-use" else streak.get(u, 0) + 1
    if streak[u] >= 3:
        want.append((u, streak[u], ts, w))

def run_streaks():
    p = F.split(F.col("value"), ",")
    warnings = spark.readStream.format("text").load(os.path.join(tmp, "streak_in")).select(
        F.element_at(p, 1).alias("user_id"),
        F.element_at(p, 2).alias("warning"),
        F.element_at(p, 3).alias("machine_timestamp"),
    )
    (
        warning_streaks(warnings, min_streak=3)
        .writeStream.format("parquet")
        .option("path", os.path.join(tmp, "streaks"))
        .option("checkpointLocation", os.path.join(tmp, "streak_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

write_lines("streak_in", "b0.txt", [",".join(e) for e in events[:6]])
run_streaks()
write_lines("streak_in", "b1.txt", [",".join(e) for e in events[6:]])
run_streaks()
rows = spark.read.parquet(os.path.join(tmp, "streaks")).collect()
got = sorted((r.user_id, r.streak_len, r.machine_timestamp, r.warning) for r in rows)
assert got == sorted(want), (got, want)
print(f"OK warning_streaks restart rows={len(got)}")
print("VANILLA-ALL-OK")
spark.stop()
"""


def test_queries_run_on_vanilla_session(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(REPO), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "VANILLA-ALL-OK" in proc.stdout, proc.stdout
