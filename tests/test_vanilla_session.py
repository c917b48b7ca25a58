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
query per registry module.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

SCRIPT = r"""
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
print("VANILLA-ALL-OK")
spark.stop()
"""


def test_queries_run_on_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(REPO)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "VANILLA-ALL-OK" in proc.stdout, proc.stdout
