"""Oracle-parity check through the ``__spark_entry__`` contract.

``python tools/check_queries.py`` runs the ``entry()`` smoke check and
every ``queries()`` entry against its ``oracle_sql()`` twin in DuckDB
(repr-hash after column-name sort); ``python tools/check_queries.py
name [name ...]`` checks only the named queries — the fast inner loop
while building a new operator. ``--vanilla`` builds a bare
SparkSession with ZERO engine configs, the external driver's posture
(this caught the round-1 nanosAsLong bug). Prints one line per query
and ``FAILURES: N``.
"""
import datetime
import decimal
import hashlib
import importlib.util
import os
import sys
from pathlib import Path

import duckdb

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", Path(__file__).resolve().parents[1] / "__spark_entry__.py"
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

names = [a for a in sys.argv[1:] if not a.startswith("--")]
if "--vanilla" in sys.argv:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
else:
    from iot_sparkstreaming_spark.session import get_spark

    spark = get_spark("check-queries")
spark.sparkContext.setLogLevel("ERROR")

if not names:
    df = entry_mod.entry(spark)
    print("ENTRY OK rows=", len(df.collect()), "schema=", [f.name for f in df.schema])

queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")


def vhash(cols, rows):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(repr(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


fail = 0
for name in names or sorted(queries):
    sdf = queries[name](spark, SF_DIR)
    srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
    if name not in oracles:
        print(f"{name}: NO-ORACLE rows={len(srows)}")
        continue
    res = con.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = [tuple(norm(v) for v in r) for r in res.fetchall()]
    hs, hd = vhash(sdf.columns, srows), vhash(dcols, drows)
    ok = len(srows) == len(drows) and sorted(sdf.columns) == sorted(dcols) and hs == hd
    print(
        f"{name}: rows {len(srows)}/{len(drows)} "
        f"cols_match={sorted(sdf.columns) == sorted(dcols)} "
        f"hash={'MATCH' if hs == hd else 'MISMATCH'}"
    )
    if not ok:
        fail += 1
        sset = set(srows)
        dset = set(drows)
        for r in list(sset - dset)[:3]:
            print("  spark-only:", r)
        for r in list(dset - sset)[:3]:
            print("  oracle-only:", r)
print("FAILURES:", fail)
spark.stop()
