"""Parquet table loading for the harness testdata.

One `spark.read.parquet` per table: the scan is the pushdown target —
filters and column pruning from downstream plans reach the parquet
reader via Catalyst (verify with ``df.explain`` → ``PushedFilters`` /
``ReadSchema``). Nothing is cached here: at 100 TB you want the scan
pruned per-query, not a materialized full table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame HANDLE (logical plan + resolved file
    listing), memoized per session: repeated queries over the same
    table skip the ~100 ms directory-listing/footer pass per
    spark.read call. No data is cached — scans stay pruned per-query."""
    return session_memo(
        spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS) across harness testdata generations, so the
        # load must branch on the OBSERVED dtype, not an assumption.
        # nanosAsLong surfaces NANOS columns as nanos-since-epoch bigint
        # (it is a no-op for micros data). Set it at runtime: callers
        # hand us vanilla sessions, and a read-time conf.set suffices
        # for the parquet schema converter. Safe to set repeatedly.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of one table (file or directory parquet layout) —
    a pure filesystem stat, no Spark job. Callers use it as a plan
    gate (e.g. operators/prefix: single-window below SHARD_MIN_BYTES),
    so it must stay O(#files) cheap. Returns None when the size is
    UNKNOWN (missing path, non-local URI): gates must treat unknown
    as large and keep the scale-safe plan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return None
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def session_memo(spark: SparkSession, key: tuple, builder):
    """Session-scoped memo for deterministic derived DataFrames (the
    materialized-view pattern): precomputed invariants like
    vector+norm tables or degree-annotated edge lists are built once
    per session and reused by every query over the same inputs;
    :func:`load_table` keeps its table handles here too. Dies with the
    session object, caches plans/checkpoints, never stale across
    sessions."""
    cache: dict = spark.__dict__.setdefault("_graft_memo", {})
    if key not in cache:
        cache[key] = builder()
    return cache[key]


def clear_session_memo(spark: SparkSession) -> None:
    """Drop every session-memoized frame, table handles included, so
    the next access rebuilds or re-lists. Owns the memo's storage
    attribute (measurement tools that need a forced rebuild —
    artifact_costs best-of-N trials — call this instead of reaching
    into the private dict, which a rename would silently turn into a
    no-op)."""
    spark.__dict__.setdefault("_graft_memo", {}).clear()


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Branch on the OBSERVED dtype of ``events.ts`` and normalize to a
    session-TZ ``timestamp``. Pure ``DataFrame → DataFrame`` so the same
    normalization runs on batch reads and ``readStream`` frames."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # NANOS parquet surfaced as bigint by the nanosAsLong conf.
        # Exact integer division (NOT float: ~1.7e18 ns exceeds the
        # double mantissa) to micros, matching DuckDB's own
        # nanos→micros truncation so oracles agree.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # MICROS parquet read as TIMESTAMP_NTZ (isAdjustedToUTC false).
        # Cast to session-TZ TIMESTAMP so downstream unix_millis /
        # date_part arithmetic and the DuckDB oracle (which reads the
        # same file as plain TIMESTAMP) agree — both sessions run UTC
        # in this harness.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    # TimestampType: already what downstream expects — pass through.
    return df

