"""Declared schemas for every record type and table the engine touches.

The reference kept schemas implicit in positional index arithmetic
(reference workingTest.scala:57-69 — ``array(1)..array(12)``) and in
CQL DDL (cass_queries_1.txt). Here every schema is an explicit
``StructType`` so Catalyst can prune/push down and so the CSV parse is
a declarative ``from_csv`` instead of per-row splits.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Stream record schemas (CSV field order is normative — SURVEY.md §1.3)
# ---------------------------------------------------------------------------

#: fitbit telemetry record, 10 CSV fields (reference workingTest.scala:112-119)
FITBIT_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType()),
        T.StructField("event_datetime", T.StringType()),  # "yyyy-MM-dd HH:mm:ss"
        T.StructField("user_id", T.StringType()),
        T.StructField("lat", T.StringType()),   # deliberately text (cass_queries_1.txt:18)
        T.StructField("long", T.StringType()),  # deliberately text
        T.StructField("pulse", T.DoubleType()),
        T.StructField("temp", T.DoubleType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("bp_cat", T.StringType()),
        T.StructField("machine_timestamp", T.StringType()),
    ]
)

#: new-user registration record, 13 CSV fields (reference workingTest.scala:56-69)
NEW_USER_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("gender", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("bmi", T.DoubleType()),
        T.StructField("bfp", T.DoubleType()),
        T.StructField("bp_cat", T.StringType()),
        T.StructField("bp_sys", T.DoubleType()),
        T.StructField("bp_dia", T.DoubleType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("device_id", T.StringType()),
    ]
)

#: sales counter record, 3 CSV fields (reference workingTest.scala:93-96)
SALES_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType()),
        T.StructField("date", T.StringType()),  # "yyyy-MM-dd"
        T.StructField("count", T.IntegerType()),
    ]
)

# ---------------------------------------------------------------------------
# Keyed-state table schemas (mirror CQL DDL, cass_queries_1.txt)
# ---------------------------------------------------------------------------

USER_DETAILS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),  # PK
        T.StructField("age", T.IntegerType()),
        T.StructField("gender", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("bmi", T.DoubleType()),
        T.StructField("bfp", T.DoubleType()),
        T.StructField("bp_cat", T.StringType()),
        T.StructField("bp_sys", T.DoubleType()),
        T.StructField("bp_dia", T.DoubleType()),
        T.StructField("device_id", T.StringType()),
    ]
)

LATEST_LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),  # PK, last-write-wins
        T.StructField("lat", T.StringType()),
        T.StructField("long", T.StringType()),
    ]
)

SALES_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType(), False),  # PK, replace-not-sum
        T.StructField("count", T.IntegerType()),
    ]
)

USERHISTORY_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),  # "yyyy-MM-dd"
        T.StructField("time", T.StringType(), False),  # epoch-millis-as-string
        T.StructField("lat", T.StringType()),
        T.StructField("long", T.StringType()),
        T.StructField("pulse", T.DoubleType()),
        T.StructField("temp", T.DoubleType()),
    ]
)

#: multimodal asset row: opaque payload + typed metadata (north-star surface)
MULTIMODAL_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)
