"""Source edges: CSV-line record parsing and stream builders.

The reference consumed one multiplexed Kafka stream of CSV strings
and dispatched on field 0 (SURVEY.md §2.1 S1, §2.2 P1-P3). Here the
same parse is declarative: split + trim + cast under an explicit
StructType, applied identically to a batch DataFrame or a streaming
one (batch/stream unification — the transform doesn't know which).

Kafka vs file/memory is a config switch: ``lines_stream`` builds the
raw-lines stream from whatever edge is available. The container has
no broker, so tests use file/memory edges; the Kafka branch is the
same two lines the production edge needs
(reference IOTSparkStreaming.scala:43-44 → ``format("kafka")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_csv_records(
    lines: DataFrame,
    schema: T.StructType,
    tag: str,
    value_col: str = "value",
) -> DataFrame:
    """Parse one record type out of a multiplexed CSV-line stream.

    Mirrors the reference's dispatch-then-parse
    (``lines.filter(_.split(",")(0) == tag)`` then positional
    ``split/trim/cast`` — workingTest.scala:51,56-69) as pure column
    expressions: filter on field 0, then one ``split`` feeding every
    field (Catalyst collapses the repeated ``element_at`` into a
    single split via subexpression elimination). Every field is
    trimmed before cast, exactly like the reference's pervasive
    ``.trim`` (P10).

    Works unchanged on batch and streaming inputs.
    """
    parts = F.split(F.col(value_col), ",")
    cols = [
        F.trim(F.element_at(parts, i + 1)).cast(field.dataType).alias(field.name)
        for i, field in enumerate(schema.fields)
    ]
    return lines.filter(F.trim(F.element_at(parts, 1)) == tag).select(*cols)


def lines_stream(
    spark: SparkSession,
    source: str = "files",
    path: str | None = None,
    kafka_bootstrap: str | None = None,
    topics: str = "fitbit,new-user-notification,sales",
) -> DataFrame:
    """Raw multiplexed line stream (column: ``value`` string).

    * ``files``: ``readStream.text(path)`` — the dev/CI edge.
    * ``kafka``: Structured Streaming Kafka source subscribing the
      reference's three topics (IOTSparkStreaming.scala:36,43-44);
      offsets tracked in the checkpoint — the exactly-once source
      bookkeeping the reference's direct stream did by hand.
    """
    if source == "kafka":
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", topics)
            .load()
            .selectExpr("CAST(value AS STRING) AS value")
        )
    if source == "files":
        if path is None:
            raise ValueError("files source requires path")
        return spark.readStream.format("text").load(path)
    raise ValueError(f"unknown source: {source}")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the harness ``events`` parquet, normalized
    to the same shape :func:`iot_sparkstreaming_spark.tables.load_table`
    gives batch queries.

    The streaming parquet source needs an explicit schema, so the
    OBSERVED file schema is probed with a one-off batch read (metadata
    only — no data scan), then the shared ``normalize_events_ts``
    handles whichever physical ts encoding the environment shipped.
    This is the CI twin of the production Kafka edge: swapping it for
    ``lines_stream(source="kafka")`` + a parser changes no downstream
    transform (batch/stream unification).
    """
    import os

    from iot_sparkstreaming_spark.tables import normalize_events_ts

    path = os.path.join(sf_dir, "events.parquet")
    # nanosAsLong so a TIMESTAMP(NANOS) file surfaces as bigint instead
    # of failing the read (no-op for micros files).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(raw_schema)
    if os.path.isdir(path):
        stream = reader.parquet(path)
    else:
        # Single-file layout: the file stream source only lists
        # directories, so stream the parent dir filtered to this file.
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize_events_ts(stream)


def parse_csv_records_with_rejects(
    lines: DataFrame,
    schema: T.StructType,
    tag: str,
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Permissive variant of :func:`parse_csv_records`: returns
    ``(good, rejects)``.

    The reference had NO bad-record path — a malformed CSV line threw
    inside the map lambda and killed the task (SURVEY.md §1.2); one
    poison message could wedge the whole stream. Here a record of the
    right tag is rejected when it has the wrong field count or when
    any non-string field fails its cast (cast returns null where the
    TRIMMED source field was non-null and non-empty); rejects carry
    the raw line plus a reason so a dead-letter sink can keep the
    pipeline flowing while preserving the evidence.

    Both outputs are pure column expressions — streaming-safe, no
    Python boundary.
    """
    parts = F.split(F.col(value_col), ",")
    tagged = lines.filter(F.trim(F.element_at(parts, 1)) == tag)
    n_fields = F.size(parts)

    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain
    # cast THROWS on malformed input — the exact task-killing behavior
    # this parser exists to prevent.
    cast_fail = F.lit(False)
    for i, field in enumerate(schema.fields):
        if isinstance(field.dataType, T.StringType):
            continue
        raw = F.trim(F.element_at(parts, i + 1))
        cast_fail = cast_fail | (
            (raw.isNotNull() & (raw != ""))
            & raw.try_cast(field.dataType).isNull()
        )
    bad_count = n_fields != len(schema.fields)
    reason = (
        F.when(bad_count, F.concat(F.lit("field_count:"), n_fields.cast("string")))
        .when(cast_fail, F.lit("cast_failure"))
        .otherwise(F.lit(None))
    )
    with_reason = tagged.withColumn("_reject_reason", reason)
    good = parse_csv_records(
        with_reason.filter(F.col("_reject_reason").isNull()).drop("_reject_reason"),
        schema,
        tag,
        value_col,
    )
    rejects = with_reason.filter(F.col("_reject_reason").isNotNull()).select(
        F.col(value_col).alias("raw_line"),
        F.col("_reject_reason").alias("reason"),
    )
    return good, rejects
