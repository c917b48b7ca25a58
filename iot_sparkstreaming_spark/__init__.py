"""iot_sparkstreaming_spark — a PySpark-native analytics engine.

A from-scratch re-engineering of the query and data-processing
capabilities of the reference IoT telemetry pipeline
(soumyakantidas/IOT_SparkStreaming), expressed Spark-first:

* DataFrame / Spark SQL for every batch query surface (Catalyst owns
  pushdown, pruning, join selection; we declare logical plans only).
* Structured Streaming for the streaming pipelines (the reference used
  DStreams; see ``streaming/``).
* ``foreachBatch`` keyed-upsert sinks reproducing the Cassandra
  PK-upsert semantics the reference relied on implicitly
  (SURVEY.md §2.6).
* Large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) built on the same engine.

Designed for 100 TB on a multi-executor cluster: no driver-side
collects in any operator, broadcast hints for dimension joins, AQE on,
partition-count knobs surfaced in ``session.py``.
"""

from iot_sparkstreaming_spark import zipcache

# every Python worker that imports the engine (task workers through
# worker_daemon, DataSource planner workers on their first unpickle)
# stops re-reading pyspark.zip and the Spark core jar on each call
zipcache.install()

from iot_sparkstreaming_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
