"""SparkSession factory with scale-aware defaults.

The reference app configured only ``local[*]`` and a Cassandra host
(reference workingTest.scala:20-23). Here the session carries the
settings that matter on a real cluster reading 100 TB:

* AQE on (runtime coalescing + skew-join splitting + join re-plan).
* Shuffle partition count is a knob (`SPARK_GRAFT_CPUS` locally; on a
  cluster you'd size it to ~2-3x total cores and let AQE coalesce).
* Arrow enabled so any Pandas-UDF path is batch-vectorized.
* Python workers start through ``worker_daemon`` (see ``zipcache``)
  and import the engine from ``ENGINE_ROOT``, wherever the driver
  was started.
* Broadcast threshold left at default (10 MB) — small tables broadcast
  automatically and AQE re-plans by runtime size; queries hint
  `broadcast()` ONLY on constant-cardinality inputs (region, nation,
  1-row aggregates), never on SF-scaled tables, so the same plans
  degrade to shuffle joins instead of OOM at cluster scale.
* Streaming checkpoints commit through Spark's
  ``FileSystemBasedCheckpointFileManager``. The default FileContext
  manager renames each temp file through Hadoop
  ``AbstractFileSystem.renameInternal``, which on ``file:`` paths forks
  ``readlink`` processes (``FileUtil.readLink``): 8 per checkpoint
  file, ~3.5 ms each. A JFR ``jdk.ProcessStart`` count of
  one live trigger fell from 30 spawns to 6 with this manager, whose
  rename is ``File.renameTo``. The no-overwrite guard on local paths
  is the same exists-then-rename check, and ``.crc`` files and the
  state store's checkpoint checksums stay on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local[k] core count when SPARK_GRAFT_CPUS is unset
DEFAULT_CPUS = "32"

#: the directory holding the package, put on the Python workers' path
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the streaming checkpoint manager every engine session uses
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "iot_sparkstreaming_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # shuffles START wide and AQE coalesces them down by measured
        # map-output size — the standard cluster posture. With only the
        # static partition count, a shuffle that is right-sized at the
        # bench SF silently becomes spill-bound when the data grows
        # (measured: the 100x fixture drove the wedge-join groupBy to
        # ~23M rows/partition at 32 partitions, 18x/decade wall-clock;
        # 8x wider initial partitions restore linear scaling while the
        # small-SF plans coalesce straight back to few partitions).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(int(cpus) * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # runtime bloom-filter join pruning (off by default in OSS
        # Spark): when a selective dim-side survives its filters under
        # 10 MB and the fact side is a >10 GB shuffle-join scan — the
        # exact 100-TB star-join shape — inject a bloom filter of the
        # dim keys into the fact scan so non-joining rows die before
        # the exchange. Size thresholds are the stock ones, so this is
        # dormant at test SFs (plan-shape proven by an explicit
        # threshold-lowered test) and active exactly where it pays.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: vectorized reader + pushdown are on by default;
        # cap split size so a 100 TB scan yields sane task counts.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # and convert (tables.load_table) — Spark has no nanos timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "iot_sparkstreaming_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    return builder.getOrCreate()
