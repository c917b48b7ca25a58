"""Python worker daemon of sessions built by ``session.get_spark``
(``spark.python.daemon.module``).

Importing the package installs ``zipcache``; one invalidation here reads
every archive on the path once, so the task workers ``pyspark.daemon``
forks inherit both the patch and the read directories. The package does
not import this module, so ``python -m`` runs it once.
"""

import importlib

import iot_sparkstreaming_spark  # noqa: F401  (installs zipcache)
from pyspark.daemon import manager

if __name__ == "__main__":
    importlib.invalidate_caches()
    manager()
