"""Python worker start-up: ``zipcache`` re-reads a zip archive on the
path only when it changed, every ``get_spark`` worker runs with it, and a
``get_spark`` session works from any directory without PYTHONPATH."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

from iot_sparkstreaming_spark import zipcache
from iot_sparkstreaming_spark.session import ENGINE_ROOT


def _write_zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    zipcache.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_pkg/__init__.py": "", "zc_pkg/first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        # two importers on one archive: the path entry and the package
        assert importlib.import_module("zc_pkg.first").X == 1
        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()  # the first call after import reads it once
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert archive not in reads

        # a new module changes the size: the next call re-reads it once
        _write_zip(archive, {
            "zc_pkg/__init__.py": "",
            "zc_pkg/first.py": "X = 1\n",
            "zc_pkg/second.py": "Y = 2\n",
        })
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zc_pkg.second").Y == 2
    finally:
        for name in ("zc_pkg", "zc_pkg.first", "zc_pkg.second"):
            sys.modules.pop(name, None)
        for entry in (archive, os.path.join(archive, "zc_pkg")):
            sys.path_importer_cache.pop(entry, None)


def test_install_is_idempotent():
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    # the wrapped method is CPython's own, not an earlier wrapper
    assert zipcache._eager.__module__ == "zipimport"


def test_install_leaves_lazy_cpython_alone(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipcache._eager)
    monkeypatch.setattr(zipcache, "sys", types.SimpleNamespace(version_info=(3, 13, 0)))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._eager


def test_task_workers_run_patched(spark):
    def probe(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(0, 8, numPartitions=2).mapInPandas(probe, "m string").collect()
    assert {r.m for r in got} == {"iot_sparkstreaming_spark.zipcache"}


SCRIPT = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from iot_sparkstreaming_spark.io import keyed_sink
from iot_sparkstreaming_spark.session import get_spark

spark = get_spark("no-pythonpath")
spark.sparkContext.setLogLevel("ERROR")

def double(batches):
    for b in batches:
        yield b.assign(id=b.id * 2)

print("MAP", sum(r.id for r in spark.range(4).mapInPandas(double, "id long").collect()))
keyed_sink.register(spark)
df = spark.createDataFrame([("u1", 1), ("u2", 1), ("u1", 2)], ["user_id", "v"])
df.write.format("keyed_files").mode("append").option("path", sys.argv[2]).option(
    "key", "user_id").option("version", "v").save()
print("KEYED", sorted((r["user_id"], r["v"]) for r in keyed_sink.read_table(sys.argv[2])))
spark.stop()
"""


def test_session_works_without_pythonpath(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, ENGINE_ROOT, str(tmp_path / "keyed")],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "MAP 12" in proc.stdout, proc.stdout
    assert "KEYED [('u1', 2), ('u2', 1)]" in proc.stdout, proc.stdout
