"""A local session's Python workers import the driver's pyspark and py4j.

Left to the JVM's PYTHONPATH, a worker imports them from SPARK_HOME's
``pyspark.zip`` and ``py4j-*.zip``, and PySpark's per-task
``importlib.invalidate_caches()`` re-reads each of those zips' central
directory (SCALING.md §Ingest). ``session.local_worker_conf`` starts the
workers through ``worker-boot/a2p_daemon.py`` instead.
"""

import os
import re

import py4j
import pyspark
import pytest

from archive_to_parquet_spark.session import local_worker_conf


def test_local_workers_import_the_drivers_pyspark(spark):
    # nested, so cloudpickle ships it by value: no worker can import
    # this test module by name
    def worker_imports(batches):
        import sys
        import zipimport

        import py4j
        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict(
            {"pyspark": [pyspark.__file__], "py4j": [py4j.__file__], "zips": [zips]}
        )

    row = (
        spark.range(0, 1, 1, 1)
        .mapInArrow(worker_imports, "pyspark string, py4j string, zips array<string>")
        .collect()[0]
    )
    assert os.path.dirname(row.pyspark) == os.path.dirname(pyspark.__file__)
    assert os.path.dirname(row.py4j) == os.path.dirname(py4j.__file__)
    jvm_supplied = re.compile(r"pyspark\.zip|py4j-[^/]*\.zip|\.jar")
    assert [key for key in row.zips if jvm_supplied.search(key)] == []


def _path(conf):
    return conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_master_gets_the_daemon_conf(master):
    conf = local_worker_conf(master)
    assert conf["spark.python.daemon.module"] == "a2p_daemon"
    path = _path(conf)
    assert os.path.isfile(os.path.join(path[0], "a2p_daemon.py"))
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    assert path[1] == site
    assert os.path.dirname(os.path.dirname(py4j.__file__)) in path[1:]


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://host:443"])
def test_cluster_master_gets_no_daemon_conf(master):
    assert local_worker_conf(master) == {}


def test_callers_pythonpath_is_merged_after_the_drivers():
    caller = os.pathsep.join(["/srv/libs", "/srv/extra.zip"])
    conf = local_worker_conf("local[2]", {"spark.executorEnv.PYTHONPATH": caller})
    own = _path(local_worker_conf("local[2]"))
    assert _path(conf) == own + ["/srv/libs", "/srv/extra.zip"]


def test_driver_on_spark_homes_zip_gets_no_daemon_conf(monkeypatch):
    zipped = "/spark-home/python/lib/pyspark.zip/pyspark/__init__.py"
    monkeypatch.setattr(pyspark, "__file__", zipped)
    assert local_worker_conf("local[2]") == {}


def test_callers_daemon_module_is_left_alone():
    conf = {"spark.python.daemon.module": "my_daemon"}
    assert local_worker_conf("local[2]", conf) == {}
