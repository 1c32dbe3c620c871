"""Python-worker daemon of a local session: ``pyspark.daemon`` run on the
driver's own pyspark and py4j instead of SPARK_HOME's zips.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for ``local*`` masters and puts this directory, then the directories the
driver imported pyspark and py4j from, on ``spark.executorEnv.PYTHONPATH``.
The JVM puts ``pyspark.zip``, ``py4j-*.zip`` and the spark-core jar ahead
of that. Left there, every module of pyspark a worker imports comes from a
zip, and each zip directory it imports from keeps a ``zipimporter``; the
``importlib.invalidate_caches()`` that PySpark calls at the start of every
task then re-reads each of those zips' whole central directory (SCALING.md
§Ingest has the cost).

So this module drops those entries from ``sys.path`` and their importers
from ``sys.path_importer_cache`` and only then runs ``pyspark.daemon``, whose
forked workers inherit the edited path. It sits in a directory of its own,
which is no package, because the package's ``__init__`` imports pyspark.
``spark.python.worker.module`` could not do this: ``pyspark.daemon``
imports pyspark before the worker module, and takes a worker module only
when its name starts with ``pyspark``.
"""

import os
import runpy
import sys


def _jvm_supplied(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


if __name__ == "__main__":
    dropped = tuple(p for p in sys.path if _jvm_supplied(p))
    sys.path[:] = [p for p in sys.path if p not in dropped]
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
