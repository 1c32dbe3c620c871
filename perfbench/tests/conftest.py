import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["SPARK_GRAFT_TRACE"] = "0"
    from archive_to_parquet_spark.session import get_spark

    session = get_spark(
        "perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    yield session
    session.stop()
