"""The oracle gate: every catalog entry, run through the public contract
(``__spark_entry__.queries()``) at sf0.001 on the suite's shared Spark
session, must match its DuckDB ``oracle_sql()`` — row count, sorted
column names and order-insensitive value hash
(``archive_to_parquet_spark.oracle``). One test per entry, so a failure
names the entry whose values drifted.

sf0.01 and the hostile shuffle-partition rerun
(``SPARK_GRAFT_SHUFFLE_PARTITIONS=7 python tools/check_correctness.py``)
stay manual pre-merge checks for changes that move plans.
"""

import pytest

import __spark_entry__
from archive_to_parquet_spark.oracle import oracle_connection, oracle_problems
from tests.test_plan_shapes import SF_DIR  # the plan-pin scale, sf0.001

QUERIES = __spark_entry__.queries()
ORACLES = __spark_entry__.oracle_sql()


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle(spark, oracle, name):
    df = QUERIES[name](spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    res = oracle.sql(ORACLES[name])
    o_cols = [d[0] for d in res.description]
    problems = oracle_problems(df.columns, rows, o_cols, res.fetchall())
    assert not problems, f"{name}: {'; '.join(problems)}"
