"""The oracle gate: every catalog entry, run through the public contract
(``__spark_entry__.queries()``) at sf0.001 on the suite's shared Spark
session, must match its DuckDB ``oracle_sql()`` — row count, sorted
column names and order-insensitive value hash
(``archive_to_parquet_spark.oracle``). One test per entry, so a failure
names the entry whose values drifted.

The same single build is the plan gate. Each entry outside the
streaming family is built through ``plans.audit.audit_build``, the code
path ``observability.profile`` and ``tools/scale_audit.py`` use, and
before it is collected its whole-computation plan (checkpoint-hidden
subplans included) must equal its committed ``PLAN_PINS.json`` record
and carry no cartesian product, row-at-a-time or Arrow Python eval node
(the catalog is JVM expressions) or cached scan. Single-partition
exchanges are allowed because they are 1-row scalar broadcasts and
final aggregate merges; windows over data stay partitioned, which the
window tests in ``test_plan_shapes.py`` pin. An intentional plan
change reruns ``python tools/scale_audit.py > SCALE_AUDIT.md`` and the
``PLAN_PINS.json`` diff is reviewed.

sf0.01 and the hostile shuffle-partition rerun
(``SPARK_GRAFT_SHUFFLE_PARTITIONS=7 python tools/check_correctness.py``)
stay manual pre-merge checks for changes that move plans.
"""

import json
import os
from functools import partial

import pytest

import __spark_entry__
from archive_to_parquet_spark import queries as catalog
from archive_to_parquet_spark.oracle import oracle_connection, oracle_problems
from archive_to_parquet_spark.plans.audit import audit_build, pin_of
from tests.test_plan_shapes import REPO, SF_DIR  # the plan-pin scale, sf0.001

QUERIES = __spark_entry__.queries()
ORACLES = __spark_entry__.oracle_sql()
with open(os.path.join(REPO, "PLAN_PINS.json")) as fh:
    PIN_DOC = json.load(fh)
PINS = PIN_DOC["entries"]


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def test_pins_cover_the_batch_catalog_at_gate_scale():
    """The pin was generated at the scale the gate builds at, and it
    names exactly the entries outside the streaming family: a pin from
    an exploratory run at another sf would make every comparison
    meaningless, and a pin for a gone entry is stale."""
    assert PIN_DOC["sf_dir"] == SF_DIR, (
        f"PLAN_PINS.json generated at {PIN_DOC['sf_dir']}, the gate builds "
        f"at {SF_DIR} — regenerate with `python tools/scale_audit.py`"
    )
    batch = {n for n in QUERIES if catalog.family(n) != "streaming"}
    assert {
        "pinned_but_gone": sorted(set(PINS) - batch),
        "not_pinned": sorted(batch - set(PINS)),
    } == {"pinned_but_gone": [], "not_pinned": []}


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle(spark, oracle, name):
    build = partial(QUERIES[name], spark, SF_DIR)
    if catalog.family(name) == "streaming":  # executes while it is built
        df = build()
        assert spark.streams.active == [], f"{name}: left a query running"
    else:
        df, rec = audit_build(build)
        assert name in PINS, f"{name}: no PLAN_PINS.json record"
        assert pin_of(rec) == PINS[name], (
            f"{name}: plan {pin_of(rec)} != pinned {PINS[name]}"
        )
        flags = [
            flag
            for flag, bad in (
                ("cartesian", rec["cartesian"]),
                ("py-row", "BatchEvalPython" in rec["py"]),
                ("py-arrow", "ArrowEvalPython" in rec["py"]),
                ("cached", rec["cached"]),
            )
            if bad
        ]
        assert not flags, f"{name}: {flags}"
    rows = [tuple(r) for r in df.collect()]
    res = oracle.sql(ORACLES[name])
    o_cols = [d[0] for d in res.description]
    problems = oracle_problems(df.columns, rows, o_cols, res.fetchall())
    assert not problems, f"{name}: {'; '.join(problems)}"
