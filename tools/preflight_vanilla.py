"""Driver-environment pre-flight: run catalog entries through
``__spark_entry__`` under a VANILLA SparkSession — default confs apart
from an optional shuffle-partition override — and compare against the
DuckDB oracles.

The repo's own ``get_spark`` pins AQE/partitions/timezone; the external
driver's session does not. Anything whose VALUES depend on session
tuning (the classic: ``round(<double aggregate>)`` flipping a digit
with partial-aggregation order — caught ``rel_part_type_stats`` in
round 4) passes the tuned sweep and fails only here.

Usage: python tools/preflight_vanilla.py [sf_dir] [--partitions N] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    partitions = None
    if "--partitions" in args:
        i = args.index("--partitions")
        partitions = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    builder = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("preflight_vanilla")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
    )
    if partitions:
        builder = builder.config("spark.sql.shuffle.partitions", partitions)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from archive_to_parquet_spark.oracle import oracle_connection, oracle_problems

    con = oracle_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            res = con.sql(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            ok = not oracle_problems(cols, rows, o_cols, o_rows)
            print(
                ("PASS " if ok else "FAIL ") + f"{name} [{time.time() - t0:.1f}s]",
                flush=True,
            )
            if not ok:
                fails.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:150]}", flush=True)
            fails.append(name)
    print(f"{len(fails)} failures: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
