"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at a given sf dir and compares against
``oracle_sql()`` in DuckDB: row count, column names, and an
order-insensitive value hash (``archive_to_parquet_spark.oracle``).
Prints one line per query (a PASS line carries the value hash) + a
summary.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from archive_to_parquet_spark.oracle import (  # noqa: E402,F401 — TABLES/value_hash re-exported
    TABLES,
    norm_cell,
    oracle_connection,
    oracle_problems,
    value_hash,
)


def main() -> int:
    import __spark_entry__ as entrymod
    from archive_to_parquet_spark.session import get_spark

    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("correctness_check")
    con = oracle_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = report[name] = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:200]}")
            rec["err"] = f"spark: {type(e).__name__}: {str(e)[:200]}"
            failures.append(name)
            continue
        spark_secs = time.time() - t0
        rec["spark_rows"] = len(rows)
        rec["secs"] = round(spark_secs, 2)
        try:
            res = con.sql(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:200]}")
            rec["err"] = f"duckdb: {type(e).__name__}: {str(e)[:200]}"
            failures.append(name)
            continue
        rec["oracle_rows"] = len(o_rows)
        rec["rows_match"] = len(rows) == len(o_rows)
        rec["schema_match"] = sorted(cols) == sorted(o_cols)
        spark_hash = value_hash(cols, rows)
        if rec["schema_match"]:
            rec["hash_match"] = spark_hash == value_hash(o_cols, o_rows)
        problems = oracle_problems(cols, rows, o_cols, o_rows)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{spark_secs:.1f}s]")
            failures.append(name)
            # show a small diff sample
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            s_set = {tuple(norm_cell(r[i]) for i in order) for r in rows}
            o_order = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
            o_set = {tuple(norm_cell(r[i]) for i in o_order) for r in o_rows}
            for x in list(s_set - o_set)[:3]:
                print(f"      spark-only: {x}")
            for x in list(o_set - s_set)[:3]:
                print(f"      duckdb-only: {x}")
        else:
            print(
                f"PASS  {name}: rows={len(rows)} hash={spark_hash} "
                f"[{spark_secs:.1f}s]"
            )

    print()
    if json_path:
        import json

        import duckdb
        import pyspark

        with open(json_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    # engine versions in every artifact (VERDICT r8
                    # missing #1): when a hash diverges between two
                    # oracle stacks, the first question is which
                    # DuckDB/Spark built each side — answer it here
                    # instead of leaving it unfalsifiable
                    "engines": {
                        "duckdb": duckdb.__version__,
                        "pyspark": pyspark.__version__,
                        "python": sys.version.split()[0],
                    },
                    "n_entries": len(report),
                    "n_failures": len(failures),
                    "entries": report,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_path}")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
