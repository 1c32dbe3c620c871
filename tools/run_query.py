"""Run any catalog query by name against a testdata dir and print it.

Usage:
    python tools/run_query.py NAME [NAME ...] [--sf DIR] [--limit N]
                              [--explain] [--list]

Examples:
    python tools/run_query.py rel_pricing_summary
    python tools/run_query.py dedup_minhash --sf /root/testdata/sf0.1
    python tools/run_query.py tpch_q01_pricing_summary --explain
    python tools/run_query.py --list
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("names", nargs="*", help="catalog query names")
    p.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata dir")
    p.add_argument("--limit", type=int, default=20, help="rows to show")
    p.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")
    p.add_argument("--list", action="store_true", dest="list_names",
                   help="list all catalog query names and exit")
    args = p.parse_args(argv)

    from archive_to_parquet_spark import queries as catalog

    qs = catalog.queries()
    if args.list_names:
        print("\n".join(sorted(qs)))
        return 0
    if not args.names:
        p.error("give at least one query name, or --list")
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"error: unknown queries {unknown} (see --list)", file=sys.stderr)
        return 2

    from archive_to_parquet_spark.session import get_spark

    spark = get_spark("run_query")
    try:
        for name in args.names:
            df = qs[name](spark, args.sf)
            if args.explain:
                print(f"=== {name} ===")
                df.explain("formatted")
                continue
            t0 = time.time()
            rows = df.limit(args.limit + 1).collect()
            took = time.time() - t0
            print(f"=== {name} [{took:.2f}s] ===")
            header = df.columns
            print(" | ".join(header))
            for r in rows[: args.limit]:
                print(" | ".join(str(v) for v in r))
            if len(rows) > args.limit:
                print(f"... (> {args.limit} rows)")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
