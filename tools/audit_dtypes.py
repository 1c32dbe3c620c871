"""Cross-engine dtype audit for the oracle catalog.

The driver's correctness gate hashes *pandas* values of both results.
DuckDB types that pandas-convert to a different family than the Spark
result silently break the hash even when every value is numerically
equal — the classic case is ``SUM(<integer>)`` → HUGEINT → float64
("1.0" vs "1").  This tool binds every ``oracle_sql()`` statement in
DuckDB (type inference only — no execution) and compares each column's
pandas-family against the Spark DataFrame schema produced by the
matching ``queries()`` entry.

Usage: python tools/audit_dtypes.py [sf_dir] [query ...]
Exit status 1 if any entry has a family mismatch.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# DuckDB logical type id -> pandas family
_DUCK_FAMILY = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UTINYINT": "int",
    "USMALLINT": "int",
    "UINTEGER": "int",
    "UBIGINT": "int",
    "HUGEINT": "FLOAT64!",  # pandas converts to float64 — never safe
    "UHUGEINT": "FLOAT64!",
    "FLOAT": "float32",
    "DOUBLE": "float64",
    "BOOLEAN": "bool",
    "VARCHAR": "str",
    "BLOB": "bytes",
    "DATE": "date",
    "TIMESTAMP": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
    "INTERVAL": "other",
}


def duck_family(t) -> str:
    s = str(t)
    if s.startswith("DECIMAL"):
        return "FLOAT64!"  # pandas float64; repr drift vs int/double
    if s.startswith("STRUCT") or s.startswith("MAP"):
        return "struct"
    if s.endswith("[]"):
        return "list<" + duck_family_name(s[:-2]) + ">"
    return _DUCK_FAMILY.get(s, "other:" + s)


def duck_family_name(s: str) -> str:
    return _DUCK_FAMILY.get(s, "other:" + s)


def spark_family(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.DecimalType):
        return "FLOAT64!"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.ArrayType):
        return "list<" + spark_family(dt.elementType) + ">"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "struct"
    return "other:" + str(dt)


def compatible(sf: str, df: str) -> bool:
    """Is the (spark, duck) family pair hash-safe?

    int==int, same float width, identical everything else.  A float on
    either side paired with an int on the other is unsafe ("1.0" vs
    "1"); HUGEINT/DECIMAL are unsafe against everything but themselves
    being absent.
    """
    if "FLOAT64!" in (sf, df):
        # The ONLY sanctioned pairing is duck HUGEINT/DECIMAL (pandas
        # float64) against a true spark float64 — both stringify with
        # the pandas float repr.  A spark-side FLOAT64! is a Spark
        # DECIMAL, which pandas keeps as object(Decimal) — its repr
        # ("1.00") never matches the duck float64 repr ("1.0"), so it
        # is incompatible with everything, including duck FLOAT64!
        # (the old `sf == df` fallback silently passed that case).
        return sf == "float64" and df == "FLOAT64!"
    return sf == df


def main() -> int:
    from archive_to_parquet_spark import queries as catmod
    from archive_to_parquet_spark.oracle import oracle_connection
    from archive_to_parquet_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("dtype_audit")
    con = oracle_connection(sf_dir)

    qs = catmod.queries()
    oracles = catmod.oracle_sql()
    bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            sdf = fn(spark, sf_dir)
            sfam = {f.name: spark_family(f.dataType) for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK-ERR {type(e).__name__}: {e}")
            bad += 1
            continue
        try:
            rel = con.sql(sql)
            dfam = dict(zip(rel.columns, [duck_family(t) for t in rel.types]))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: DUCK-ERR {type(e).__name__}: {e}")
            bad += 1
            continue
        issues = []
        if set(sfam) != set(dfam):
            issues.append(f"cols spark={sorted(sfam)} duck={sorted(dfam)}")
        else:
            for c in sorted(sfam):
                if not compatible(sfam[c], dfam[c]):
                    issues.append(f"{c}: spark={sfam[c]} duck={dfam[c]}")
        if issues:
            bad += 1
            print(f"{name}: MISMATCH  " + "; ".join(issues))
    print(f"audited {len([n for n in qs if n in oracles])} entries, "
          f"{bad} with dtype issues")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
