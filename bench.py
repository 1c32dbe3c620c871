"""Catalog and ingest timer.

Times every catalog entry outside the streaming family at
``$SPARK_GRAFT_SF_DIR``, in catalog order, plus three archive-ingest
legs, on the session ``session.get_spark`` builds for this host
(``SPARK_GRAFT_CPUS``, else every core). Each entry or leg gets one warm
run, then three profiled build+execute runs into the noop sink
(``observability.profile``). Its record is the fastest run's profile:
wall, build and execute seconds, jobs, stages, tasks, executor and GC
ms, shuffle bytes, spill, the jobs, stages and executor ms the build
ran on its own, classes compiled, and the plan shape of the whole
computation (the record ``PLAN_PINS.json`` pins). ``repeat``
says whether the three runs counted the same; when they did not,
``moved`` holds the fields that differed. Wall time moves with host
load; the counted fields do not, so they carry the evidence where a wall
time cannot.

Usage:
    SPARK_GRAFT_SF_DIR=<tables dir, e.g. .../sf0.01> python bench.py [NAME...]

With no NAME it prints one JSON summary line and writes the full record
to ``BENCH_FULL.c{cpus}.sf{sf}.json``. With NAMEs it times only those
catalog entries, skips the ingest legs, writes no file and prints the
whole record as the one line. Exits 1 if any entry raised.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import re
import sys
import tarfile
import tempfile
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

RUNS = 3
# the fields a repeated run must reproduce for ``repeat`` to hold
COUNTED = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "build_jobs",
    "build_stages",
    "codegen_compiled",
    "plan",
)

# Ingest fixture: 32 inputs × 512 members × 64 KiB = 1 GiB of payload,
# once as tar and once as per-record-gzip WARC (the Common Crawl
# layout). The ~64 KiB member approximates the reference workload's
# ~95 KiB average entry (BASELINE.md: 25.23 GB / 263,862 entries).
INPUTS = 32
MEMBERS = 512
MEMBER_BYTES = 64 * 1024
FIXTURE_BYTES = INPUTS * MEMBERS * MEMBER_BYTES
PRUNED_COLUMNS = ("source", "path", "size", "hash", "format")


def artifact_name(cpus: int, sf: float) -> str:
    return f"BENCH_FULL.c{cpus}.sf{sf:g}.json"


def sf_of(sf_dir: str) -> float:
    """The scale factor a tables dir is named for (``.../sf0.01`` →
    0.01); ValueError when its name is not ``sf<number>``."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    if m is None:
        raise ValueError(f"tables dir name is not sf<number>: {sf_dir!r}")
    return float(m.group(1))


def time_entry(spark, build) -> dict:
    """One warm run of ``build`` then ``RUNS`` profiled ones: the
    fastest run's record, plus whether the counted fields repeated."""
    from archive_to_parquet_spark.observability import profile

    build().write.format("noop").mode("overwrite").save()
    records = [profile(spark, build).record() for _ in range(RUNS)]
    best = min(records, key=lambda r: r["wall_s"])
    moved = {
        k: [r[k] for r in records]
        for k in COUNTED
        if any(r[k] != best[k] for r in records)
    }
    best["repeat"] = not moved and best["jobs"] is not None
    if moved:
        best["moved"] = moved
    return best


def _payload(i: int, m: int) -> bytes:
    unit = f"input{i} member{m} ".encode() * 16 + bytes(
        (m * 31 + j * 7 + i) % 251 for j in range(256)
    )
    return (unit * (MEMBER_BYTES // len(unit) + 1))[:MEMBER_BYTES]


def ingest_fixtures(tmp_dir: str) -> tuple[list[str], list[str]]:
    """(tar paths, WARC paths) carrying the same payload bytes, built
    once and cached in ``tmp_dir``."""
    os.makedirs(tmp_dir, exist_ok=True)
    tars, warcs = [], []
    for i in range(INPUTS):
        stem = os.path.join(tmp_dir, f"bench_{i}_{MEMBERS}x{MEMBER_BYTES}")
        tars.append(stem + ".tar")
        warcs.append(stem + ".warc.gz")
        if not os.path.exists(tars[-1]):
            with tarfile.open(tars[-1] + ".tmp", "w") as tf:
                for m in range(MEMBERS):
                    info = tarfile.TarInfo(f"dir{m % 16}/file_{m}.bin")
                    info.size = MEMBER_BYTES
                    tf.addfile(info, io.BytesIO(_payload(i, m)))
            os.replace(tars[-1] + ".tmp", tars[-1])
        if not os.path.exists(warcs[-1]):
            with open(warcs[-1] + ".tmp", "wb") as fh:
                for m in range(MEMBERS):
                    head = (
                        "WARC/1.0\r\nWARC-Type: resource\r\n"
                        f"WARC-Target-URI: http://bench/input{i}/rec{m}\r\n"
                        f"Content-Length: {MEMBER_BYTES}\r\n\r\n"
                    )
                    record = head.encode() + _payload(i, m) + b"\r\n\r\n"
                    fh.write(gzip.compress(record, compresslevel=1))
            os.replace(warcs[-1] + ".tmp", warcs[-1])
    return tars, warcs


def ingest_leg(spark, paths: list[str], opts) -> dict:
    """``time_entry`` of one ``entries_pipeline`` over ``paths``, with
    its payload MB/s and entries/s."""
    from archive_to_parquet_spark.plans.convert import entries_pipeline

    rec = time_entry(spark, lambda: entries_pipeline(spark, paths, opts))
    rec["mb_per_s"] = round(FIXTURE_BYTES / rec["wall_s"] / 1e6, 1)
    rec["entries_per_s"] = round(INPUTS * MEMBERS / rec["wall_s"])
    return rec


def summary(full: dict) -> dict:
    """The one stdout line: totals, the ingest MB/s, the five slowest
    entries, and the artifact that holds the rest."""
    entries = full["entries"]
    walls = {n: r["wall_s"] for n, r in entries.items()}
    slowest = sorted(walls, key=walls.get, reverse=True)[:5]
    return {
        "metric": "catalog_wall_total",
        "value": round(sum(walls.values()), 3),
        "unit": "sec",
        "sf": full["sf"],
        "cpus": full["cpus"],
        "n_entries": len(entries),
        "n_repeat": sum(1 for r in entries.values() if r["repeat"]),
        "tpch_total": round(
            sum(w for n, w in walls.items() if n.startswith("tpch_")), 3
        ),
        **{
            k: sum(r[k] or 0 for r in entries.values())
            for k in ("jobs", "stages", "tasks")
        },
        **{
            f"{leg}_mb_per_s": full[leg]["mb_per_s"]
            for leg in ("ingest", "ingest_pruned", "ingest_warc")
            if leg in full
        },
        "slowest": {n: walls[n] for n in slowest},
        "n_errors": len(full["errors"]),
        "detail": artifact_name(full["cpus"], full["sf"]),
    }


def main(names: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = sf_of(sf_dir)
    except ValueError as exc:
        print(f"SPARK_GRAFT_SF_DIR: {exc}", file=sys.stderr)
        return 2

    from archive_to_parquet_spark import queries as catalog
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.session import get_spark

    qs = catalog.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown catalog entries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism
    full: dict = {"sf": sf, "cpus": cpus, "entries": {}, "errors": {}}

    def measure(out: dict, key: str, run) -> None:
        try:
            out[key] = run()
        except Exception as exc:  # record it, time the rest
            traceback.print_exc()
            full["errors"][key] = f"{type(exc).__name__}: {str(exc)[:300]}"
        else:
            print(f"[bench] {key}: {out[key]['wall_s']} s", file=sys.stderr)

    if not names:
        # ingest first: measured after the catalog it ran ~40% slower
        # from accumulated JVM and Python-worker state
        tars, warcs = ingest_fixtures(
            os.path.join(tempfile.gettempdir(), "a2p_bench_fixtures")
        )
        opts = ConvertOptions(threads=cpus)
        pruned = ConvertOptions(threads=cpus, columns=PRUNED_COLUMNS)
        measure(full, "ingest", lambda: ingest_leg(spark, tars, opts))
        measure(full, "ingest_pruned", lambda: ingest_leg(spark, tars, pruned))
        measure(full, "ingest_warc", lambda: ingest_leg(spark, warcs, opts))
        if "ingest" in full and "ingest_pruned" in full:
            full["ingest_pruned"]["speedup_vs_full"] = round(
                full["ingest"]["wall_s"] / full["ingest_pruned"]["wall_s"], 2
            )
    for name in names or [n for n in qs if catalog.family(n) != "streaming"]:
        measure(
            full["entries"],
            name,
            lambda: time_entry(spark, lambda: qs[name](spark, sf_dir)),
        )
    spark.stop()

    if names:
        print(json.dumps(full))
    else:
        with open(os.path.join(REPO, artifact_name(cpus, sf)), "w") as fh:
            json.dump({**summary(full), **full}, fh, indent=1)
            fh.write("\n")
        print(json.dumps(summary(full)))
    return 1 if full["errors"] else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
