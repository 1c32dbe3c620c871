"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same configs are what we'd set on a
real cluster (AQE on, Arrow on, UTC, shuffle partitions sized to the
parallelism at hand rather than the 200 default, a codegen cache that
holds the catalog's generated classes rather than the 100 default).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_WORKER_BOOT_DIR = os.path.join(_PKG_DIR, "worker-boot")


def package_zip(pkg_dir: str = _PKG_DIR, out_dir: str | None = None) -> str:
    """Zip the package's ``.py`` files for executors; returns its path.

    The zip is named by a SHA-256 over every file's relative path and
    bytes, so two checkouts (say, a parent and a change in an A/B run)
    never share a zip, and an unchanged tree reuses the one it staged
    before. Staging writes a pid-unique temporary file and renames it
    into place, so concurrent drivers never see a half-written zip."""
    root = os.path.dirname(pkg_dir)
    sources: dict[str, bytes] = {}
    for d, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(d, f)
                with open(full, "rb") as fh:
                    sources[os.path.relpath(full, root)] = fh.read()
    ordered = sorted(sources.items())
    digest = hashlib.sha256()
    for rel, data in ordered:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(
        out_dir or tempfile.gettempdir(),
        f"{os.path.basename(pkg_dir)}_pkg-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, data in ordered:
                zf.writestr(rel, data)
        os.replace(tmp, zip_path)
    return zip_path


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Executors unpickle mapInPandas/pandas_udf closures by module name;
    that import only works when the driver's cwd happens to be the repo
    root. Shipping a zip makes the engine usable from any session and
    any working directory (and, on a real cluster, any executor host).
    Idempotent per session.
    """
    sc = spark.sparkContext
    flag = "_a2p_pkg_shipped"
    if getattr(sc, flag, False):
        return
    sc.addPyFile(package_zip())
    setattr(sc, flag, True)


def local_worker_conf(
    master: str, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The conf that starts a local session's Python workers on the
    driver's own pyspark and py4j (``worker-boot/a2p_daemon.py`` says
    why): the daemon module, and ``spark.executorEnv.PYTHONPATH`` led by
    the module's directory and the two packages' parent directories,
    with the caller's own ``extra_conf`` value after them. Empty for a
    non-local master, for a caller that names its own daemon module and
    for a driver that imports pyspark or py4j from a zip."""
    extra_conf = extra_conf or {}
    if not master.startswith("local") or "spark.python.daemon.module" in extra_conf:
        return {}
    import py4j
    import pyspark

    path = [_WORKER_BOOT_DIR]
    for module in (pyspark, py4j):
        parent = os.path.dirname(os.path.dirname(os.path.abspath(module.__file__)))
        if not os.path.isdir(parent):
            return {}
        if parent not in path:
            path.append(parent)
    if extra_conf.get("spark.executorEnv.PYTHONPATH"):
        path.append(extra_conf["spark.executorEnv.PYTHONPATH"])
    return {
        "spark.python.daemon.module": "a2p_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(path),
    }


def get_spark(
    app_name: str = "archive_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # An already-running session is returned UNTOUCHED: getOrCreate
    # applies every builder .config() to the existing session's runtime
    # conf, so a second get_spark() call in the same process (e.g.
    # cli.main() used as a library function next to a caller-owned
    # session) would silently clobber the caller's shuffle-partition
    # count and planner settings — measured as a plan-shape drift
    # (an extra exchange) in entries whose explicit repartitions are
    # sized to co-partition with the session's shuffle count.
    # A caller-owned session also keeps its own codegen cache size:
    # spark.sql.codegen.cache.maxEntries is a static conf, read once per
    # JVM when the first class is generated, so no runtime set could
    # resize it (and __spark_entry__._wrap pins only result confs).
    existing = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if existing is not None:
        try:  # cheap public probe: raises/None once the session stopped
            alive = existing.sparkContext.applicationId is not None
        except Exception:
            alive = False
        if alive:
            # the silent-ignore path must at least be observable
            # (ADVICE r11): a caller requesting a specific conf gets the
            # existing session's values, whatever they are
            requested = dict(extra_conf or {})
            if shuffle_partitions is not None:
                requested["spark.sql.shuffle.partitions"] = str(
                    shuffle_partitions
                )
            mismatched = {
                k: (existing.conf.get(k, None), str(v))
                for k, v in requested.items()
                if existing.conf.get(k, None) != str(v)
            }
            if master is not None and existing.sparkContext.master != master:
                mismatched["master"] = (existing.sparkContext.master, master)
            if mismatched:
                import warnings

                warnings.warn(
                    "get_spark: returning the existing live session; "
                    f"explicitly requested conf ignored: {mismatched}",
                    stacklevel=2,
                )
            ensure_package_shipped(existing)
            return existing
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # SPARK_GRAFT_SHUFFLE_PARTITIONS exists so the oracle gate can be
    # re-run at a hostile partition count (e.g. 7) as a dynamic proof
    # of partition-order independence — results must not change.
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing merges post-shuffle
        # partitions up to minPartitionSize (default 1m) — right for
        # byte-bound stages, wrong for the CPU-heavy kernels this
        # engine runs on KB-scale shuffled rows (shingle-array
        # intersections, vector distances): a 6 MB shuffle coalesced to
        # 5 × ~1.2 MB partitions pins minutes of per-row compute to 5
        # cores (measured: dedup_ngram_jaccard's confirm stage, 5.5 s
        # executor time over 5 tasks). 256k floors the merge so small
        # shuffles keep the session's parallelism (64k measured better
        # on the confirm stages but cost iterative loops +1.1 s in
        # per-round task-launch overhead); production-size shuffles sit
        # far above either threshold and are untouched.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # Whole-stage codegen compiles each generated class with Janino
        # into an LRU cache of maxEntries (default 100), a static conf
        # read once per JVM at the first codegen. The catalog needs far
        # more (measured with observability.codegen_counters, 4 cores):
        # a cold pass over all 212 entries at sf0.001 compiles 2,664
        # classes, one over the ten perfbench catalog-battery entries
        # 269. At 100 each warm pass evicted every class before its
        # next use and recompiled it: 275 compiles and 2.6 s of compile
        # time per battery pass, 3,638 compiles per catalog pass. 4096
        # holds the catalog with headroom (a warm catalog pass: 142 s →
        # 99 s). Cost: ~16 KB of JVM non-heap per cached class, +43 MB
        # after two catalog passes.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = {**(extra_conf or {}), **local_worker_conf(master, extra_conf)}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_shipped(spark)
    return spark
