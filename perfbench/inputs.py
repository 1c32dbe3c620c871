"""Inputs for the benchmark workloads, with independent expectations.

The ingest corpus is a pure function of (seed, cpus). Its expected results
are computed here with plain ``hashlib`` over the bytes this module wrote,
never with the program's walker, so a walker bug cannot hide behind its own
expectation. The catalog tables are fixed data committed with the benchmark.

Inputs are cached under the benchmark's work directory, one directory per
(workload, seed, cpus); a finished directory carries ``DONE`` and other seeds
of the same workload are evicted, so the cache holds one corpus per workload.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import subprocess
import tarfile
import zipfile
from dataclasses import dataclass

import numpy as np

GEN_VERSION = 6
MiB = 1 << 20

# convert-corpus: 8 inputs per core, a fixed decompressed total, log-normal
# entry sizes (median 8 KiB, mean ~95 KiB before the 8 MiB clip), 25% of
# entries duplicating another entry's content, 60% of unique entries text
CONVERT_INPUTS_PER_CPU = 8
CONVERT_TOTAL_BYTES = 128 * MiB
CONVERT_MAX_SIZE = 1 * MiB  # the convert's exclusive max_size
ENTRY_MEDIAN = 8 * 1024
ENTRY_SIGMA = 2.2
ENTRY_MIN, ENTRY_MAX = 64, 8 * MiB
DUP_SHARE = 0.25
TEXT_SHARE = 0.6

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch données größe 数据 파일"
).split()


@dataclass(frozen=True)
class IngestInputs:
    """Generated archives plus what a correct convert must produce."""

    paths: list[str]  # absolute input paths, in the order given to convert
    # (source, path, size, sha256 hex) for every entry the walker must emit
    entries: list[tuple[str, str, int, str]]
    max_size: int  # exclusive, as ConvertOptions.max_size

    @property
    def input_bytes(self) -> int:
        return sum(e[2] for e in self.entries)

    def survivors(self) -> dict[str, set[tuple[str, str, int]]]:
        """sha256 hex → the (source, path, size) rows that may carry it after
        the size filter and the hash dedup."""
        out: dict[str, set[tuple[str, str, int]]] = {}
        for source, path, size, sha in self.entries:
            if size < self.max_size:
                out.setdefault(sha, set()).add((source, path, size))
        return out


@dataclass(frozen=True)
class CatalogInputs:
    sf_dir: str
    table_bytes: dict[str, int]  # on-disk parquet bytes per table


# -- cache ---------------------------------------------------------------


def _cached(work: str, workload: str, seed: int, cpus: int, build) -> str:
    """Directory holding the inputs for (workload, seed, cpus); built once."""
    root = os.path.join(work, "inputs")
    name = f"{workload}-s{seed}-c{cpus}-v{GEN_VERSION}"
    final = os.path.join(root, name)
    if os.path.exists(os.path.join(final, "DONE")):
        return final
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(f"{workload}-") and old != name:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, np.random.default_rng([GEN_VERSION, seed, cpus]))
    open(os.path.join(tmp, "DONE"), "w").close()
    os.replace(tmp, final)
    return final


def _load_ingest(directory: str) -> IngestInputs:
    with open(os.path.join(directory, "manifest.json")) as fh:
        m = json.load(fh)
    inputs = os.path.join(directory, "inputs")
    absolute = {name: os.path.join(inputs, name) for name in m["inputs"]}
    return IngestInputs(
        paths=[absolute[n] for n in m["inputs"]],
        entries=[(absolute[s], p, n, h) for s, p, n, h in m["entries"]],
        max_size=m["max_size"],
    )


def _write_manifest(directory: str, inputs: list[str], entries, max_size: int):
    with open(os.path.join(directory, "manifest.json"), "w") as fh:
        json.dump({"inputs": inputs, "entries": entries, "max_size": max_size}, fh)


# -- convert-corpus ------------------------------------------------------


def _pools(rng: np.random.Generator) -> tuple[bytes, bytes]:
    """16 MiB text and binary pools that entry bodies are sliced from."""
    n = 2 * ENTRY_MAX
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), n // 4)]
    text = " ".join(words.tolist()).encode("utf-8")[:n]
    binary = rng.integers(0, 256, n, dtype=np.uint8)
    binary[rng.random(n) < 0.5] = 0  # half zero bytes: compressible binary
    return text, binary.tobytes()


def _stratified_sizes(rng: np.random.Generator, target: int) -> list[int]:
    """Log-normal sizes summing to about ``target``, drawn one per quantile
    stratum so every seed gets nearly the same size distribution: the seed
    moves sizes within their strata and the order, not the mix."""
    from statistics import NormalDist

    inv = NormalDist(np.log(ENTRY_MEDIAN), ENTRY_SIGMA).inv_cdf

    def sizes(n: int, jitter: np.ndarray) -> np.ndarray:
        q = (np.arange(n) + jitter) / n
        return np.clip(np.exp([inv(x) for x in q]), ENTRY_MIN, ENTRY_MAX).astype(np.int64)

    lo, hi = 1, 1
    while sizes(hi, np.full(hi, 0.5)).sum() < target:
        lo, hi = hi, hi * 2
    while lo < hi:  # fewest strata whose midpoint sizes reach the target
        mid = (lo + hi) // 2
        if sizes(mid, np.full(mid, 0.5)).sum() < target:
            lo = mid + 1
        else:
            hi = mid
    return sizes(hi, rng.random(hi)).tolist()


def _tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _zip_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data,
                        compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)
    return buf.getvalue()


def _gzip_bytes(data: bytes) -> bytes:
    import gzip

    return gzip.compress(data, compresslevel=1, mtime=0)


def _zstd_bytes(data: bytes) -> bytes:
    exe = shutil.which("zstd")
    if exe is None:
        raise RuntimeError("the zstd command is needed to write tar.zst inputs")
    return subprocess.run(
        [exe, "-1", "-q", "-c"], input=data, stdout=subprocess.PIPE, check=True
    ).stdout


def _build_convert_corpus(out: str, rng: np.random.Generator, cpus: int) -> None:
    n_inputs = CONVERT_INPUTS_PER_CPU * cpus
    text_pool, bin_pool = _pools(rng)
    # unique entries by size rank: 3 in 5 are text; every third one also
    # appears again as a duplicate, so duplicates are 1/4 of all entries
    unique = sorted(_stratified_sizes(rng, int(CONVERT_TOTAL_BYTES * (1 - DUP_SHARE))))
    text_phase, dup_phase = int(rng.integers(0, 5)), int(rng.integers(0, 3))
    contents: list[tuple[str, bytes]] = []
    for k, size in enumerate(unique):
        if (k + text_phase) % 5 < 5 * TEXT_SHARE:
            head = f"entry {k}\n".encode()
            off = int(rng.integers(0, len(text_pool) - size))
            contents.append(("txt", head + text_pool[off : off + max(size - len(head), 0)]))
        else:
            head = b"\x00bin" + k.to_bytes(4, "big")
            off = int(rng.integers(0, len(bin_pool) - size))
            contents.append(("bin", head + bin_pool[off : off + max(size - len(head), 0)]))
    contents += [("dup", data) for k, (_, data) in enumerate(contents) if (k + dup_phase) % 3 == 0]

    # spread entries over the inputs: biggest first, each to the input with
    # the fewest bytes so far, then each input's members in seeded order
    order = rng.permutation(len(contents))
    members_of: list[list[tuple[str, bytes]]] = [[] for _ in range(n_inputs)]
    filled = np.zeros(n_inputs, dtype=np.int64)
    for k in sorted(order, key=lambda k: -len(contents[k][1])):
        i = int(np.argmin(filled))
        members_of[i].append(contents[k])
        filled[i] += len(contents[k][1])

    # input formats: ~10% nested zip-in-tar.gz, ~10% tar.zst, ~25% zip,
    # the rest tar.gz, in a seeded order
    n_nested = max(1, n_inputs // 10)
    n_zst = max(1, n_inputs // 10)
    n_zip = max(1, n_inputs // 4)
    kinds = ["nested"] * n_nested + ["tar.zst"] * n_zst + ["zip"] * n_zip
    kinds += ["tar.gz"] * (n_inputs - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(n_inputs)]

    os.makedirs(os.path.join(out, "inputs"))
    names: list[str] = []
    entries: list[list] = []
    for i, kind in enumerate(kinds):
        shuffled = [members_of[i][k] for k in rng.permutation(len(members_of[i]))]
        members = [(f"d{j % 8}/e{i:03d}_{j:05d}.{ext}", data)
                   for j, (ext, data) in enumerate(shuffled)]
        name = f"in{i:03d}." + ("tar.gz" if kind == "nested" else kind)
        if kind == "zip":
            blob = _zip_bytes(members)
            listed = members
        elif kind == "nested":
            half = len(members) // 2
            inner_name = "bundle/inner.zip"
            outer = members[:half] + [(inner_name, _zip_bytes(members[half:]))]
            blob = _gzip_bytes(_tar_bytes(outer))
            listed = members[:half] + [
                (f"{inner_name}/{n}", d) for n, d in members[half:]
            ]
        else:
            tar = _tar_bytes(members)
            blob = _zstd_bytes(tar) if kind == "tar.zst" else _gzip_bytes(tar)
            listed = members
        with open(os.path.join(out, "inputs", name), "wb") as fh:
            fh.write(blob)
        names.append(name)
        entries += [[name, p, len(d), hashlib.sha256(d).hexdigest()] for p, d in listed]
    _write_manifest(out, names, entries, CONVERT_MAX_SIZE)


def convert_corpus(work: str, seed: int, cpus: int) -> IngestInputs:
    d = _cached(work, "convert-corpus", seed, cpus,
                lambda out, rng: _build_convert_corpus(out, rng, cpus))
    return _load_ingest(d)


def _build_warmup(out: str, rng: np.random.Generator, cpus: int) -> None:
    os.makedirs(os.path.join(out, "inputs"))
    words = np.array(_WORDS)
    for i in range(cpus):
        members = [
            (f"w{j:03d}.txt", " ".join(words[rng.integers(0, len(words), 2048)].tolist()).encode())
            for j in range(64)
        ]
        with open(os.path.join(out, "inputs", f"warm{i:02d}.tar.gz"), "wb") as fh:
            fh.write(_gzip_bytes(_tar_bytes(members)))


def warmup_archives(work: str, cpus: int) -> list[str]:
    """One small tar.gz per core, the same for every seed: convert-corpus's
    set-up warm-up converts these, so set-up time does not depend
    on the seed."""
    d = _cached(work, "warmup", 0, cpus, lambda out, rng: _build_warmup(out, rng, cpus))
    inputs = os.path.join(d, "inputs")
    return sorted(os.path.join(inputs, f) for f in os.listdir(inputs))


# -- catalog tables ------------------------------------------------------

# The seven tables the catalog battery's entries read, copied unchanged from
# the engine's sf0.01 TPC-H-style test data (the data set the catalog's
# oracle checks run on), so the similarity kernels see real documents and
# embeddings rather than invented ones.
CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def catalog_tables() -> CatalogInputs:
    return CatalogInputs(
        sf_dir=CATALOG_DIR,
        table_bytes={
            f[: -len(".parquet")]: os.path.getsize(os.path.join(CATALOG_DIR, f))
            for f in os.listdir(CATALOG_DIR)
            if f.endswith(".parquet")
        },
    )
