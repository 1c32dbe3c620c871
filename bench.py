"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR plus an
archive-ingest throughput microbench.

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "ingest": {...}}

Queries execute via a noop write (computes every column, no sink cost);
the first timed query follows a small warm-up so JVM/codegen startup
isn't billed to it.

Noise control: a pinned reference query (tpch_q06) runs between every
pair of measured entries; the pin series makes host-load inflation
explicit (pin.best/median/max), and every entry is also reported
normalized to the min of its two surrounding pin samples so cross-round
comparisons survive a loaded host.  All wall times are best-of-5.
Host load is bursty, so entries additionally RETRY their own
measurement window when the bracketing pins show it was loaded
(per-query retry dodges bursts a whole-sweep rerun cannot); `noisy`
reports whether ≥95% of entries landed in quiet windows, and
`host_loaded` keeps reporting raw host inflation over the full run.
"""

from __future__ import annotations

import io
import json
import os
import signal
import sys
import tarfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


class _Deadline:
    """Wall-clock budget for the whole bench process.  BENCH_r09 died
    rc=124 (the driver's timeout kill) with parsed=null because the
    harness ran 3 full sweep attempts and only emitted at the very
    end.  Every section now checks ``hit(cost)`` before starting more
    work and the process stops MEASURING — and emits what exists —
    rather than get killed mid-measurement.  ``reserve`` keeps enough
    headroom to write the artifact and print the summary line."""

    def __init__(self) -> None:
        self.t0 = time.time()
        # default sized from a measured clean sf0.1 attempt (~15-18
        # min at best-of-5): one full attempt + margin; a second
        # attempt only starts if the remainder fits what the first
        # actually cost.  The SIGTERM emit covers a driver budget
        # shorter than this.
        self.budget = float(
            os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "2040")
        )
        self.reserve = 30.0

    def elapsed(self) -> float:
        return time.time() - self.t0

    def left(self) -> float:
        return self.budget - self.elapsed() - self.reserve

    def hit(self, need: float = 0.0) -> bool:
        return self.left() < need


# Best result observed so far (module-global so the SIGTERM handler
# can emit it). "full" holds either a completed sweep dict or the
# running partial checkpoint of the sweep in flight.
_LATEST: dict = {}

# Best pin sample from each completed sweep this process — attempt 2+
# inherits attempt 1's floor, so the pre-sweep quiet gate can tell
# "this window is loaded" even when every sample in ITS OWN series is
# uniformly inflated (sustained load looks quiet to a same-series
# median test).
_PIN_FLOOR: list[float] = []


# The artifact-of-record (BENCH_FULL.json) is defined at ONE canonical
# operating point; a complete sweep at any other cpu count or scale
# factor is a perfectly good measurement but NOT the artifact-of-record
# (r11 verdict #1: the driver's 8-core scaling sweep was "complete" and
# silently overwrote the committed 32-core artifact, so per-entry
# round-over-round evidence required archaeology).
_CANONICAL_CPUS = 32
_CANONICAL_SF = 0.1


def _committed_pin_floor(sf, cpus) -> float | None:
    """Pin floor inherited from the committed BENCH_FULL.json (r10
    verdict ask #2: persist best-so-far across rounds so a noisy round
    inherits floors). Trusted only when the committed artifact is a
    COMPLETE sweep at the SAME scale factor and cpu count — a different
    sf/cpus or a partial smoke has incomparable pin cost."""
    try:
        with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return None
    if prev.get("partial") or prev.get("sf") != sf:
        return None
    # artifacts older than the cpus field carry none; those were all
    # 32-core sweeps, so absence matches only the canonical count
    if prev.get("cpus", _CANONICAL_CPUS) != cpus:
        return None
    best = prev.get("pin", {}).get("best")
    return float(best) if isinstance(best, (int, float)) and best > 0 else None


def _artifact_name(full: dict) -> str:
    """Partial/in-flight results land in BENCH_FULL.partial.json (NOT
    committed); a COMPLETE sweep is promoted to BENCH_FULL.json ONLY at
    the canonical operating point (cpus=32, sf=0.1) — any other
    complete sweep (a scaling leg, an sf smoke) lands in a suffixed
    sibling so the artifact-of-record always compares like-for-like
    round over round (r11 verdict ask #2)."""
    if full.get("partial"):
        return "BENCH_FULL.partial.json"
    cpus = full.get("cpus", _CANONICAL_CPUS)
    sf = full.get("sf", _CANONICAL_SF)
    if cpus == _CANONICAL_CPUS and sf == _CANONICAL_SF:
        return "BENCH_FULL.json"
    return f"BENCH_FULL.c{cpus}.sf{sf}.json"


def _emit_artifact(full: dict) -> None:
    """Atomically rewrite the artifact (tmp file + rename) so a kill
    at ANY moment leaves a parseable artifact holding whatever had
    completed — never-lossy is the r9 lesson."""
    name = _artifact_name(full)
    tmp = os.path.join(REPO, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(full, fh, indent=1)
    os.replace(tmp, os.path.join(REPO, name))
    if not full.get("partial"):
        # a promoted complete sweep supersedes any in-flight partial
        try:
            os.remove(os.path.join(REPO, "BENCH_FULL.partial.json"))
        except FileNotFoundError:
            pass


def _install(cand: dict) -> None:
    """Record `cand` as the artifact-of-record unless that would
    regress a COMPLETE result to a partial one (attempt 2's in-flight
    checkpoints must not clobber attempt 1's finished sweep)."""
    cur = _LATEST.get("full")
    if cur is not None and not cur.get("partial") and cand.get("partial"):
        return
    _LATEST["full"] = cand
    _emit_artifact(cand)


def _compact(full: dict) -> str:
    """The ONE stdout JSON line (driver contract), built defensively:
    a partial result emitted from the SIGTERM handler or a
    deadline-stopped sweep has only the fields that completed.  The
    full per-query breakdown lives in BENCH_FULL.json; the line keeps
    the r1 comparator subset + the 10 most expensive queries so it
    always fits the 2000-char stdout tail the driver records."""
    per_query = full.get("queries", {})
    pin_stats = full.get("pin", {})
    for n_heavy in (10, 5, 0):
        heavy = dict(
            sorted(per_query.items(), key=lambda kv: -kv[1])[:n_heavy]
        )
        compact = {
            "metric": "headline_queries_total",
            "value": full.get("value"),
            "unit": "sec",
            "queries": {
                **{n: per_query[n] for n in _R1_SUBSET if n in per_query},
                **heavy,
            },
            "n_queries": len(per_query),
            "r1_subset_total": full.get("r1_subset_total"),
            "sf": full.get("sf"),
            "tpch_total": full.get("tpch", {}).get("total"),
            "ingest_mb_per_s": full.get("ingest", {}).get("mb_per_s"),
            "ingest_pruned_mb_per_s": full.get("ingest_pruned", {}).get(
                "mb_per_s"
            ),
            "ingest_warc_mb_per_s": full.get("ingest_warc", {}).get(
                "mb_per_s"
            ),
            "pin_best": pin_stats.get("best"),
            "noisy": pin_stats.get("noisy"),
            "host_loaded": pin_stats.get("host_loaded"),
            "entries_quiet_pct": pin_stats.get("entries_quiet_pct"),
            "retries_spent": pin_stats.get("retries_spent"),
            "retry_budget_effective": pin_stats.get("retry_budget_effective"),
            "retries_exhausted": pin_stats.get("retries_exhausted"),
            "pin_median": pin_stats.get("median"),
            "pin_inflation_median_pct": pin_stats.get(
                "inflation_median_pct"
            ),
            "value_normalized": full.get("value_normalized"),
            "r1_subset_total_normalized": full.get(
                "r1_subset_total_normalized"
            ),
            "tpch_total_normalized": full.get("tpch_total_normalized"),
            "ingest_mb_per_s_normalized": full.get("ingest", {}).get(
                "mb_per_s_normalized"
            ),
            "ingest_warc_mb_per_s_normalized": full.get(
                "ingest_warc", {}
            ).get("mb_per_s_normalized"),
            "detail": _artifact_name(full),
        }
        if full.get("partial"):
            compact["partial"] = True
        if full.get("deadline"):
            compact["deadline"] = full["deadline"]
        if full.get("errors"):
            compact["n_errors"] = len(full["errors"])
        line = json.dumps(compact)
        if len(line) < 1900:
            return line
    return line  # n_heavy=0 floor; structurally always small enough


def _emit_and_exit(signum, frame) -> None:
    """SIGTERM/SIGINT handler: the driver's kill must still yield a
    parsed artifact — print the best result seen so far (flagged
    partial if a sweep was in flight) and exit 0."""
    full = _LATEST.get("full")
    if full is not None:
        # record the kill BEFORE writing, so the artifact and the
        # printed line agree on how the run ended
        full.setdefault("deadline", {})["killed_by_signal"] = int(signum)
        try:
            _emit_artifact(full)
        except OSError:
            pass
        print(_compact(full))
        sys.stdout.flush()
    os._exit(0)

# Queries that exercise the distinct physical paths: scan+project+hash,
# hash agg, big-big join + broadcast dims, window, sessionization,
# shingle join, minhash LSH, broadcast ANN, regex-heavy text ops.
HEADLINE = [
    "q1_projection_hash",
    "q4_dedup_hash_groups",
    "q6_union_group",
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_window_top3_per_cust",
    "rel_events_hourly",
    "rel_sessionize",
    "dedup_exact_docs",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_quality",
    "text_lang_id",
    "ann_cosine_topk",
    "rel_asof_click_before_purchase",
    # round-2 training-pipeline operators
    "text_gopher_quality",
    "text_topgram_repetition",
    "text_pii_redact",
    "sample_split",
    "pack_sequences",
    "decontaminate_ngrams",
    "sketch_accuracy",
    "dedup_span_removal",
    "dedup_semantic",
    "rel_funnel",
    "corpus_shuffle",
    "vocab_coverage",
    "filter_quantile_bands",
    "web_domain_stats",
    # round-2 continuation operators
    "graph_pagerank",
    "dedup_incremental",
    "mixture_sample_epoch",
    "bpe_top_pairs",
    "mine_hard_negatives",
    "rel_scd2_intervals",
    # round-2 continuation: corpus-format sources + curation ops
    "source_jsonl_roundtrip",
    "dedup_url_canonical",
    "rel_decayed_sum",
    "tokenize_bpe_encode",
    "rel_gapfill_hourly",
    "ann_pq_topk",
    "source_dpp_join",
    "cluster_kmeans",
    "chunk_documents",
    "text_tfidf_terms",
    "multimodal_header_decode",
    "train_logreg_quality",
    "eval_ndcg_bm25",
    "search_index_probe",
    "rel_session_window_native",
    "privacy_k_anonymity",
    # round-3 additions
    "embedding_jl_projection",
    "dedup_bloom_probe",
    "sketch_countmin",
    "rel_lateral_topk",
    "rel_salted_hot_join",
    "rel_window_funcs_panel",
    "rel_variant_json",
    "rel_sql_udf_priceband",
    "text_boilerplate_removal",
    "ann_jl_topk",
    "rel_skew_isolated_join",
    "eval_calibration_bins",
    "corpus_global_index",
    "multimodal_phash_dedup",
    "maintenance_zorder_stats",
    # round-5 additions
    "text_lm_perplexity",
    "dsir_importance_weights",
    "sketch_kmv_overlap",
    "sketch_hdr_quantiles",
    "split_leakage_safe",
    "multimodal_resize",
    "dedup_substring_exact",
    "dedup_cdc_chunks",
    "dedup_cdc_gear",
    # round-6 additions
    "cluster_dbscan_lsh",
    "dedup_containment",
    "sketch_theta_setops",
    "ann_ivf_pq_topk",
    # round-7 addition
    "dedup_incremental_bucketed",
    # round-8 additions (stream_ann_index_append excluded like every
    # stream_* entry — its wall time is streaming machinery)
    "dedup_minhash_bucketed",
    "ann_lsh_bucketed",
    "maintenance_incremental_agg",
    # round-8 second leg (stream_constraint_monitor excluded like
    # every stream_* entry)
    "search_hybrid_rrf",
    "audit_constraint_suite",
    "maintenance_compaction_plan",
    "dedup_suffix_lcp",
    "eval_ab_welch_ttest",
    "graph_label_propagation",
    "sample_stratified_neyman",
    # round-9 additions
    "eval_auc_quality",
    "eval_psi_drift",
    "maintenance_vacuum_plan",
    "privacy_l_diversity",
    "mix_temperature_sampling",
    # round-10 addition
    "dedup_suffix_lcp_bucketed",
    # round-11 addition (the fold is staged once per fingerprint, so
    # the measured wall is the metadata decision + base/tail probe —
    # the per-run cost a daily maintenance job actually pays)
    "maintenance_stream_index_compaction",
    # round-12 addition (r11 verdict ask #5): the fold leg the staged
    # entry above never pays — this twin re-executes the actual
    # distinct + bucketed-write fold every run, so the compaction
    # family's headline now carries both the per-run probe cost AND
    # the amortized fold cost as separate, honestly-labeled numbers
    "maintenance_stream_index_compaction_fold",
    # (stream_neardup_incremental is deliberately NOT here: like the
    # other stream_* entries its wall time is streaming machinery —
    # micro-batch scheduling, checkpoint I/O — not operator throughput,
    # and best-of-5 would rerun the full stream five times for noise.)
]

# The exact 15-query battery BENCH_r01 measured (12.354s at sf0.1):
# its subtotal is reported as `r1_subset_total` so round-over-round
# comparison isn't distorted by the battery growing.
_R1_SUBSET = [
    "q1_projection_hash",
    "q4_dedup_hash_groups",
    "q6_union_group",
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_window_top3_per_cust",
    "rel_events_hourly",
    "rel_sessionize",
    "dedup_exact_docs",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "text_quality",
    "text_lang_id",
    "ann_cosine_topk",
    "rel_asof_click_before_purchase",
]

# TPC-H-pattern suite, timed separately so `value` (headline total)
# stays comparable round-over-round.
TPCH = [
    "tpch_q01_pricing_summary",
    "tpch_q02_min_cost_supplier",
    "tpch_q03_shipping_priority",
    "tpch_q04_priority_checking",
    "tpch_q05_local_supplier_volume",
    "tpch_q09_product_profit",
    "tpch_q12_priority_split",
    "tpch_q06_forecast_revenue",
    "tpch_q07_volume_shipping",
    "tpch_q08_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive",
    "tpch_q11_important_balances",
    "tpch_q15_top_supplier",
    "tpch_q16_brand_supplier_counts",
    "tpch_q20_supplier_semi_chain",
    "tpch_q21_multi_exists",
    "tpch_q22_idle_customers",
]

_INGEST_MEMBERS = 512
_INGEST_MEMBER_BYTES = 64 * 1024  # 512 × 64 KiB × 32 inputs = 1 GiB
# one walk task per input: 32 inputs saturates local[32], matching the
# baseline's saturated-thread-pool measurement shape (12 threads, many
# more archives than threads — BASELINE.md)
_INGEST_INPUTS = 32


def _ingest_fixture(
    tmp_dir: str,
    n_inputs: int = _INGEST_INPUTS,
    members: int = _INGEST_MEMBERS,
) -> tuple[list[str], int]:
    """Deterministic tar fixtures for the ingest bench (cached). Member
    size ~64 KiB approximates the baseline workload's ~95 KiB average
    entry (BASELINE.md: 25.23 GB / 263,862 entries)."""
    os.makedirs(tmp_dir, exist_ok=True)
    paths = []
    total = 0
    for i in range(n_inputs):
        path = os.path.join(
            tmp_dir, f"bench_{i}_{members}x{_INGEST_MEMBER_BYTES}.tar"
        )
        paths.append(path)
        total += members * _INGEST_MEMBER_BYTES
        if os.path.exists(path):
            continue
        with tarfile.open(path, "w") as tf:
            for m in range(members):
                # deterministic pseudo-random-ish bytes, cheap to produce
                unit = (
                    f"input{i} member{m} ".encode() * 16
                    + bytes((m * 31 + j * 7 + i) % 251 for j in range(256))
                )
                reps = _INGEST_MEMBER_BYTES // len(unit) + 1
                data = (unit * reps)[:_INGEST_MEMBER_BYTES]
                info = tarfile.TarInfo(f"dir{m % 16}/file_{m}.bin")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    return paths, total


def _warc_fixture(
    tmp_dir: str, n_inputs: int = _INGEST_INPUTS
) -> tuple[list[str], int]:
    """Deterministic ``.warc.gz`` fixtures (cached): per-record gzip
    members — the Common Crawl layout — carrying the same payload bytes
    as the tar fixtures so tar-vs-WARC MB/s compare like-for-like."""
    import gzip

    os.makedirs(tmp_dir, exist_ok=True)
    paths = []
    total = 0
    for i in range(n_inputs):
        path = os.path.join(
            tmp_dir, f"bench_{i}_{_INGEST_MEMBERS}x{_INGEST_MEMBER_BYTES}.warc.gz"
        )
        paths.append(path)
        total += _INGEST_MEMBERS * _INGEST_MEMBER_BYTES
        if os.path.exists(path):
            continue
        with open(path, "wb") as fh:
            for m in range(_INGEST_MEMBERS):
                unit = (
                    f"input{i} member{m} ".encode() * 16
                    + bytes((m * 31 + j * 7 + i) % 251 for j in range(256))
                )
                reps = _INGEST_MEMBER_BYTES // len(unit) + 1
                data = (unit * reps)[:_INGEST_MEMBER_BYTES]
                record = (
                    b"WARC/1.0\r\n"
                    b"WARC-Type: resource\r\n"
                    + f"WARC-Target-URI: http://bench/input{i}/rec{m}\r\n".encode()
                    + f"Content-Length: {len(data)}\r\n\r\n".encode()
                    + data
                    + b"\r\n\r\n"
                )
                fh.write(gzip.compress(record, compresslevel=1))
    return paths, total


# Pinned reference query, interleaved between every measured entry to
# make host-load inflation observable and correctable (r4 verdict: the
# official r4 artifact drifted +10-30% uniformly, including queries with
# zero code changes, and the host-load explanation was only supportable
# by an after-the-fact A/B — "it must not stay unfalsifiable").
# tpch_q06 is the pin: a single scan+filter+agg with a stable plan, no
# Python, sub-second at sf0.1.  Protocol: one pin execution immediately
# before each entry's timed runs; `pin_best` = the global minimum pin
# sample (cleanest observed machine state); each entry's normalized
# time = raw_best * pin_best / adjacent_pin_sample.  If the host is
# idle all pin samples agree and normalized == raw; under load the pin
# series shows the inflation directly and the normalized numbers remove
# it.
PIN = "tpch_q06_forecast_revenue"


def _sf_of(sf_dir: str):
    sf = sf_dir.rstrip("/").split("sf")[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def _run_sweep(spark, qs, sf_dir: str, cpus: int, deadline: _Deadline) -> dict:
    """One full measurement sweep (ingest sections + query battery +
    pin series). Returns the `full` result dict; the caller decides
    whether the host was quiet enough to keep it.  Checkpoints a
    partial result through `_install` after every section and entry,
    and stops measuring — returning what exists, flagged partial —
    when `deadline` runs low."""

    per_query: dict[str, float] = {}
    tpch: dict[str, float] = {}
    errors: dict[str, str] = {}
    sections: dict = {}
    deadline_info: dict = {"budget_sec": deadline.budget}

    def _checkpoint() -> None:
        _install(
            {
                "metric": "headline_queries_total",
                "value": round(sum(per_query.values()), 3),
                "unit": "sec",
                "partial": True,
                "sf": _sf_of(sf_dir),
                "cpus": cpus,
                "queries": dict(per_query),
                "r1_subset_total": round(
                    sum(per_query[n] for n in _R1_SUBSET if n in per_query),
                    3,
                ),
                "tpch": {"total": round(sum(tpch.values()), 3), **tpch},
                **sections,
                "errors": dict(errors),
                "deadline": dict(
                    deadline_info, elapsed_sec=round(deadline.elapsed(), 1)
                ),
            }
        )

    def run_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm the pin (codegen compile, shuffle-file reuse) then start the
    # pin series; each sample is a best-of-2 (see pin_sample) — the pin
    # measures the machine, not the query and not the JVM's digestion
    # of the previous entry
    pin_fn = qs[PIN]
    for _ in range(2):
        run_noop(pin_fn(spark, sf_dir))
    pin_samples: list[float] = []

    def pin_sample() -> float:
        # best-of-2: a single-shot pin taken right after a heavy entry
        # measures the JVM's digestion of that entry (GC, async shuffle
        # cleanup) rather than the MACHINE — and since entry N's
        # after-pin is entry N+1's before-pin, one hot pin used to
        # poison two windows and the per-query retry just re-heated the
        # JVM (r7: 25% median "inflation" on a host with load 0.2).
        # The second execution lands after digestion; min() is the
        # machine's floor for this window, which is what normalization
        # and the quiet-window test both want.
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            run_noop(pin_fn(spark, sf_dir))
            best = min(best, time.time() - t0)
        pin_samples.append(best)
        return best

    # Establish the quiet FLOOR before anything is measured: the
    # per-query retry compares each entry's window to min(pin_samples)
    # SO FAR, so without these the first sweep section is judged
    # against a floor that may itself be inflated — entries measured
    # early never retried even when the final pin best later proved
    # their window loaded (r7: 11/60 retries used, 81% quiet).  Five
    # samples ≈ pin_best × 5 ≈ 0.7 s at sf0.1 — noise insurance, not
    # measurement.
    for _ in range(5):
        if deadline.hit(15):  # tiny budgets: 2 pins suffice for a floor
            break
        pin_sample()
    if not pin_samples:
        pin_sample()

    # Pre-sweep quiet gate (r10 verdict ask #2): a full sf0.1 sweep
    # costs ~1365 s — burning one in a loaded window buys nothing a
    # retry can fix afterwards.  Before committing to the sweep, check
    # the just-measured pins against the best floor KNOWN (this series,
    # earlier attempts this process, and the committed same-sf complete
    # artifact); while the current window is inflated past the quiet
    # factor, sleep and re-pin — seconds spent waiting for a burst to
    # pass instead of ~23 min measuring through it.  Bounded: at most
    # 8% of the remaining wall budget (≤ 90 s), so sustained load
    # degrades to the old behavior with telemetry saying why.
    floor_candidates = [min(pin_samples)] + _PIN_FLOOR
    committed = _committed_pin_floor(_sf_of(sf_dir), cpus)
    # sanity: only trust a cross-round floor within 2.5x of what this
    # host measures right now (catalog/pin-cost drift, different host)
    if committed is not None and min(pin_samples) < 2.5 * committed:
        floor_candidates.append(committed)
    floor = min(floor_candidates)
    # r11 verdict ask #7: the 90 s cap never rescued a loaded window on
    # a 2040 s budget — scale the gate with the remaining budget (a
    # burst that passes in 2-3 min is exactly what the gate exists to
    # dodge) while still degrading to measure-through under sustained
    # load.
    gate_budget = min(180.0, 0.12 * max(0.0, deadline.left()))
    gate_t0 = time.time()
    gate_waits = 0
    while (
        min(pin_samples[-2:]) > floor * 1.15
        and time.time() - gate_t0 + 10.0 < gate_budget
        and not deadline.hit(30)
    ):
        time.sleep(10.0)
        gate_waits += 1
        floor = min(floor, pin_sample())
    if gate_waits:
        deadline_info["pre_sweep_gate_waits"] = gate_waits
        deadline_info["pre_sweep_gate_sec"] = round(time.time() - gate_t0, 1)
        deadline_info["pre_sweep_gate_cleared"] = (
            min(pin_samples[-2:]) <= floor * 1.15
        )

    # ingest throughput FIRST, from a comparable-to-baseline session
    # state: the reference's 682 MB/s is a standalone ingest run, and
    # measuring after ~190 query executions was costing a reproducible
    # ~40% to accumulated JVM/python-worker state (measured 1.26 GB/s
    # fresh vs 0.63 GB/s battery-last on an idle machine)
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.convert import entries_pipeline

    if not deadline.hit(60):
        # fixture build + warm-up only when the first leg will run
        paths, total_bytes = _ingest_fixture("/tmp/a2p_bench_fixtures")
        # warm-up with one input: python-worker spawn + module import
        # are one-time costs the 25 GB baseline run amortizes away;
        # our fixture is 0.5 GB so they'd dominate a cold measurement
        run_noop(entries_pipeline(spark, paths, ConvertOptions(threads=cpus)))

    # Quiet-window retry for the THREE ingest throughput legs (r8
    # verdict ask #3): the per-query retry machinery below never
    # covered these sections, so one loaded window silently polluted
    # the raw MB/s figures (r8: 1119 vs r7's 1677 on identical code).
    # Same mechanism as timed_entries: a leg is bracketed by pin
    # samples; if min(before, after) says the window was loaded, the
    # whole leg re-measures in the next window (bounded by a small
    # dedicated budget — the legs are multi-second, so a handful of
    # retries is already half a minute).  The reported value and its
    # normalization pin both come from the window that PRODUCED the
    # winning measurement.
    ingest_retry_budget = [
        int(os.environ.get("SPARK_GRAFT_BENCH_INGEST_RETRIES", "6"))
    ]
    ingest_retries_used = [0]

    ingest_retries_gave_up_loaded = [0]

    def _ingest_leg(measure):
        """Run `measure()` (returns a comparable tuple/float) inside a
        pin-bracketed window, retrying in the next window while the
        bracket says loaded and budget remains.  The `before` pin is
        sampled HERE, immediately before the measurement — a pin taken
        earlier (before multi-second fixture builds/warm-ups) can be
        stale-quiet and let a loaded window pass the quiet test with
        an out-of-window normalization pin.  Returns
        (winning_measurement, winning_window_pin, last_after_pin)."""
        before = pin_sample()
        windows = []
        while True:
            m = measure()
            after = pin_sample()
            windows.append((m, min(before, after)))
            if min(before, after) <= min(pin_samples) * 1.15:
                break
            if deadline.hit(30):
                # out of wall budget: keep the loaded-window number
                # rather than lose the leg entirely
                deadline_info["ingest_retries_deadline_skipped"] = (
                    deadline_info.get("ingest_retries_deadline_skipped", 0)
                    + 1
                )
                break
            if ingest_retry_budget[0] <= 0:
                # gave up while the window was STILL loaded — the
                # meaning `retries_exhausted` carries on the query side
                ingest_retries_gave_up_loaded[0] += 1
                break
            ingest_retry_budget[0] -= 1
            ingest_retries_used[0] += 1
            before = after
            # pin-first window hunt (same rationale as the query-side
            # retries): wait out the burst with cheap pins before
            # re-paying a multi-second best-of-n leg
            for _ in range(3):
                if before <= min(pin_samples) * 1.15 or deadline.hit(30):
                    break
                time.sleep(1.5)
                before = pin_sample()
        best_m, best_pin = min(windows)
        return best_m, best_pin, after

    def _throughput_measure(leg_paths, n: int = 5):
        """Best-of-n wall seconds for one full entries_pipeline run
        over `leg_paths` — the shared measurement closure of the tar
        and WARC legs (kept single-sourced so a protocol change cannot
        skew their comparison)."""

        def measure() -> float:
            best = float("inf")
            for _ in range(n):
                t0 = time.time()
                run_noop(
                    entries_pipeline(
                        spark, leg_paths, ConvertOptions(threads=cpus)
                    )
                )
                best = min(best, time.time() - t0)
            return best

        return measure

    if deadline.hit(60):
        deadline_info["deadline_hit"] = True
        ingest = {"skipped": "deadline"}
        ingest_pin = None
    else:
        ingest_sec, ingest_pin, _ = _ingest_leg(_throughput_measure(paths))
        ingest = {
            "sec": round(ingest_sec, 3),
            "bytes": total_bytes,
            "mb_per_s": round(total_bytes / ingest_sec / 1e6, 1),
            "entries": _INGEST_MEMBERS * len(paths),
            "entries_per_s": round(
                _INGEST_MEMBERS * len(paths) / ingest_sec, 0
            ),
        }
    sections["ingest"] = ingest
    _checkpoint()

    # Column-pruned ingest A/B: columns without `content` make the
    # walker stream-hash without buffering payloads, and the scan
    # schema has no content column, so Arrow transfer + JVM row
    # materialization of entry bytes disappear (the manifest /
    # hash-only dedup-prepass scan shape; the reference cannot prune at
    # all — its sink schema is fixed).  Measured on a dedicated 8 GiB
    # fixture: at 1 GiB the ~0.4 s 32-task scheduling floor dominates
    # BOTH sides and masks the win that 100 TB amortizes away; the
    # 1 GiB sections above stay unchanged for round-over-round
    # comparability.  Both arms of the A/B run on the SAME fixture in
    # the same session, best-of-3 (the runs are multi-second, codegen
    # is already warm, and n=3 keeps the section under a minute).
    if deadline.hit(120):
        deadline_info["deadline_hit"] = True
        ingest_pruned = {"skipped": "deadline"}
        pruned_pin = None
    else:
        big_paths, big_bytes = _ingest_fixture(
            "/tmp/a2p_bench_fixtures_big", members=4096
        )
        pruned_opts = ConvertOptions(
            threads=cpus,
            columns=("source", "path", "size", "hash", "format"),
        )

        def _best_of(n: int, opts: ConvertOptions) -> float:
            best = float("inf")
            for _ in range(n):
                t0 = time.time()
                run_noop(entries_pipeline(spark, big_paths, opts))
                best = min(best, time.time() - t0)
            return best

        run_noop(
            entries_pipeline(spark, big_paths, ConvertOptions(threads=cpus))
        )
        run_noop(entries_pipeline(spark, big_paths, pruned_opts))

        def _pruned_measure() -> tuple:
            # both arms of the A/B in ONE window so the speedup ratio
            # is apples-to-apples; the pair retries together; sort key
            # is the pruned arm (the headline number of this section)
            full = _best_of(3, ConvertOptions(threads=cpus))
            pruned = _best_of(3, pruned_opts)
            return (pruned, full)

        (pruned_sec, big_full_sec), pruned_pin, _ = _ingest_leg(
            _pruned_measure
        )
        ingest_pruned = {
            "sec": round(pruned_sec, 3),
            "bytes": big_bytes,
            "mb_per_s": round(big_bytes / pruned_sec / 1e6, 1),
            "entries": 4096 * len(big_paths),
            "entries_per_s": round(4096 * len(big_paths) / pruned_sec, 0),
            "columns": "source,path,size,hash,format",
            "full_content_sec": round(big_full_sec, 3),
            "full_content_mb_per_s": round(big_bytes / big_full_sec / 1e6, 1),
            "speedup_vs_full": round(big_full_sec / pruned_sec, 2),
        }
    sections["ingest_pruned"] = ingest_pruned
    _checkpoint()

    # WARC ingest: same payload bytes via per-record-gzip .warc.gz (the
    # Common Crawl layout) — MB/s is payload bytes, comparable with tar
    if deadline.hit(60):
        deadline_info["deadline_hit"] = True
        ingest_warc = {"skipped": "deadline"}
        warc_pin = None
    else:
        warc_paths, warc_bytes = _warc_fixture("/tmp/a2p_bench_fixtures")
        run_noop(
            entries_pipeline(spark, warc_paths, ConvertOptions(threads=cpus))
        )

        warc_sec, warc_pin, _ = _ingest_leg(_throughput_measure(warc_paths))
        ingest_warc = {
            "sec": round(warc_sec, 3),
            "bytes": warc_bytes,
            "mb_per_s": round(warc_bytes / warc_sec / 1e6, 1),
            "entries": _INGEST_MEMBERS * len(warc_paths),
            "entries_per_s": round(
                _INGEST_MEMBERS * len(warc_paths) / warc_sec, 0
            ),
        }
    sections["ingest_warc"] = ingest_warc
    _checkpoint()

    # best of 5 everywhere (r4 verdict ask #2): the first run includes
    # whole-stage-codegen compilation for every new operator shape; at
    # sub-second scale n=3 was attributing scheduler noise to real
    # regressions (r3 verdict: three "regressions" an n>=5 re-measure
    # erased).  One pin sample runs between every pair of consecutive
    # entries; an entry is normalized by the MIN of its two surrounding
    # pins — an entry's best-of-5 tends to land in the quieter of the
    # two windows, and a single slow adjacent pin must not overcorrect.
    pin_before: dict[str, float] = {}
    pin_after: dict[str, float] = {}
    prev_pin = pin_samples[-1]  # the sample taken after the ingest section

    # Per-query quiet-window retry (r6 verdict ask #3): host load is
    # BURSTY — a whole-sweep retry re-rolls every entry's window at
    # once and tends to land in another burst, which is why two rounds
    # of sweep-level retries never produced a quiet run.  Instead, each
    # entry checks the pins bracketing ITS OWN measurement: if both are
    # >15% over the best pin seen so far, the window was loaded — take
    # another best-of-5 in the next window (the after-pin becomes the
    # new before-pin).  A global budget bounds worst-case sweep time
    # under SUSTAINED load, where retrying cannot help anyway.
    quiet_factor = 1.15
    initial_retry_budget = int(
        os.environ.get("SPARK_GRAFT_BENCH_QUERY_RETRIES", "60")
    )
    retry_budget = initial_retry_budget
    # Adaptive top-up (r7 verdict ask #2): on a SUSTAINED-load host the
    # fixed budget ran out silently (BENCH_r07: 60 retries gone, 76.7%
    # quiet, nothing in the artifact saying WHY).  When the pin series
    # itself shows the host loaded (median inflation > 15% so far), the
    # budget scales ×3 — more windows genuinely help under bursty load,
    # and under unretryable sustained load the exhaustion TELEMETRY
    # below makes the noisy verdict attributable to budget, not
    # mechanism.
    budget_topup = 2 * initial_retry_budget  # drawn only while loaded
    retries_exhausted = 0  # entries that gave up in a loaded window

    def _host_looks_loaded() -> bool:
        s = sorted(pin_samples)
        return s[len(s) // 2] > s[0] * 1.15

    # Deadline-aware pacing (r9 verdict ask #1c): `entry_walls` tracks
    # each entry's full wall cost (all windows + pins); when the
    # remaining battery no longer fits the remaining budget at
    # best-of-5, degrade to best-of-3 — and when even the recent
    # average entry no longer fits, stop measuring entirely and return
    # what exists, flagged partial.  Both degradations are reported.
    entry_walls: list[float] = []
    total_planned = len(HEADLINE) + len(TPCH)

    def _avg_entry_wall() -> float:
        recent = entry_walls[-10:]
        return sum(recent) / len(recent) if recent else 4.0

    def _reps() -> int:
        remaining = total_planned - len(entry_walls)
        if entry_walls and deadline.left() < _avg_entry_wall() * remaining:
            deadline_info["entries_degraded_to_best_of_3"] = (
                deadline_info.get("entries_degraded_to_best_of_3", 0) + 1
            )
            return 3
        return 5

    def timed_entries(names: list[str], out: dict[str, float]) -> None:
        nonlocal prev_pin, retry_budget, budget_topup, retries_exhausted
        for i, name in enumerate(names):
            if deadline.hit(max(4.0, _avg_entry_wall())):
                deadline_info["deadline_hit"] = True
                deadline_info["entries_skipped"] = deadline_info.get(
                    "entries_skipped", 0
                ) + (len(names) - i)
                break
            before = prev_pin
            t_entry = time.time()
            reps = _reps()
            # Each retry window tracks its OWN best-of-5, and the
            # reported value is the min across windows — with the pins
            # recorded being the ones that bracket the WINDOW THAT
            # PRODUCED that min (r8 advice: the old cross-window `best`
            # could pair an early-window measurement with the final
            # window's pins, so normalization divided by the wrong
            # window's load factor).  min across windows is still a
            # monotone improvement: load only ever inflates.
            windows: list[tuple[float, float, float]] = []
            try:
                while True:
                    w_best = float("inf")
                    for _ in range(reps):
                        t0 = time.time()
                        run_noop(qs[name](spark, sf_dir))
                        w_best = min(w_best, time.time() - t0)
                    after = pin_sample()
                    windows.append((w_best, before, after))
                    window = min(before, after)
                    if window <= min(pin_samples) * quiet_factor:
                        break
                    if deadline.hit(_avg_entry_wall()):
                        # out of wall budget: keep the loaded-window
                        # measurement instead of losing the battery
                        deadline_info["retries_deadline_skipped"] = (
                            deadline_info.get("retries_deadline_skipped", 0)
                            + 1
                        )
                        break
                    if retry_budget <= 0:
                        if budget_topup > 0 and _host_looks_loaded():
                            retry_budget += budget_topup
                            budget_topup = 0
                        else:
                            retries_exhausted += 1
                            break
                    retry_budget -= 1
                    before = after  # retry in the next window
                    # Pin-first window hunt (r11 verdict ask #7): a pin
                    # sample costs ~2×pin_best while a full retry costs
                    # reps× the entry — re-measuring straight into the
                    # same burst is how the old loop drained its budget.
                    # Spend up to 3 cheap pins waiting for the burst to
                    # pass before committing the next best-of-N.
                    for _ in range(3):
                        if before <= min(
                            pin_samples
                        ) * quiet_factor or deadline.hit(_avg_entry_wall()):
                            break
                        time.sleep(1.5)
                        before = pin_sample()
            except Exception as exc:  # never lose the sweep to 1 entry
                errors[name] = f"{type(exc).__name__}: {str(exc)[:160]}"
                entry_walls.append(time.time() - t_entry)
                _checkpoint()
                continue
            best, win_before, win_after = min(windows)
            pin_before[name] = win_before
            pin_after[name] = win_after
            out[name] = round(best, 3)
            prev_pin = after
            entry_walls.append(time.time() - t_entry)
            _checkpoint()

    timed_entries(HEADLINE, per_query)
    timed_entries(TPCH, tpch)

    # Normalized view: scale each entry by pin_best / min(surrounding
    # pins).  On an idle host every pin sample ~= pin_best and
    # normalized == raw; under load the factor deflates entries measured
    # during inflated windows back to clean-machine terms, and the pin
    # series itself (best/median/max) quantifies the inflation
    # explicitly instead of leaving it to after-the-fact A/B runs.
    pin_best = min(pin_samples)
    _PIN_FLOOR.append(pin_best)  # later attempts inherit this floor
    pin_sorted = sorted(pin_samples)
    pin_stats = {
        "name": PIN,
        # noisy=true ⇒ the host was measurably loaded during this run:
        # treat raw numbers as inflated and normalized numbers as a
        # clean-host ESTIMATE (short pin queries inflate proportionally
        # more than long throughput sections under sustained load, so
        # normalization can overcorrect); the pin series itself is the
        # primary evidence either way.
        "noisy": False,  # set below once the series is summarized
        "n": len(pin_samples),
        "best": round(pin_best, 3),
        "median": round(pin_sorted[len(pin_sorted) // 2], 3),
        "max": round(max(pin_samples), 3),
        "inflation_median_pct": round(
            100.0 * (pin_sorted[len(pin_sorted) // 2] / pin_best - 1.0), 1
        ),
        "inflation_max_pct": round(
            100.0 * (max(pin_samples) / pin_best - 1.0), 1
        ),
    }

    def _adj(name: str) -> float:
        return min(pin_before[name], pin_after[name])

    # Measurement quality is per-entry now: an entry is CLEAN if its
    # final (post-retry) bracketing window is within quiet_factor of
    # the run's best pin.  `noisy` flags the RESULT quality (did the
    # measurements land in quiet windows?), while
    # inflation_median_pct/host_loaded keep reporting the HOST's load
    # over the whole run — under bursty load the host can be loaded
    # while every entry still measured clean, and that distinction is
    # exactly what the per-query retry buys.
    all_names = list(per_query) + list(tpch)
    n_quiet = sum(
        1 for n in all_names if _adj(n) <= pin_best * quiet_factor
    )
    pin_stats["entries_quiet_pct"] = round(
        100.0 * n_quiet / max(1, len(all_names)), 1
    )
    # Retry telemetry (r7 verdict ask #2): `retries_spent` of the
    # effective budget (the base ×3 when the pin series showed the host
    # loaded mid-sweep), and `retries_exhausted` = entries that were
    # STILL in a loaded window when the budget ran dry.  A noisy
    # artifact with retries_exhausted > 0 is provably budget-bound
    # (sustained unretryable load); with retries_exhausted == 0 the
    # mechanism itself failed and that is a bug worth chasing.
    budget_granted = initial_retry_budget + (
        2 * initial_retry_budget if budget_topup == 0 else 0
    )
    pin_stats["query_retries_used"] = budget_granted - retry_budget
    pin_stats["retries_spent"] = pin_stats["query_retries_used"]
    pin_stats["ingest_retries_used"] = ingest_retries_used[0]
    # legs that gave up while STILL loaded (same semantics as the
    # query-side retries_exhausted), not merely "budget hit zero"
    pin_stats["ingest_retries_exhausted"] = ingest_retries_gave_up_loaded[0]
    pin_stats["retry_budget_effective"] = budget_granted
    pin_stats["retries_exhausted"] = retries_exhausted
    pin_stats["host_loaded"] = pin_stats["inflation_median_pct"] > 15.0
    pin_stats["noisy"] = pin_stats["entries_quiet_pct"] < 95.0

    per_query_norm = {
        n: round(per_query[n] * pin_best / _adj(n), 3) for n in per_query
    }
    tpch_norm = {n: round(tpch[n] * pin_best / _adj(n), 3) for n in tpch}
    if ingest_pin is not None:
        ingest["mb_per_s_normalized"] = round(
            ingest["mb_per_s"] * ingest_pin / pin_best, 1
        )
    if pruned_pin is not None:
        ingest_pruned["mb_per_s_normalized"] = round(
            ingest_pruned["mb_per_s"] * pruned_pin / pin_best, 1
        )
    if warc_pin is not None:
        ingest_warc["mb_per_s_normalized"] = round(
            ingest_warc["mb_per_s"] * warc_pin / pin_best, 1
        )

    total = round(sum(per_query.values()), 3)
    deadline_info["elapsed_sec"] = round(deadline.elapsed(), 1)
    return {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # a deadline-stopped sweep is PARTIAL: `value` sums only the
        # measured entries and is not comparable round-over-round
        **({"partial": True} if deadline_info.get("deadline_hit") else {}),
        **({"errors": errors} if errors else {}),
        "deadline": deadline_info,
        "cpus": cpus,
        "queries": per_query,
        "r1_subset_total": round(
            sum(per_query[n] for n in _R1_SUBSET if n in per_query), 3
        ),
        "sf": _sf_of(sf_dir),
        "tpch": {"total": round(sum(tpch.values()), 3), **tpch},
        "ingest": ingest,
        "ingest_pruned": ingest_pruned,
        "ingest_warc": ingest_warc,
        "pin": pin_stats,
        "value_normalized": round(sum(per_query_norm.values()), 3),
        "r1_subset_total_normalized": round(
            sum(per_query_norm[n] for n in _R1_SUBSET if n in per_query_norm), 3
        ),
        "tpch_total_normalized": round(sum(tpch_norm.values()), 3),
        "queries_normalized": per_query_norm,
        "tpch_normalized": tpch_norm,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    deadline = _Deadline()

    # never-lossy (r9 verdict ask #1b): if the driver's wall budget is
    # shorter than ours and it kills us anyway, still print the best
    # result seen so far and exit 0 — BENCH_r09's rc=124/parsed=null
    # must be unrepresentable.
    signal.signal(signal.SIGTERM, _emit_and_exit)
    signal.signal(signal.SIGINT, _emit_and_exit)
    # a kill during Spark startup / fixture build must still emit a
    # parseable (empty, partial) line rather than nothing
    _LATEST.setdefault(
        "full",
        {
            "metric": "headline_queries_total",
            "value": 0,
            "unit": "sec",
            "partial": True,
            "sf": _sf_of(sf_dir),
            "cpus": cpus,
            "queries": {},
            "deadline": {"budget_sec": deadline.budget},
        },
    )

    from archive_to_parquet_spark import queries as catalog
    from archive_to_parquet_spark.session import get_spark

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    # warm-up: JVM, codegen, parquet footer caches
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.format(
        "noop"
    ).mode("overwrite").save()

    qs = catalog.queries()

    # Retry-until-quiet (r5 verdict ask #4): a sweep whose pin series
    # shows >15% median inflation ran on a measurably loaded host — its
    # raw numbers understate the engine.  Re-run the whole sweep (up to
    # SPARK_GRAFT_BENCH_ATTEMPTS, default 3) and keep the QUIETEST
    # attempt (lowest pin median); stop early the moment an attempt is
    # clean.  Fixtures are disk-cached, so retries pay only measurement
    # time.  The wall deadline gates further attempts (r9 ask #1a: all
    # 3 attempts ran on a loaded host and blew the driver budget) — a
    # repeat attempt starts only if the remaining budget fits what the
    # previous attempt actually cost.
    attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))
    full = None
    for attempt in range(1, attempts + 1):
        t0_attempt = time.time()
        cand = _run_sweep(spark, qs, sf_dir, cpus, deadline)
        attempt_wall = time.time() - t0_attempt
        cand["pin"]["attempt"] = attempt
        # keep the attempt with the BEST measurement quality — the same
        # axis `noisy` gates on (share of entries that landed a quiet
        # window), tie-broken by relative pin inflation.  Selecting on
        # inflation alone could keep an attempt whose host looked
        # calmer at the pin median while far fewer of its entries
        # actually measured clean.  A partial (deadline-stopped)
        # attempt never displaces a complete one.
        if full is None or (
            not cand.get("partial", False),
            cand["pin"]["entries_quiet_pct"],
            -cand["pin"]["inflation_median_pct"],
        ) > (
            not full.get("partial", False),
            full["pin"]["entries_quiet_pct"],
            -full["pin"]["inflation_median_pct"],
        ):
            full = cand
        # a completed attempt immediately becomes the kill-time
        # artifact-of-record, so a kill during attempt N+1 emits
        # attempt N's COMPLETE result, not N+1's partial checkpoint
        _install(full)
        if not cand["pin"]["noisy"] or cand.get("partial"):
            break
        if attempt < attempts and deadline.hit(attempt_wall * 0.9):
            print(
                f"[bench] attempt {attempt} noisy but only "
                f"{deadline.left():.0f}s of budget left (attempt cost "
                f"{attempt_wall:.0f}s) — keeping quietest so far",
                file=sys.stderr,
            )
            full["deadline"]["attempts_deadline_skipped"] = (
                attempts - attempt
            )
            break
        print(
            f"[bench] attempt {attempt}/{attempts} noisy "
            f"(entries_quiet_pct {cand['pin']['entries_quiet_pct']}%, "
            f"pin median inflation "
            f"{cand['pin']['inflation_median_pct']}%) — "
            + ("retrying" if attempt < attempts else "keeping quietest"),
            file=sys.stderr,
        )
    full["pin"]["attempts_run"] = attempt  # chosen attempt is pin.attempt

    # the full per-query breakdown (~200 entries) is larger than the
    # 2000-char stdout tail the driver records, which left BENCH_r02/
    # r03 with parsed=None. Persist the full result to a committed
    # artifact, and make the FINAL stdout line a compact summary that
    # always fits the tail: contract fields + the r1 comparator subset
    # + the 10 most expensive queries.
    _install(full)
    print(_compact(full))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
