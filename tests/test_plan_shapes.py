"""Physical-plan shape discipline for individual catalog queries
beyond the shuffle count: joins must broadcast the intended side,
windows must be partitioned, filters must reach the scan. These pin
the scale properties SCALING.md claims — a regression that
de-broadcasts a join fails here long before it shows up at 100 TB.

Shuffle counts are pinned for the WHOLE catalog: PLAN_PINS.json
(written by tools/scale_audit.py) records every batch entry's
{shuffles, bnlj, py, cartesian, gw}, and the oracle gate
(``tests/test_oracle_gate.py``) checks each entry's record against it
on the one build it collects, so an entry silently growing a shuffle
fails that entry's test — a zero-shuffle entry needs no test here.
"""

import json
import os

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontaminate_broadcasts_benchmark_grams(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["decontaminate_ngrams"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_window_is_partitioned(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["pack_sequences"](spark, SF_DIR))
    assert "Window" in plan
    # the window spec must carry a partition key (source), never a
    # global single-partition sort
    spec_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert spec_lines
    assert all("windowspecdefinition(source" in l for l in spec_lines)


def test_sketch_accuracy_has_no_expand(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["sketch_accuracy"](spark, SF_DIR))
    assert "Expand" not in plan


def test_vocab_coverage_topk_and_broadcast(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["vocab_coverage"](spark, SF_DIR))
    # top-K vocab must be a partial top-K merge, not a global sort
    assert "TakeOrderedAndProject" in plan
    # vocab joins the corpus broadcast, never shuffling the token stream
    assert "BroadcastHashJoin" in plan


def test_corpus_shuffle_has_no_unpartitioned_window(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["corpus_shuffle"](spark, SF_DIR))
    spec_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert spec_lines
    # every window must partition by the range-partition id
    assert all("windowspecdefinition(__pid" in l for l in spec_lines)
    # the offsets side joins back broadcast
    assert "BroadcastHashJoin" in plan


def test_quantile_bands_broadcasts_cuts(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["filter_quantile_bands"](spark, SF_DIR))
    # the 1-row cuts aggregate must broadcast, not shuffle the corpus
    assert "BroadcastNestedLoopJoin" in plan


def test_web_domain_stats_single_agg_shuffle(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["web_domain_stats"](spark, SF_DIR))
    # parse_url must stay a JVM expression: no python runner in the plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q06_predicates_pushed_to_scan(spark):
    from archive_to_parquet_spark import queries as q

    df = q.queries()["tpch_q06_forecast_revenue"](spark, SF_DIR)
    plan = _plan(df)
    # every filter must reach the parquet scan (the PushedFilters list
    # is elided in toString past ~100 chars, so check its head plus the
    # full predicate in the post-scan Filter node)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "(l_quantity#" in plan and "< 24.0)" in plan
    # column pruning: only the 4 referenced columns are read
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in plan
    )


def test_tpch_q03_broadcasts_dims_and_takeordered(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["tpch_q03_shipping_priority"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # top-10, never a global sort
    assert "BroadcastHashJoin" in plan
    # the BUILDING segment filter is pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_tpch_q07_infers_nation_filter_pushdown(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["tpch_q07_volume_shipping"](spark, SF_DIR))
    # Catalyst must infer the nation-pair disjunction down onto the
    # nation dim scans (constraint propagation through the joins)
    assert "EqualTo(n_name,NATION_1)" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q18_aggregates_before_join(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["tpch_q18_large_orders"](spark, SF_DIR))
    # the having-filtered qty rollup must build the broadcast side —
    # orders stream past it, not through a shuffle join
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def test_tpch_q21_single_shuffle_conditional_agg(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["tpch_q21_multi_exists"](spark, SF_DIR))
    # exists/not-exists expressed as ONE aggregation over orders: no
    # self-join of orders anywhere in the plan
    assert plan.count("Scan parquet") == 2  # orders + customer, once each


def test_single_partition_windows_are_enumerated():
    """Unpartitioned windows funnel the input to ONE task — legitimate
    only as a fold over a bounded (sketch-sized) table.  The committed
    pins must show exactly the documented cases
    (sketch_hdr_quantiles' ≤2k-row bucket cumsum and
    eval_auc_quality's ≤4096-row binned-score accumulation); any new
    global window needs the same bounded-input argument and a line
    here."""
    with open(os.path.join(REPO, "PLAN_PINS.json")) as fh:
        pins = json.load(fh)["entries"]
    offenders = sorted(n for n, p in pins.items() if p.get("gw"))
    assert offenders == ["eval_auc_quality", "sketch_hdr_quantiles"], offenders
    assert pins["sketch_hdr_quantiles"]["gw"] == 1
    assert pins["eval_auc_quality"]["gw"] == 1


def test_tpch_q01_scan_rollup_shape(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["tpch_q01_pricing_summary"](spark, SF_DIR))
    # shipdate predicate pushed to the parquet scan; partial+final
    # HashAggregate with exactly one (tiny) exchange on the group key
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan


def test_tpch_q05_broadcasts_all_dims(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["tpch_q05_local_supplier_volume"](spark, SF_DIR))
    # customer, supplier and nation chains all broadcast — the only
    # SortMergeJoin/shuffled join allowed is lineitem ⨝ orders
    assert plan.count("BroadcastHashJoin") >= 3
    shuffled_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert shuffled_joins <= 1


def test_tpch_q02_min_joinback_keeps_ties(spark):
    from archive_to_parquet_spark import queries as q

    df = q.queries()["tpch_q02_min_cost_supplier"](spark, SF_DIR)
    rows = df.collect()
    # every emitted offer is its part's minimum price (join-back
    # correctness) and tied winners are all kept
    by_part: dict[int, set[float]] = {}
    for r in rows:
        by_part.setdefault(r["p_partkey"], set()).add(r["min_price"])
    assert all(len(v) == 1 for v in by_part.values())


def test_url_dedup_single_shuffle_with_partial_agg(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["dedup_url_canonical"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_decayed_sum_broadcasts_the_scalar(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["rel_decayed_sum"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pq_broadcasts_codebook_and_query_table(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["ann_pq_topk"](spark, SF_DIR))
    # codebook join + ADC table join + re-rank query join are all
    # broadcasts; the corpus is never on the build side
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 3


def test_semantic_decontaminate_broadcasts_benchmark(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["decontaminate_semantic"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    # the running max is an aggregate with map-side partials, NOT a window
    assert "windowspecdefinition" not in plan


# -- round-2-late entries (r2 verdict item 8) ---------------------------------


def test_benford_broadcasts_expected_distribution(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["audit_benford_prices"](spark, SF_DIR))
    # the 9-row expected-frequency table joins as a broadcast; the
    # observed-counts side must never sort-merge
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_k_anonymity_is_joinless_two_phase_agg(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["privacy_k_anonymity"](spark, SF_DIR))
    # quasi-identifier grouping + suppression pooling are aggregations
    # on the same keys — no join should appear, and only the final
    # scalar rollup may be single-partition
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("SinglePartition") <= 1


def test_ndcg_windows_are_partitioned_by_query(spark):
    from archive_to_parquet_spark import queries as q
    from archive_to_parquet_spark.plans.checkpoint import (
        recording_checkpoint_plans,
    )

    # round 12: the 30-row ranking is localCheckpoint-ed inside the
    # entry, which hides the BM25 rank window from the final plan —
    # capture checkpoint-truncated subplans too (the scale_audit
    # approach), so the window property stays enforced
    sink: list[str] = []
    with recording_checkpoint_plans(sink):
        df = q.queries()["eval_ndcg_bm25"](spark, SF_DIR)
    plan = "\n".join([_plan(df)] + sink)
    spec_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert spec_lines
    # every rank window partitions by query_id — a global un-keyed sort
    # would serialize the ranking at scale
    assert all("windowspecdefinition(query_id" in l for l in spec_lines)


def test_index_probe_reads_postings_only(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["search_index_probe"](spark, SF_DIR))
    # probe phase: only the persisted index artifacts are scanned —
    # the corpus parquet never appears in the probe plan
    assert "documents.parquet" not in plan
    assert "postings" in plan and "doclen" in plan
    # query terms reach the postings scan as a pushed In() filter so
    # row-group stats prune non-matching term ranges
    assert "PushedFilters: [In(term" in plan


# -- round-3 entries ----------------------------------------------------------


def test_bloom_probe_broadcasts_filter_bits(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["dedup_bloom_probe"](spark, SF_DIR))
    # the bit set joins the probe side as a broadcast — the corpus is
    # never shuffled against the probes for the membership test
    assert "BroadcastHashJoin" in plan


def test_countmin_sketch_lookups_broadcast(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["sketch_countmin"](spark, SF_DIR))
    # d sketch-row lookups each broadcast (sketch is ≤ d·w rows)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_lateral_topk_decorrelates_to_broadcast(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["rel_lateral_topk"](spark, SF_DIR))
    # Catalyst must decorrelate the LATERAL into a join (no nested-loop
    # per-row subquery execution); nation is the broadcast side
    assert "BroadcastHashJoin" in plan


def test_salted_join_spreads_hot_key(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["rel_salted_hot_join"](spark, SF_DIR))
    # the fact-side shuffle must carry the salt in its partitioning key
    # (that IS the skew fix) and the join must not broadcast-degrade
    salt_exchanges = [
        l for l in plan.splitlines()
        if "hashpartitioning" in l and "__salt" in l
    ]
    assert salt_exchanges, "salt column missing from shuffle partitioning"
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_window_panel_single_shuffle(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["rel_window_funcs_panel"](spark, SF_DIR))
    # the whole analytic panel shares one partitioning: exactly one
    # exchange, every window spec keyed on o_custkey
    assert plan.count("Exchange") == 1
    spec_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert spec_lines
    assert all("windowspecdefinition(o_custkey" in l for l in spec_lines)


def test_sql_udf_is_inlined_no_python(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["rel_sql_udf_priceband"](spark, SF_DIR))
    # the SQL-defined function must inline into codegen — a Python
    # eval node would mean the 100 TB scan pays a worker round-trip
    assert "Python" not in plan


def test_ann_jl_candidates_broadcast_queries(spark):
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["ann_jl_topk"](spark, SF_DIR))
    # both stages broadcast the query side; the corpus is never built
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    # candidate + re-rank windows both partition by query_id
    spec_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert spec_lines
    assert all("windowspecdefinition(query_id" in l for l in spec_lines)


def test_gapfill_run_length_plan(spark):
    """rel_gapfill_hourly's round-4 rewrite: run-length fill via
    lead+explode — NO join anywhere (the old dense-grid left join is
    gone) and every window partitioned by user_id."""
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["rel_gapfill_hourly"](spark, SF_DIR))
    assert "Join" not in plan, "dense-grid join came back"
    assert "Generate" in plan  # the sequence explode
    spec_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert spec_lines
    assert all("windowspecdefinition(user_id" in l for l in spec_lines)


def test_ingest_pipeline_is_single_stage(spark, tmp_path):
    """SCALING.md §Ingest claims walker → project/hash → filters is ONE
    shuffle-free stage (mapInArrow over the input list, no Exchange
    anywhere); pin it so a future change can't sneak a repartition or
    aggregation into the hot ingest path (r4 verdict ask #5)."""
    from archive_to_parquet_spark.options import ConvertOptions, IncludeType
    from archive_to_parquet_spark.plans.bucketing import plan_has_exchange
    from tests.conftest import tar_archive

    p = tmp_path / "one.tar"
    p.write_bytes(tar_archive({"a.txt": b"alpha", "b.bin": b"\xff\xfe\x00"}))
    from archive_to_parquet_spark.plans.convert import entries_pipeline

    for opts in (
        ConvertOptions(),
        ConvertOptions(include=IncludeType.TEXT, min_size=1, max_size=10_000),
    ):
        df = entries_pipeline(spark, [str(p)], opts)
        assert not plan_has_exchange(df), "ingest gained a shuffle"
        plan = _plan(df)
        assert "Exchange" not in plan
    # the dedup variant IS allowed its single hash-shuffle — but only one
    df_uniq = entries_pipeline(spark, [str(p)], ConvertOptions(unique=True))
    assert _plan(df_uniq).count("Exchange") <= 2  # partial+final pair max


def test_read_archives_head_is_range_with_one_python_node(spark, tmp_path):
    """The ingest scan is a JVM-only Range with one row per thread
    under exactly one Python evaluation (the walker's MapInArrow): no
    Python-RDD path list at the DAG head, and no more scan tasks than
    threads or inputs."""
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.audit import PY_NODES
    from archive_to_parquet_spark.sources.archive_source import read_archives
    from tests.conftest import tar_archive

    paths = []
    for i in range(5):
        p = tmp_path / f"a{i}.tar"
        p.write_bytes(tar_archive({f"f{i}.txt": b"x" * (i + 1)}))
        paths.append(str(p))
    for n_paths, threads in ((5, 3), (2, 8), (5, 5)):
        df = read_archives(spark, paths[:n_paths], ConvertOptions(threads=threads))
        plan = _plan(df)
        leaf = plan.strip().splitlines()[-1]
        assert "Range (0, " in leaf, plan
        assert plan.count("MapInArrow") == 1, plan
        lines = plan.splitlines()
        assert sum(1 for l in lines for n in PY_NODES if n in l) == 1, plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
        assert df.rdd.getNumPartitions() == min(n_paths, threads)


def test_multimodal_content_decode_is_one_python_pass(spark):
    """multimodal_content_decode decodes its eight media columns in one
    decode_media pass: exactly one Python node, no join, no shuffle."""
    from archive_to_parquet_spark import queries as q
    from archive_to_parquet_spark.plans.audit import PY_NODES

    plan = _plan(q.queries()["multimodal_content_decode"](spark, SF_DIR))
    lines = plan.splitlines()
    assert sum(1 for l in lines for n in PY_NODES if n in l) == 1, plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_lm_perplexity_broadcasts_model_and_scalar(spark):
    """text_lm_perplexity: the trigram model (charset-bounded) and the
    1-row totals must BROADCAST — per-doc histograms are the only
    shuffled data, and no per-row Python appears anywhere."""
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["text_lm_perplexity"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "Python" not in plan


def test_dsir_broadcasts_bucket_model(spark):
    """dsir_importance_weights: the 256-bucket model and the totals
    scalar broadcast; only per-doc histograms shuffle; no Python."""
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["dsir_importance_weights"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "Python" not in plan


def test_substring_dedup_windows_partitioned_no_python(spark):
    """dedup_substring_exact: the interval-union window functions run
    partitioned by doc id (never a global single-partition sort), the
    winner election keeps partial aggregation (map-side combine on the
    window string), and the whole plan stays JVM-side."""
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["dedup_substring_exact"](spark, SF_DIR))
    spec_lines = [
        l for l in plan.splitlines() if "windowspecdefinition" in l
    ]
    assert spec_lines
    assert all("id#" in l for l in spec_lines), "window lost its doc key"
    assert "partial_min" in plan or "partial_count" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_dbscan_pair_generator_has_no_all_pairs_join(spark):
    """The certified 100-TB DBSCAN path must generate ε-pairs with
    equi-joins on (band, bucket) / id keys only — no nested-loop or
    cartesian join anywhere in the candidate plan (the exact baseline
    `cosine_dbscan` deliberately uses one; the LSH twin must not)."""
    from archive_to_parquet_spark.operators.similarity import lsh_epsilon_pairs
    from archive_to_parquet_spark.queries.similarity import _dbscan_planted_corpus

    corpus = _dbscan_planted_corpus(spark, SF_DIR)
    plan = _plan(lsh_epsilon_pairs(corpus, dim=64, threshold=0.95))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the in-bucket self-join and the vector-fetch joins are equi-joins
    assert "Join" in plan or "join" in plan


def test_lsh_dbscan_matches_exact_dbscan(spark):
    """LSH-pair DBSCAN must reproduce the exact all-pairs baseline's
    labeling on the planted geometry (100% recall under the fixed
    md5-literal planes)."""
    from archive_to_parquet_spark import queries as q

    qs = q.queries()
    exact = {tuple(r) for r in qs["cluster_dbscan"](spark, SF_DIR).collect()}
    lsh = {tuple(r) for r in qs["cluster_dbscan_lsh"](spark, SF_DIR).collect()}
    assert lsh == exact
    assert any(role == "core" for _, role, _ in lsh)


def test_weighted_priority_sample_is_take_ordered(spark):
    """ORDER BY priority LIMIT k must plan as TakeOrderedAndProject —
    per-partition k-row heaps, no global sort."""
    from archive_to_parquet_spark import queries as q

    plan = _plan(q.queries()["sample_weighted_priority"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node


def test_first_occurrence_join_back_builds_from_the_first_occurrences(spark):
    """The exact-span kernel's join-back broadcasts the first-occurrence
    side and streams the units: a units-side build lets the adaptive
    plan flip between the two from run to run (SCALING.md, Exact-span
    first occurrence)."""
    import re

    from archive_to_parquet_spark import queries as q

    for name, key in (
        ("dedup_span_removal", "chunk"),
        ("dedup_substring_exact", "win"),
        ("dedup_cdc_chunks", "h"),
        ("dedup_cdc_gear", "h"),
    ):
        plan = _plan(q.queries()[name](spark, SF_DIR))
        sides = re.findall(
            rf"BroadcastHashJoin \[[^\]]*\b{key}#\d+\], \[[^\]]*\b{key}#\d+\], "
            r"Inner, (Build\w+)",
            plan,
        )
        assert sides == ["BuildRight"], (name, sides)
