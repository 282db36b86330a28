"""Physical-plan assertions: the scale guarantees are properties of the
plan, not just the output. These tests pin them down so a regression
that silently de-optimizes (lost pushdown, dropped broadcast, Python in
a hot path) fails CI even though results stay correct.
"""

from __future__ import annotations

import pytest

from p6__mapreduce_spark.operators.analytics import pricing_summary, revenue_by_nation
from p6__mapreduce_spark.operators.core import line_count
from p6__mapreduce_spark.queries import QUERIES
from p6__mapreduce_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _no_cached_plans(spark):
    # plan-shape assertions are meaningless if an earlier test left a
    # cached DataFrame whose subtree the CacheManager substitutes
    # (InMemoryTableScan) into the plan under inspection
    spark.catalog.clearCache()
    yield


from p6__mapreduce_spark.plans import (  # noqa: E402  (public-API helpers)
    formatted_plan as formatted,
    optimized_logical_plan,
    parsed_logical_plan,
    physical_plan as plan_of,
)


def _count_outside_cache(plan: str, needle: str) -> int:
    """Occurrences of ``needle`` in a plan tree EXCLUDING lines nested
    under an ``InMemoryRelation`` — a pinned (persisted) subtree is
    printed inline once per consumer reference (and, materialized,
    once per AQE section), so raw substring counts over-report
    executed nodes; the cached subtree executes exactly once."""
    import re as _re

    count = 0
    cache_depth: int | None = None
    for line in plan.splitlines():
        m = _re.search(r"[A-Za-z=]", line)
        depth = m.start() if m else 0
        if cache_depth is not None and depth > cache_depth:
            continue  # inside the cached subtree
        cache_depth = None
        if "InMemoryRelation" in line:
            cache_depth = depth
            continue
        if needle in line:
            count += 1
    return count


def test_q1_filter_pushed_to_parquet_scan(spark):
    df = pricing_summary(load_table(spark, SF, "lineitem"))
    plan = formatted(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_prunes_unread_columns(spark):
    plan = formatted(pricing_summary(load_table(spark, SF, "lineitem")))
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema
    assert "l_partkey" not in read_schema  # unused column pruned


def test_dimension_joins_are_broadcast(spark):
    t = {n: load_table(spark, SF, n) for n in ("customer", "orders", "lineitem", "nation", "region")}
    plan = plan_of(revenue_by_nation(t["customer"], t["orders"], t["lineitem"], t["nation"], t["region"]))
    assert "BroadcastHashJoin" in plan


def test_core_operators_have_no_python_in_plan(spark):
    df = line_count(
        load_table(spark, SF, "orders").selectExpr("cast(o_custkey as string) as value")
    )
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(" in plan  # whole-stage-codegen stage markers
    assert "partial_count" in plan  # map-side combine before the exchange


def test_embedding_neardup_default_is_not_cartesian(spark):
    # the default near-dup path must be the LSH-bucketed equi-join; the
    # O(n^2) CartesianProduct/BroadcastNestedLoopJoin is opt-in only
    from p6__mapreduce_spark.dedup.embedding import cosine_neardup_pairs_lsh

    df = cosine_neardup_pairs_lsh(load_table(spark, SF, "embeddings"), threshold=0.4)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_pushes_all_predicates_to_scan(spark):
    # TPC-H Q6 is pure scan-filter-agg: shipdate, discount AND quantity
    # predicates must all reach the parquet reader
    plan = formatted(QUERIES["tpch_q6_forecast_revenue"](spark, SF))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_shingle_postings_tokenize_once_no_window(spark):
    # the posting list is built map-side: the tokenizer (a regexp split)
    # must appear exactly once in the plan (a transform-over-indexes
    # formulation re-expands it per shingle), and there must be no
    # per-doc Window sort (a lead()-window formulation adds a full
    # shuffle+sort before the distinct)
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings

    df = shingle_postings(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    assert plan.count("split") == 1, f"tokenizer evaluated {plan.count('split')}x"
    assert "Window" not in plan
    # fully map-side: per-doc array_distinct replaced the global
    # distinct, so the posting build plans ZERO shuffles
    assert plan.count("Exchange") == 0


def test_minhash_verify_carries_sizes_no_size_joins(spark):
    # lsh_candidates rides n_shingles through the band join, so the
    # exact-Jaccard verify plans exactly 2 joins (candidates x postings
    # x postings) — not 4 (no separate per-doc size aggregate joins)
    from p6__mapreduce_spark.dedup.minhash import minhash_lsh_pairs

    df = minhash_lsh_pairs(load_table(spark, SF, "documents").limit(60))
    optimized = optimized_logical_plan(df)
    assert optimized.count("Join") == 3  # band self-join + 2 verify joins


def test_minhash_estimate_shares_the_lsh_build(spark):
    # the estimate counts matching signature positions in the LSH band
    # join, so it reads the pinned postings exactly as often as
    # dedup_minhash_lsh (4); a second posting list and signature build
    # for the estimate's own signature join read them 6 times
    lsh = plan_of(QUERIES["dedup_minhash_lsh"](spark, SF))
    est = plan_of(QUERIES["minhash_estimate_error"](spark, SF))
    assert est.count("Scan parquet") == lsh.count("Scan parquet") == 4


def test_candidate_verify_has_no_broadcast_hint(spark):
    # the candidate set is data-dependent (O(duplicates)); a static
    # broadcast hint could OOM the driver on a high-dup corpus. The plan
    # must leave the decision to AQE (no ResolvedHint in the optimized
    # logical plan). Built on a high-dup corpus: every doc has 4 copies.
    from pyspark.sql import functions as F

    from p6__mapreduce_spark.dedup.minhash import minhash_lsh_pairs

    base = load_table(spark, SF, "documents").limit(50)
    dup = base.select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text"
    )
    corpus = base.select("doc_id", "text").unionAll(dup)
    df = minhash_lsh_pairs(corpus, threshold=0.8)
    optimized = optimized_logical_plan(df)
    assert "ResolvedHint" not in optimized
    logical = parsed_logical_plan(df)
    assert "BROADCAST" not in logical.upper() or "broadcast" not in logical
    # and the high-dup corpus still verifies correctly: each base doc
    # pairs with its planted copy
    rows = df.collect()
    planted = {(r.id1, r.id2) for r in rows}
    want_some = sum(1 for r in rows if r.id2 - r.id1 == 100000)
    assert want_some >= 45, f"only {want_some} planted dup pairs found of 50"
    assert all(r.jaccard >= 0.8 for r in rows)
    assert planted


def test_declarative_queries_avoid_python_udfs(spark):
    # every query except the MR facade (whose POINT is arbitrary Python)
    # and multimodal (pandas plumbing by design) must stay JVM-side
    exempt = {"mr_facade_wordcount", "mr_facade_sort", "multimodal_features"}
    for name, fn in QUERIES.items():
        if name in exempt:
            continue
        plan = plan_of(fn(spark, SF))
        assert "EvalPython" not in plan, f"{name} fell back to Python UDF"


@pytest.mark.parametrize("name, p", [("mr_facade_wordcount", 8), ("mr_facade_sort", 4)])
def test_mr_facade_is_one_partition_id_exchange(spark, name, p):
    # the facade places each pair by its bucket and scans partitions in
    # key order: one exchange, one sort, no range sampling (which would
    # re-run the Python stages)
    plan = plan_of(QUERIES[name](spark, SF))
    exchanges = [line for line in plan.splitlines() if "Exchange " in line]
    assert len(exchanges) == 1, plan
    assert "Exchange shufflepartitionidpassthrough(" in exchanges[0], plan
    assert f"), {p}), REPARTITION_BY_NUM" in exchanges[0], plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Sort [") == 1, plan


def test_doc_chunks_is_map_side_single_tokenize(spark):
    # chunking must tokenize once (the regexp split evaluated per doc,
    # not re-expanded per chunk) and stay shuffle-free up to the output
    # sort: project + generate only
    from p6__mapreduce_spark.operators.pipeline import doc_chunks

    df = doc_chunks(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    # everything above the Generate (the per-chunk slice/join projections)
    # must reference the bound toks column, never re-run the tokenizer —
    # a transform-over-indexes formulation re-expands it per chunk
    above_generate = plan.split("Generate")[0]
    assert "split(" not in above_generate, above_generate
    assert "Exchange hashpartitioning" not in plan  # map-side until the orderBy


def test_sequence_packing_window_is_sharded(spark):
    from p6__mapreduce_spark.operators.pipeline import sequence_packing

    df = sequence_packing(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    assert "Window" in plan
    assert "SinglePartition" not in plan  # never a global running sum
    # the shard-count default tracks the cluster: defaultParallelism
    # shards (floored at 8), so window parallelism grows with the
    # cluster instead of being capped by a local-mode constant
    expected = max(8, spark.sparkContext.defaultParallelism)
    assert f"% {expected})" in plan, plan


def test_new_tpch_shapes_have_no_cartesian(spark):
    for q in ("tpch_q8_market_share", "tpch_q13_custdist", "tpch_q21_waiting_supplier"):
        plan = plan_of(QUERIES[q](spark, SF))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_bm25_scoring_side_has_no_explode_or_shuffle(spark):
    # the scale claim: per-term tf is a map-side array count — the
    # document side must plan no Generate (explode) at all, and the
    # only exchanges are the 1-row stats broadcast and the output sort
    from p6__mapreduce_spark.operators.ranking import bm25_scores

    df = bm25_scores(load_table(spark, SF, "documents"), ["spark", "window"])
    plan = plan_of(df)
    assert "Generate" not in plan, plan
    assert plan.count("BroadcastExchange") == 1  # the stats row
    assert "CartesianProduct" not in plan


def test_tfidf_single_explode_feeds_both_aggregations(spark):
    # tf and df must come from ONE explode of the corpus — a second
    # Generate NODE outside the pinned cache would re-tokenize and
    # re-shuffle the postings. Since r11 the tf relation is
    # pinned: both aggregations must read the cache, and
    # the only Generate lives inside the cached subtree (executed
    # exactly once to materialize it).
    from p6__mapreduce_spark.operators.ranking import tfidf_doc_terms

    df = tfidf_doc_terms(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    assert _count_outside_cache(plan, "Generate") == 0, plan
    assert "InMemoryTableScan" in plan  # consumers read the pinned cache
    assert plan.count("BroadcastExchange") >= 1  # corpus-size row broadcast


def test_unigram_surprise_integer_sum_in_plan(spark):
    # the per-doc aggregation must sum the QUANTIZED bigint column —
    # a float sum would be partitioning-dependent
    from p6__mapreduce_spark.operators.ranking import unigram_surprise

    df = unigram_surprise(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    assert "sum(logp_q6" in plan, plan


def test_source_cap_no_full_source_single_task_window(spark):
    # the 100 TB scale guarantee: no window partitioned by source alone
    # sees the full corpus — stage 1 must key its exchange by the salt
    # AND the source (spreading a hot source over `salts` tasks), and
    # only the tiny survivor set reaches the per-source window
    from p6__mapreduce_spark.operators.pipeline import source_cap
    from p6__mapreduce_spark.sources.readers import load_table

    import re

    df = source_cap(load_table(spark, SF, "documents"), 3)
    plan = plan_of(df)
    assert len(re.findall(r"\bWindow\b", plan)) == 2, plan
    # the salt is projected to an alias before its exchange: recover the
    # alias from the pmod(xxhash64(...)) projection, then require an
    # exchange keyed by (salt, source) AND one keyed by source alone
    salt_alias = re.search(r"pmod\(xxhash64\([^)]*\)[^)]*\) AS (_w\d+)#", plan)
    assert salt_alias, plan
    assert re.search(
        rf"Exchange hashpartitioning\({salt_alias.group(1)}#\d+L?, source#\d+", plan
    ), plan
    assert re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", plan), plan
    # Spark 3.5+ rank-limit pushdown: each exchange is preceded by a
    # Partial WindowGroupLimit, so BOTH shuffles move <= k rows per
    # (map partition, group) — pin it so a regression (e.g. a window
    # rewrite that defeats the pushdown) reintroduces full-data shuffles
    assert plan.count("WindowGroupLimit") == 4, plan  # 2 stages x Partial+Final


def test_tpch_supply_derived_shapes(spark):
    # Q2/Q9/Q11/Q20 on the reduced schema (supply relation derived from
    # lineitem): no cartesian anywhere; the only no-condition broadcast
    # join allowed is Q11's 1-row scalar-threshold build side (the
    # decorrelated HAVING-subquery shape)
    for q in (
        "tpch_q2_min_cost_supplier",
        "tpch_q9_product_profit",
        "tpch_q20_promotion_suppliers",
    ):
        plan = plan_of(QUERIES[q](spark, SF))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
    q11 = plan_of(QUERIES["tpch_q11_important_stock"](spark, SF))
    assert "CartesianProduct" not in q11
    assert q11.count("BroadcastNestedLoopJoin") == 1  # the 1-row scalar
    # Q20's IN-subquery chain must plan as semi joins (no row blowup)
    q20 = plan_of(QUERIES["tpch_q20_promotion_suppliers"](spark, SF))
    assert "LeftSemi" in q20
    # Q9's part LIKE filter must prune part before its broadcast join
    q9 = plan_of(QUERIES["tpch_q9_product_profit"](spark, SF))
    assert "Contains(p_name, widget)" in q9 or "widget" in q9


def test_closing_batch_plan_shapes(spark):
    """Pinned plans for the round-5 closing operators: the SCD2 build
    reuses ONE sort-exchange for both windows; the rolling-7d roll has
    no nested-loop join (explode + equi-join, not a range join); the
    SNM window pairing is a composite-key equi-join (never a
    block-only join with a post-filter); tfidf-cosine's only
    no-condition broadcast is the 1-row doc-count scalar."""
    from p6__mapreduce_spark.queries import QUERIES

    scd2 = plan_of(QUERIES["scd2_user_state"](spark, SF))
    # lag + lead share the (user_id, ts) sort: exactly one exchange
    # hash-partitioned on user_id feeds both windows
    assert scd2.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in scd2

    roll = plan_of(QUERIES["rolling_7d_active_users"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in roll
    assert "CartesianProduct" not in roll
    assert "Generate explode" in roll  # the 7-day fan-out is map-side

    snm = plan_of(QUERIES["dedup_sorted_neighborhood"](spark, SF))
    assert "CartesianProduct" not in snm
    assert "BroadcastNestedLoopJoin" not in snm
    # the pairing join keys on BOTH block and rank
    assert "block" in snm and "rn_b" in snm

    knn = plan_of(QUERIES["tfidf_cosine_topk"](spark, SF))
    assert "CartesianProduct" not in knn
    # the 1-row N scalar; the pinned weight cache's subtree prints per
    # consumer reference, so count executed nodes outside the cache
    assert _count_outside_cache(knn, "BroadcastNestedLoopJoin") <= 1

    peak = plan_of(QUERIES["peak_concurrency_daily"](spark, SF))
    # the sweep window is day-partitioned, never a global sort
    assert "Window" in peak and "CartesianProduct" not in peak


def test_r6_two_phase_window_rewrites(spark):
    """Pinned plans for the four r5-verdict corpus-fraction-window
    rewrites + the two-level skyline: no plan may funnel a constant
    fraction of the corpus through one window task anymore."""
    import re

    from p6__mapreduce_spark.queries import QUERIES

    # weighted_median_price: the cumulative window must sit ON TOP of
    # the (flag, price_cents) histogram aggregate, and the old rank-1
    # row_number pick must be gone (replaced by the min-price agg)
    wm = plan_of(QUERIES["weighted_median_price"](spark, SF))
    assert re.search(r"HashAggregate\(keys=\[flag#\d+, price_cents#\d+L?\]", wm), wm
    assert "row_number" not in wm, wm

    # token_budget_pack: stage-1 exchange keyed by (salt, source),
    # stage-2 exchange keyed by source alone; the stage-1 rank runs
    # within the salt group, never per-source
    tb = plan_of(QUERIES["token_budget_pack"](spark, SF))
    assert re.search(r"Exchange hashpartitioning\(_salt#\d+L?, source#\d+", tb), tb
    assert re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", tb), tb
    assert re.search(r"row_number.*windowspecdefinition\(_salt#\d+L?, source#\d+", tb), tb

    # rfm_segments: the three global ntile windows are gone; every
    # row_number rank is local to a range partition (keyed by the
    # two-phase rank's pid column)
    rfm = plan_of(QUERIES["rfm_segments"](spark, SF))
    assert "ntile" not in rfm, rfm
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^,]+)", rfm):
        assert "_tpr_pid" in spec, rfm

    # quantile_normalize_tokens: the per-source corpus rank window is
    # gone — the only row_number is the two-phase local rank
    qn = plan_of(QUERIES["quantile_normalize_tokens"](spark, SF))
    assert not re.search(r"windowspecdefinition\(source#\d+, n_tokens", qn), qn
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^,]+)", qn):
        assert "_tpr_pid" in spec, qn

    # pareto_frontier_parts: level 1 is the salt-partitioned local
    # skyline (64-way parallel); only ONE single-partition exchange
    # remains — the exact level-2 pass over the bounded skyline union
    pf = plan_of(QUERIES["pareto_frontier_parts"](spark, SF))
    assert re.search(r"Exchange hashpartitioning\(_salt#\d+L?", pf), pf
    assert pf.count("Exchange SinglePartition") == 1, pf


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_built_frames_run_no_python_worker(spark):
    """A driver-computed result handed back through ``local_frame`` is
    an Arrow-backed JVM relation; ``createDataFrame(list)`` would put a
    PythonRDD (one Python worker per task of every job over it) under
    the plan."""
    from p6__mapreduce_spark.functions.frames import local_frame

    bpe = QUERIES["bpe_learn_merges"](spark, SF)
    assert "PythonRDD" not in _rdd_lineage(bpe)
    empty = local_frame(spark, [], "merge_idx int, lhs string")
    assert "PythonRDD" not in _rdd_lineage(empty)
    assert empty.collect() == []
    as_list = spark.createDataFrame([(0, "a")], "merge_idx int, lhs string")
    assert "PythonRDD" in _rdd_lineage(as_list)  # the guard can tell


def test_engine_builds_local_frames_only_through_frames_module():
    """``createDataFrame(`` appears in the engine only in
    functions/frames.py and the idempotent runner's replay of collected
    rows; every other driver-built frame goes through ``local_frame``."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "p6__mapreduce_spark"
    sites = sorted(
        str(path.relative_to(pkg))
        for path in pkg.rglob("*.py")
        if "createDataFrame(" in path.read_text()
    )
    assert sites == ["functions/frames.py", "streaming/idempotent.py"], sites


# The generated-code cache holds the iterative workloads. Spark compiles
# each whole-stage-codegen class with Janino and caches it by source
# text; with the 100-entry default the LSH dedup and BPE queries evicted
# each other's classes and recompiled 10-21 classes each on a repeat
# run, and session.get_session sizes the cache so a repeat run over the
# same data finds its classes again.


def _codegen_compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _codegen_round(spark) -> dict[str, int]:
    """Compilations per query for one run of both queries on a fresh
    session."""
    session = spark.newSession()
    compiled = {}
    for name in ("dedup_minhash_lsh", "bpe_learn_merges"):
        before = _codegen_compilations(spark)
        QUERIES[name](session, SF).write.format("noop").mode("overwrite").save()
        session.catalog.clearCache()
        compiled[name] = _codegen_compilations(spark) - before
    return compiled


def test_repeat_round_compiles_no_new_codegen_classes(spark):
    first = _codegen_round(spark)
    repeat = _codegen_round(spark)
    # dedup_minhash_lsh runs in each round for its cache footprint (49
    # classes) but is not asserted: its pair-verification join orders
    # two operands differently in some runs, which is genuinely new
    # source (2-10 classes) at any cache size
    assert repeat["bpe_learn_merges"] == 0, (first, repeat)
