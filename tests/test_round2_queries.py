"""Behavioral tests for the round-2 OLAP/pipeline additions (the value
gate is tools/oracle_check.py; these pin plan shapes and edge semantics
the oracle comparison can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from p6__mapreduce_spark.queries import QUERIES
from p6__mapreduce_spark.sources.readers import load_table
from p6__mapreduce_spark.plans import physical_plan

SF = "/root/testdata/sf0.001"


def test_q4_plans_a_left_semi_join(spark):
    plan = physical_plan(QUERIES["tpch_q4_priority_exists"](spark, SF))
    assert "LeftSemi" in plan


def test_customer_order_stats_keeps_zero_order_customers(spark):
    df = QUERIES["customer_order_stats"](spark, SF)
    rows = {r.c_custkey: (r.n_orders, r.total_cents) for r in df.collect()}
    n_cust = load_table(spark, SF, "customer").count()
    assert len(rows) == n_cust  # LEFT join: nobody dropped
    zero = [k for k, (n, c) in rows.items() if n == 0]
    assert all(rows[k][1] == 0 for k in zero)  # coalesced sum


def test_mode_is_deterministic_on_ties(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z")], "user_id long, event_type string"
    )
    counts = df.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), "event_type")
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "event_type")
        .collect()
    )
    got = {r.user_id: r.event_type for r in top}
    assert got == {1: "a", 2: "z"}  # tie at cnt=1 -> lexicographic


def test_sliding_window_frame_is_trailing_seven_rows(spark):
    df = QUERIES["user_value_sliding_avg"](spark, SF)
    rows = df.filter(F.col("user_id") == df.select("user_id").first()[0]).collect()
    assert rows[0].w_n == 1  # first event: frame holds only itself
    assert all(r.w_n <= 7 for r in rows)
    assert all(abs(r.w_avg - r.w_cents / r.w_n) < 1e-12 for r in rows)


def test_deterministic_sample_is_stable_and_proper_subset(spark):
    a = {r.doc_id for r in QUERIES["deterministic_sample"](spark, SF).collect()}
    b = {r.doc_id for r in QUERIES["deterministic_sample"](spark, SF).collect()}
    assert a == b
    total = load_table(spark, SF, "documents").count()
    assert 0 < len(a) < total


def test_connected_components_transitive_chain(spark):
    # A-B, B-C chain collapses to one component; D stays a singleton
    from p6__mapreduce_spark.dedup.components import connected_components

    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    edges = spark.createDataFrame([(2, 3), (1, 2)], "id1 long, id2 long")
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_converges_on_long_path(spark):
    # a 12-node path needs multiple propagation rounds — exercises the
    # iteration + convergence check, not just one join
    from p6__mapreduce_spark.dedup.components import connected_components

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id1 long, id2 long")
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_event_neighbor_counts_plan_is_not_cartesian(spark):
    plan = physical_plan(QUERIES["event_neighbor_counts"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_streaming_dedup_state_survives_micro_batches(spark, tmp_path):
    # the runner stages the input twice at 1 file/trigger; output must
    # equal batch DISTINCT (i.e. cross-batch duplicates were dropped)
    import os

    from p6__mapreduce_spark.streaming.dedup import run_streaming_dedup

    got = run_streaming_dedup(spark, os.path.join(SF, "events.parquet")).collect()
    want = (
        load_table(spark, SF, "events")
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_verified_window_spends_all_50_slots_on_oracles():
    """The driver verifies the first 50 registered queries, in
    registration order — the window head must match VERIFIED_WINDOW
    exactly. Policy: the six reference-parity pins at the head, then
    refresh slots that cover the queries whose plans changed. The
    13 queries that stopped reading the deleted cross-query memo and
    the 6 whose BPE loop or per-row lambdas went away rotate in; the
    19 name-first unchanged members of the round-4 freshness cohort
    (the oldest non-parity entries) rotate out."""
    from p6__mapreduce_spark.queries import QUERIES, VERIFIED_WINDOW, get_oracle_sql

    keys = list(QUERIES)
    assert keys[: len(VERIFIED_WINDOW)] == list(VERIFIED_WINDOW)
    assert len(VERIFIED_WINDOW) == 50
    oracles = get_oracle_sql()
    missing = [k for k in VERIFIED_WINDOW if k not in oracles]
    assert not missing, missing
    # every former memo consumer is in the window
    changed = {
        "dedup_minhash_lsh", "dedup_components", "dedup_cluster_stats",
        "leakage_safe_splits", "minhash_estimate_error",
        "canonical_best_quality", "clean_corpus", "dedup_edit_distance",
        "dedup_triangle_stats", "dedup_label_propagation", "dedup_kcore",
        "knn_ivf", "semantic_dedup", "cluster_medoids",
        "silhouette_by_cluster", "ann_recall_audit",
    }
    assert changed <= set(VERIFIED_WINDOW)
    # every query whose BPE loop or per-row lambda went away is in too
    assert {
        "bpe_learn_merges", "bpe_fertility", "approx_stats",
        "hll_user_audit", "sketch_weekly_users", "bootstrap_mean_ci",
    } <= set(VERIFIED_WINDOW)
    # eviction boundary: the first and 19th unchanged r4 members by
    # name left, the 20th and the last stayed
    assert "append_finalized_windows_streaming" not in VERIFIED_WINDOW
    assert "group_kfold_splits" not in VERIFIED_WINDOW
    assert "grouping_sets_explicit" not in VERIFIED_WINDOW
    assert "multimodal_resize" not in VERIFIED_WINDOW
    assert "ntile_price_quartiles" in VERIFIED_WINDOW
    assert "winsorized_event_values" in VERIFIED_WINDOW
    assert "bigram_perplexity" in VERIFIED_WINDOW
    # pinned mode restored (r7's one-round disjoint assertion flipped
    # back — reference-parity regressions are driver-visible again)
    parity = {
        "wordcount_lines", "wordcount_union", "distinct_sorted",
        "range_bucket_sort", "mr_facade_wordcount", "mr_facade_sort",
    }
    assert parity <= set(VERIFIED_WINDOW[:6])
    # sketch_weekly_users gained a real oracle in r8 (portable HLL +
    # embedded-ln-table linear counting) and approx_stats in r9 —
    # neither must ever again be exempted from the hash compare
    assert "sketch_weekly_users" in oracles
    assert "approx_stats" in oracles


def test_bench_scope_covers_registry_except_documented_exclusions():
    """r7 invariant (r6 verdict gap #6): every registered query is
    timed every round — in the headline set or the protocol-runner
    section — except the three documented output-cardinality /
    opt-in-quadratic baselines. Guards against silent bench-coverage
    drift as the registry grows."""
    from bench import HEADLINE, PROTOCOL_RUNNERS
    from p6__mapreduce_spark.queries import QUERIES

    assert set(HEADLINE).isdisjoint(PROTOCOL_RUNNERS)
    assert len(HEADLINE) == len(set(HEADLINE))
    timed = set(HEADLINE) | set(PROTOCOL_RUNNERS)
    assert timed <= set(QUERIES)  # no stale names
    untimed = set(QUERIES) - timed
    assert untimed == {
        "dedup_simhash_pairs",
        "dedup_simhash64_pairs",
        "embedding_neardup_exact",
    }, untimed
