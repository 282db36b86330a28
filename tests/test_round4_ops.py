"""Round-4 operator unit tests on crafted data: sliding windows,
bigram LM table, passage-level dedup + rewrite."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def test_sliding_windows_each_event_in_two_windows(spark):
    rows = [
        (1, "click", datetime(2024, 1, 1, 0, 2, 0), 1.0),   # windows -5:00 and 0:00
        (2, "click", datetime(2024, 1, 1, 0, 7, 30), 2.0),  # windows 0:00 and 5:00
        (3, "view", datetime(2024, 1, 1, 0, 2, 0), 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    from p6__mapreduce_spark.streaming.windows import sliding_event_counts

    out = sliding_event_counts(ev, minutes=10, slide_minutes=5).collect()
    # every event appears in exactly 2 windows -> total count doubles
    assert sum(r.cnt for r in out) == 2 * len(rows)
    base = int(datetime(2024, 1, 1).timestamp())
    clicks = {(r.window_start - base, r.cnt) for r in out if r.event_type == "click"}
    # event 1 in starts {-300, 0}; event 2 in starts {0, 300}: start 0 has both
    assert (0, 2) in clicks and (-300, 1) in clicks and (300, 1) in clicks
    # exact cents
    assert all(r.value_cents == int(r.value_cents) for r in out)


def test_bigram_lm_exact_probabilities(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], "doc_id long, text string"
    )
    from p6__mapreduce_spark.operators.ranking import bigram_lm

    out = {(r.w1, r.w2): r for r in bigram_lm(docs, min_pair_count=1).collect()}
    # pairs: doc1 -> (a,b) (b,a) (a,b) (b,c); doc2 -> (a,b) (b,x)
    assert out[("a", "b")].c_pair == 3 and out[("a", "b")].c_ctx == 3
    assert out[("a", "b")].p_q6 == 1_000_000  # P(b|a) = 1 exactly
    assert out[("b", "a")].c_pair == 1 and out[("b", "a")].c_ctx == 3
    assert out[("b", "a")].p_q6 == 333_333  # floor(1e6/3): integer division
    # min_pair_count cuts the tail AFTER normalization: (a,b) keeps the
    # full c_ctx=3 even though (b,*) hapax pairs vanish from the output
    cut = {(r.w1, r.w2): r for r in bigram_lm(docs, min_pair_count=2).collect()}
    assert set(cut) == {("a", "b")}
    assert cut[("a", "b")].c_ctx == 3


def test_passage_dedup_drops_repeated_passage_keeps_first(spark):
    # passages of 3 tokens; docs 1 and 2 share their first passage
    boiler = "nav home about"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma"),
            (2, boiler + " delta epsilon zeta"),
            (3, "unique words only here now yes"),
        ],
        "doc_id long, text string",
    )
    from p6__mapreduce_spark.dedup.passage import passage_dedup_rewrite

    out = {r.doc_id: r for r in passage_dedup_rewrite(docs, passage_tokens=3).collect()}
    assert out[1].n_passages == 2 and out[1].n_kept == 2
    assert out[1].clean_text == "nav home about alpha beta gamma"
    assert out[2].n_passages == 2 and out[2].n_kept == 1  # boilerplate dropped
    assert out[2].clean_text == "delta epsilon zeta"
    assert out[3].n_kept == 2 and out[3].clean_text == "unique words only here now yes"


def test_passage_dedup_full_husk_survives_as_empty(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], "doc_id long, text string"
    )
    from p6__mapreduce_spark.dedup.passage import passage_dedup_rewrite

    out = {r.doc_id: r for r in passage_dedup_rewrite(docs, passage_tokens=3).collect()}
    assert out[1].n_kept == 1 and out[1].clean_text == "x y z"
    assert out[2].n_kept == 0 and out[2].clean_text == ""


def test_passage_dedup_ragged_tail_passage(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    from p6__mapreduce_spark.dedup.passage import passage_dedup_rewrite

    r = passage_dedup_rewrite(docs, passage_tokens=3).collect()[0]
    assert r.n_passages == 2 and r.n_kept == 2  # "a b c" + tail "d e"
    assert r.clean_text == "a b c d e"


def test_python_udtf_sentence_split(spark):
    """Spark 4 Python UDTF surface: a lateral table function splitting
    documents into sentences — one input row fans out to N output rows
    with per-sentence columns, invoked through SQL LATERAL. (Registry
    queries stay UDTF-free on purpose: the synthetic corpus has no
    sentence punctuation, and Arrow-free UDTFs are a slow path — this
    pins the API works end-to-end for users who need it.)"""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: int, sentence: string, n_tokens: int")
    class SentenceSplit:
        def eval(self, text: str):
            parts = [p.strip() for p in re.split(r"[.!?]+", text or "")]
            for i, p in enumerate(p for p in parts if p):
                yield i, p, len(p.split())

    spark.udtf.register("sentence_split", SentenceSplit)
    docs = spark.createDataFrame(
        [(0, "First one. Second bit! Third?"), (1, "No split here"), (2, "")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_tokens
        FROM udtf_docs d, LATERAL sentence_split(d.text) s
        ORDER BY d.doc_id, s.sent_idx
        """
    ).collect()
    got = [(r.doc_id, r.sent_idx, r.sentence, r.n_tokens) for r in rows]
    assert got == [
        (0, 0, "First one", 2),
        (0, 1, "Second bit", 2),
        (0, 2, "Third", 1),
        (1, 0, "No split here", 3),
    ]


def test_dsir_weights_favor_target_distribution(spark):
    # target-lang docs use gram 'aa'; off-target docs use 'zz'; a mixed
    # doc sits between. The importance weight must rank: pure-target >
    # mixed > pure-off-target, and n_grams counts uni+bi instances.
    docs = spark.createDataFrame(
        [
            (1, "aa aa aa", "en"),
            (2, "zz zz zz", "de"),
            (3, "aa zz aa", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    from p6__mapreduce_spark.operators.dsir import dsir_weights

    out = {r.doc_id: r for r in dsir_weights(docs, target_lang="en").collect()}
    assert set(out) == {1, 2, 3}
    # 3 tokens -> 3 unigrams + 2 bigrams = 5 gram instances
    assert all(out[d].n_grams == 5 for d in out)
    assert out[1].avg_logratio > out[3].avg_logratio > out[2].avg_logratio
    # exact fixed point: the weight is an integer, avg = weight/(n*1e6)
    for r in out.values():
        assert r.logweight_q6 == int(r.logweight_q6)
        assert abs(r.avg_logratio - r.logweight_q6 / (r.n_grams * 1e6)) < 1e-12


def test_dsir_plan_single_corpus_shuffle(spark):
    # scale pin: the corpus-sized relation is shuffled ONLY on the
    # near-unique (doc_id, lang, bucket) key; the bucket model and the
    # ratio table must arrive via broadcast, never a corpus-sized join
    from p6__mapreduce_spark.operators.dsir import dsir_weights
    from p6__mapreduce_spark.sources.readers import load_table
    from tests.test_plans import SF, plan_of

    plan = plan_of(dsir_weights(load_table(spark, SF, "documents")))
    assert "CartesianProduct" not in plan
    # ratio-table join + 1-row totals join are broadcast
    assert plan.count("BroadcastExchange") >= 1
    # no Python anywhere: pure codegen expressions
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_learns_expected_merges(spark):
    # corpus: 'abab' x3, 'abc' x1 -> pairs: (a,b):3*2+1=7, (b,a):3, (b,c):1
    # merge 0 = (a,b). Then 'abab' -> [ab, ab], 'abc' -> [ab, c]:
    # pairs: (ab,ab):3, (ab,c):1 -> merge 1 = (ab,ab).
    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "abab abc")], "doc_id long, text string"
    )
    from p6__mapreduce_spark.operators.bpe import bpe_learn_merges

    out = bpe_learn_merges(spark, docs, num_merges=2).collect()
    assert [(r.merge_idx, r.lhs, r.rhs, r.pair_count) for r in out] == [
        (0, "a", "b", 7),
        (1, "ab", "ab", 3),
    ]


def test_bpe_merge_pair_leftmost_nonoverlapping():
    # 'aaa' under merge (a,a) must become [aa, a], never [a, aa] or [aaa]
    from p6__mapreduce_spark.operators.bpe import _merge_pair

    assert _merge_pair(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert _merge_pair(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert _merge_pair(["a", "b", "a"], "a", "a") == ["a", "b", "a"]


def test_bpe_learn_merges_job_count_independent_of_num_merges(spark):
    # the merge rounds run on the driver over the collected vocabulary,
    # so more merges must not mean more Spark jobs
    from p6__mapreduce_spark.operators.bpe import bpe_learn_merges
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sc = spark.sparkContext

    def jobs(num_merges: int) -> int:
        group = f"bpe-job-count-{num_merges}"
        sc.setJobGroup(group, "bpe job count")
        try:
            merges = bpe_learn_merges(spark, docs, num_merges=num_merges)
            assert merges.count() == num_merges
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    few, many = jobs(2), jobs(8)
    assert few > 0 and few == many, (few, many)


def test_bpe_stops_when_no_pairs_remain(spark):
    # single-char words have no adjacent pairs at all -> empty merge table
    docs = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    from p6__mapreduce_spark.operators.bpe import bpe_learn_merges

    assert bpe_learn_merges(spark, docs, num_merges=4).count() == 0


def test_bpe_fertility_counts(spark):
    # after merges (a,b) then (ab,ab): 'abab' -> 1 piece... no: 'abab'
    # -> [ab, ab] -> [abab] = 1; 'abc' -> [ab, c] = 2 pieces
    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "abab abc")], "doc_id long, text string"
    )
    from p6__mapreduce_spark.operators.bpe import bpe_encode_stats

    out = {r.doc_id: r for r in bpe_encode_stats(spark, docs, num_merges=2).collect()}
    assert out[1].n_words == 2 and out[1].n_pieces == 2   # [abab], [abab]
    assert out[2].n_words == 2 and out[2].n_pieces == 3   # [abab], [ab, c]
    assert abs(out[2].fertility - 1.5) < 1e-12


def test_cms_estimate_upper_bounds_exact(spark):
    # CMS guarantee: est >= exact for every queried key; with width 256
    # and a tiny corpus there are no collisions, so est == exact
    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b zz")], "doc_id long, text string"
    )
    from p6__mapreduce_spark.operators.sketches import cms_token_audit

    out = {r.token: r for r in cms_token_audit(docs, top=4).collect()}
    assert out["a"].exact_cnt == 4 and out["b"].exact_cnt == 3
    for r in out.values():
        assert r.cms_est >= r.exact_cnt
    assert out["a"].cms_est == 4  # no collision at this scale


def test_cms_matrix_bounded_and_mergeable(spark):
    # the matrix never exceeds depth*width rows, and summing two
    # sketches equals the sketch of the union (cell-wise additivity)
    docs1 = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    docs2 = spark.createDataFrame([(2, "x q")], "doc_id long, text string")
    from p6__mapreduce_spark.functions.text import tokens_expr
    from p6__mapreduce_spark.operators.sketches import count_min_sketch
    from pyspark.sql import functions as F

    t1 = docs1.select(F.explode(tokens_expr("text")).alias("token"))
    t2 = docs2.select(F.explode(tokens_expr("text")).alias("token"))
    s1, s2 = count_min_sketch(t1, "token"), count_min_sketch(t2, "token")
    both = count_min_sketch(t1.unionAll(t2), "token")
    assert both.count() <= 4 * 256
    merged = (
        s1.unionAll(s2).groupBy("row", "cell").agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, both.collect()))


def test_bpe_all_rounds_fire_on_driver_corpora(spark):
    # bpe_fertility's oracle re-derives the final vocab through ALL 8
    # CTE stages, which is only valid when no round stops early (an
    # empty argmax would empty the chained vocab). Guard the
    # precondition on the smallest driver corpus.
    from p6__mapreduce_spark.operators.bpe import bpe_learn_merges
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert bpe_learn_merges(spark, docs, num_merges=8).count() == 8
