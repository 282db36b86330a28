#!/usr/bin/env python3
"""Physical-plan audit: one scorecard row per registered query.

For every `queries()` entry, build the DataFrame (no execution) and
summarize the physical plan: shuffle count, broadcast vs sort-merge
joins, cartesian products (must be zero), Python-in-plan (must be zero
outside the MR facade / multimodal, whose POINT is custom Python), and
whole-stage codegen presence. Writes the table to PLANS.md so plan
regressions show up in review diffs, not just as slow benchmarks.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p6__mapreduce_spark.plans import physical_plan

# queries whose plans intentionally run Python (arbitrary user reducers /
# Arrow feature extraction)
PYTHON_EXEMPT = {
    "mr_facade_wordcount",
    "mr_facade_sort",
    "multimodal_features",
    # REAL codec-free decodes run in Arrow-batched mapInPandas by design
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_frames",
    "multimodal_audio_decode",
    "multimodal_audio_downsample",
    "multimodal_video_decode",
    # the vectorized GROUPED_AGG pandas-UDAF demonstration — Python IS
    # the point; quantized-int logs keep it oracle-exact
    "udaf_source_gmean",
}

# queries whose nested-loop join is the documented intent, not a regression:
# the two exact brute-force baselines (the scale paths are embedding_neardup /
# knn_lsh / knn_ivf), and Q22's scalar subquery — a 1-row build side broadcast
# (the standard physical plan for a scalar threshold; nothing O(n^2) about it)
CARTESIAN_EXEMPT = {
    "embedding_neardup_exact",
    "knn_bruteforce",
    "tpch_q22_idle_rich_customers",
    # 1-row corpus-stats build side (N / avgdl / per-term df / total
    # tokens) broadcast into the scoring pass — same scalar-broadcast
    # shape as Q22
    "tfidf_doc_terms",
    "bm25_scores",
    "unigram_surprise",
    # same 1-row total-tokens broadcast as unigram_surprise, feeding
    # the stupid-backoff unigram table
    "bigram_perplexity",
    # embeds knn_bruteforce as its ground truth — the deliberate exact
    # baseline (16 broadcast queries x corpus), same as knn_bruteforce
    "ann_recall_audit",
    # 1-row (n_keys, total_rows) scalar broadcast into the count
    # distribution before the positional-percentile rank — Q22 shape
    "skew_profile",
    # bounded category-domain grid (n_langs x n_sources distinct
    # values) — the full contingency table including real zero cells
    "lang_source_chisq",
    # 16 broadcast query vectors x corpus — the deliberate exact
    # mining baseline, same shape as knn_bruteforce; at scale the
    # candidates= hook swaps in ANN probe sets
    "contrastive_mining",
    # 1-row totals (n_s, n_t) broadcast into the <=num_buckets ratio
    # table — the scalar-broadcast shape, not a data cross product
    "dsir_weights",
    # 1-row query-vector build side broadcast into the vector leg's
    # cosine scan (cut to top-N by TakeOrdered immediately after)
    "hybrid_search_rrf",
    # 1-row global-total threshold broadcast into the per-part filter
    # (the decorrelated HAVING-scalar of TPC-H Q11)
    "tpch_q11_important_stock",
    # 1-row (t_base, t_cur) totals broadcast into the bounded
    # histogram — the scalar-broadcast shape
    "value_drift_psi",
    # inherits dsir_weights' 1-row totals broadcast (same plan prefix)
    "dsir_resample_topk",
    # inequality pair join over the |sources| centroid table (<= 20
    # rows/side after aggregation) — bounded category-domain grid,
    # same class as lang_source_chisq
    "source_centroid_similarity",
    # embeds knn_bruteforce (the deliberate exact baseline) as its
    # ranker — same exemption as ann_recall_audit
    "retrieval_mrr_eval",
    # day-level lookback self-join AFTER the corpus collapses to daily
    # rows — bounded |days| x 40 grid, same class as lang_source_chisq
    "ewma_daily_revenue",
    # 1-row scalar broadcasts per power-iteration round (node count +
    # dangling-mass aggregate) into the <=N-row rank relation — the
    # Q22 scalar shape, three rounds deep
    "nation_trade_pagerank",
    # 1-row total-tokens broadcast into the surviving collocation rows
    # — same scalar shape as unigram_surprise
    "ngram_pmi",
    # broadcast 16-query rows x corpus — the deliberate labeled exact
    # baseline, same class as knn_bruteforce/ann_recall_audit
    "matryoshka_recall_audit",
    # 1-row |bigram types| scalar broadcast into the KN probability
    # table — same scalar shape as unigram_surprise
    "kneser_ney_bigram",
    # |days| x |days| inequality self-join AFTER the corpus collapses
    # to daily rows (ewma class) + a 1-row day-count scalar broadcast
    "theil_sen_daily_revenue",
    # 1-row order-count scalar broadcast feeding the lift ratio —
    # same scalar shape as Q22
    "basket_part_pairs",
    # broadcast 16-query rows x corpus — the deliberate labeled exact
    # baseline, same class as matryoshka_recall_audit
    "jl_projection_audit",
    # 1-row (n1, n2) totals broadcast into the ECDF difference —
    # same scalar shape as value_drift_psi
    "ks_purchase_vs_click",
    # identical 1-row totals broadcast into the ECDF gap terms — the
    # ks_purchase_vs_click shape (W1 = integral, KS = sup)
    "wasserstein_purchase_vs_click",
    # 1-row digit-total scalar broadcast into the 9-row literal grid
    "benford_price_digits",
    # 1-row (n_days, total_cents) scalar broadcast into the |days|
    # prefix table — the Q22 scalar shape
    "cusum_changepoint_daily",
    # |days| x |days| sign grid AFTER the corpus collapses to daily
    # rows (theil_sen class) + two 1-row scalar broadcasts (tie term,
    # day count)
    "mann_kendall_trend",
    # docs x |sources| grid with a tiny broadcast source table
    # (lang_source_chisq class) + 1-row vocab/doc-count scalar
    # broadcasts into the model tables
    "nbayes_source_confusion",
    # four 1-row x 1-row (affected, total) scalar combines — the Q22
    # scalar-broadcast shape, one per audited table
    "cascade_delete_audit",
    # 1-row doc-count scalar broadcast into the TF-IDF weight table —
    # identical shape to tfidf_doc_terms
    "tfidf_cosine_topk",
    # two 1-row scalar broadcasts (min-day centering + the fitted
    # (a, b) coefficient row) — the ols_daily_trend / Q22 shape
    "durbin_watson_daily",
    # 1-row min-day scalar broadcast centering x before the normal
    # equations — the Q22 scalar shape
    "ols_daily_trend",
    # 1-row global-fallback (sum, n) scalar broadcast beside the
    # |segments|-row encoder table — the Q22 scalar shape
    "target_encode_loo",
    # five 1-row scalar broadcasts (total trade + per-half-round max
    # normalizers) into the <=N-row score relations — the Q22 scalar
    # shape, the nation_trade_pagerank class
    "nation_trade_hits",
    # 1-row corpus-count scalar broadcast + a range join into the
    # bounded DISTINCT-value cumulative table (value-domain sized,
    # broadcast) — the ewma/lang_source_chisq bounded-grid class
    "quantile_normalize_tokens",
    # 1-row query-vector broadcast into the relevance scan (cut to the
    # 30-row pool by TakeOrdered) + the pool's own <=30x30 sim grid —
    # hybrid_search_rrf / bounded-grid classes
    "mmr_diversified_topk",
    # k-row centroid-LITERAL grid broadcast against the corpus (the
    # knn_ivf assignment shape made explicit as a bounded explode)
    "silhouette_by_cluster",
    # embeds knn_bruteforce (the deliberate exact baseline) as its
    # ranker — same exemption as retrieval_mrr_eval
    "retrieval_ndcg_eval",
    # 1-row (total-pos, total-neg) scalar broadcast into the
    # |segments|-row WOE grid — the Q22 scalar shape
    "woe_iv_segments",
    # three chained 1-row scalar broadcasts (train min-day, fitted
    # params, q-hat) into day-bounded relations — the Q22 scalar
    # shape; windows land on the |days| calibration fold only
    "conformal_interval_daily",
    # 1-row total-tokens scalar broadcast into the surviving
    # collocation rows — identical shape to ngram_pmi
    "skipgram_pmi",
    # 1-row base-chain conversion probability broadcast into the
    # 4-row removal table — the Q22 scalar shape
    "markov_removal_attribution",
    # |event types|^2 inequality grid over the 5-row per-type sketch
    # summary — bounded category-domain grid, lang_source_chisq class
    "kmv_audience_overlap",
    # chain of 1-row scalar broadcasts (vector count, scatter max,
    # per-round renormalizers, Rayleigh terms) into the <= d^2-row
    # matrix/vector relations — the nation_trade_pagerank class
    "pca_top_component",
    # 1-row token-total scalar broadcast into the bounded
    # count-of-counts table — the unigram_surprise scalar shape
    "good_turing_unigrams",
    # <=13-row bin relation: inequality triangle joins (j<=k, j<=i<=k)
    # over the bounded bin table — the ewma/lang_source_chisq
    # bounded-grid class (the corpus itself is touched once)
    "isotonic_calibration",
    # two 1-row scalar broadcasts (at-risk population mean split +
    # group sizes) into day-bounded relations — the Q22 scalar shape
    "logrank_test_conversion",
    # 1-row fit-summary scalar broadcast beside the TOPN factor rows
    # — the Q22 scalar shape
    "als_factorization",
    # 1-row CUSUM-split scalar broadcast into the |days| prefix
    # relation (both levels) — the cusum_changepoint_daily shape
    "binseg_changepoints",
    # 15 chained 1-row decode-state scalar joins against the bounded
    # bigram relation — the nation_trade_pagerank scalar-round class
    "lm_greedy_generation",
    # 1-row chosen-width scalar broadcast beside the 8-row ladder
    "k_anon_generalization",
    # 1-row basket-count scalar broadcast feeding lift3 — the
    # basket_part_pairs scalar shape
    "apriori_triples",
    # 1-row (n_docs) scalar broadcast into the doc-rank checkpoint map
    "vocab_growth_curve",
    # 1-row (min-day, n, total) scalar broadcast centering the feature
    # relation — the ols_daily_trend shape
    "huber_regression_daily",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )

    from p6__mapreduce_spark.functions import pin
    from p6__mapreduce_spark.queries import QUERIES
    from p6__mapreduce_spark.session import get_session

    # plan only: skip the pin materialization jobs; persist registers
    # the cache at call time, so the captured plans are the same
    pin.PLAN_ONLY = True
    spark = get_session("plan-audit")
    rows = []
    violations = []
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, sf_dir)
            plan = physical_plan(df)
        except Exception as exc:  # noqa: BLE001 — record, keep auditing
            rows.append((name, "ERR", "", "", "", "", str(exc).splitlines()[0][:60]))
            violations.append(f"{name}: plan build failed")
            continue
        exchanges = plan.count("Exchange")
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        cartesian = plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin")
        python = plan.count("EvalPython")
        codegen = "y" if "*(" in plan else "-"
        note = ""
        if cartesian and name in CARTESIAN_EXEMPT:
            note = "nested-loop by design (exact baseline / 1-row scalar)"
        elif cartesian:
            note = "CARTESIAN"
            violations.append(f"{name}: cartesian/nested-loop join in plan")
        if python and name not in PYTHON_EXEMPT:
            note = (note + " " if note else "") + "PYTHON"
            violations.append(f"{name}: Python eval in plan")
        rows.append((name, exchanges, bhj, smj, cartesian, python, codegen, note))
        spark.catalog.clearCache()

    lines = [
        "# PLANS — physical-plan scorecard (generated by tools/plan_audit.py)",
        "",
        f"Built against `{sf_dir}` (plan only, nothing executed; AQE initial",
        "plans, so runtime re-planning can only improve on these). Broadcast",
        "vs sort-merge decisions are size-dependent — at 100 TB, AQE makes the",
        "same call from real statistics.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | cartesian | python evals | codegen | note |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    lines.append("")
    if violations:
        lines.append("## VIOLATIONS")
        lines += [f"- {v}" for v in violations]
    else:
        lines.append(
            "No unintended cartesian products (the exact brute-force "
            "baselines and Q22's 1-row scalar broadcast are the documented "
            "exceptions); no Python outside the facade/multimodal exemptions "
            "(their custom-code path is the feature)."
        )
    lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}: {len(rows)} queries, {len(violations)} violations")
    if violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
