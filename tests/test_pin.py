"""One way to share a relation (``functions/pin.py::pin``) and
``localCheckpoint`` only at allowlisted lineage cuts."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "p6__mapreduce_spark")

# (module, function) pairs allowed to cut lineage with localCheckpoint;
# each call carries a one-line reason
CUTS = {
    # the cut freezes spark_partition_id() between two jobs
    ("functions.ranks", "two_phase_rank"),
    ("operators.pipeline", "stable_dense_ids"),
    # loop-carried or per-round state of a driver loop
    ("operators.logreg", "logreg_quality_irls"),
    ("operators.robust", "huber_regression_daily"),
    ("dedup.components", "connected_components"),
    ("similarity.als", "_half_step_spark"),
    ("similarity.als", "als_factorization"),
    ("similarity.kmeans", "kmeans_lloyd"),
    ("similarity.pq", "pq_codes"),
    ("similarity.pq", "knn_pq"),
    ("similarity.ivfpq", "knn_ivfpq"),
    ("similarity.selection", "mmr_diversified_topk"),
    ("similarity.selection", "kcenter_coreset"),
    # every in-plan round re-reads the edges (kcore: pin measured 6.7 ->
    # 17.9 s at sf0.1)
    ("dedup.kcore", "kcore"),
    ("dedup.communities", "label_propagation"),
    # every wedge branch re-reads the edges (triangles: pin measured
    # 5.3 -> 19.4 s at sf0.1)
    ("dedup.triangles", "triangle_stats"),
    # shared relations where pin lost >= 4 of 5 interleaved reps to the
    # cut by more than the cut's IQR (tools/ab_pins.py at sf0.1); the
    # numbers are at each call
    ("queries", "q_benford_price_digits"),
    ("queries", "q_conformal_interval_daily"),
    ("queries", "q_event_transition_matrix"),
    ("queries", "q_ewma_daily_revenue"),
    ("queries", "q_lang_source_chisq"),
    ("queries", "q_markov_entropy_rate"),
    ("queries", "q_markov_next_accuracy"),
    ("queries", "q_value_drift_psi"),
    ("queries", "q_xcorr_count_value_daily"),
    ("operators.basket", "apriori_triples"),
    ("operators.causal", "isotonic_calibration"),
    ("operators.causal", "logrank_test_conversion"),
    ("operators.evaluate", "wasserstein1"),
    ("operators.features", "ngram_pmi"),
    ("operators.kmv", "kmv_audience_overlap"),
    ("operators.lm", "lm_greedy_generation"),
    ("operators.pii", "k_anon_generalization"),
    ("operators.ranking", "bigram_lm"),
    ("operators.robust", "binseg_changepoints_daily"),
    ("operators.textrank", "textrank_keywords"),
    ("operators.timeseries", "ols_daily_trend"),
    ("similarity.jl", "jl_projection_audit"),
    ("similarity.pca", "pca_top_component"),
    # pin's kept lineage, re-planned downstream, ran tools/run_pipeline.py
    # out of memory; the cut keeps that composed plan small
    ("operators.ranking", "unigram_surprise"),
}


def _modules():
    for dirpath, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, PKG)[: -len(".py")]
                yield rel.replace(os.sep, "."), path


def _method_calls(tree: ast.AST, names: set[str]):
    """(enclosing function name, method name, line) per call."""

    def visit(node, fn):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(ch, ch.name)
                continue
            if (
                isinstance(ch, ast.Call)
                and isinstance(ch.func, ast.Attribute)
                and ch.func.attr in names
            ):
                yield fn, ch.func.attr, ch.lineno
            yield from visit(ch, fn)

    yield from visit(tree, "<module>")


def test_only_pin_caches_or_persists():
    found = []
    for mod, path in _modules():
        if mod == "functions.pin":
            continue
        tree = ast.parse(open(path).read())
        found += [(mod, fn, line) for fn, _, line in _method_calls(tree, {"cache", "persist"})]
    assert found == [], found


def test_local_checkpoint_only_at_allowlisted_cuts():
    found = set()
    stray = []
    for mod, path in _modules():
        tree = ast.parse(open(path).read())
        for fn, _, line in _method_calls(tree, {"localCheckpoint"}):
            found.add((mod, fn))
            if (mod, fn) not in CUTS:
                stray.append((mod, fn, line))
    assert stray == [], stray
    # every allowlisted cut still exists (a stale entry would hide a
    # future stray call under its name)
    assert found == CUTS, CUTS - found


def test_swapped_impl_reaches_modules_that_imported_pin(spark, monkeypatch):
    from p6__mapreduce_spark import queries
    from p6__mapreduce_spark.functions import pin

    calls = []

    def spy(df):
        calls.append(df)
        return df

    monkeypatch.setattr(pin, "_impl", spy)
    df = spark.range(3)
    # queries.py binds pin by name at import; the swap must still reach
    # it (an A/B arm that rebinds pin.pin would not)
    assert queries.pin(df) is df
    assert calls == [df]
