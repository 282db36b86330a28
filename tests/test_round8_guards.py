"""Round-8 guards: the upsert runner's bounded temp dirs, bench.py's
driver-parseable summary line and its baseline, and the winnow
prefix-hash rewrite's value identity against a direct Python model of
the ORIGINAL per-substring fold."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def test_upsert_runner_reuses_session_scoped_root(spark, tmp_path):
    """r7 ADVICE: repeated invocations must not accumulate a temp dir
    per call — one session root, previous target reclaimed on the
    next invocation (at most 2 numbered subdirs alive)."""
    from p6__mapreduce_spark.sources.readers import load_table
    from p6__mapreduce_spark.streaming import idempotent

    part = str(tmp_path / "ev.parquet")
    load_table(spark, "/root/testdata/sf0.001", "events").limit(200).coalesce(
        1
    ).write.mode("overwrite").parquet(part)
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    one = os.path.join(part, files[0])

    for _ in range(3):
        df = idempotent.run_foreachbatch_idempotent_upsert(spark, one)
        assert df.count() > 0
    root = idempotent._TGT_ROOT
    assert root is not None and os.path.isdir(root)
    subs = [d for d in os.listdir(root) if d.startswith("v")]
    assert len(subs) <= 2, subs


def test_bench_summary_line_is_bounded_and_complete():
    """r7 verdict #2: the stdout line must be a bounded summary —
    every scalar signal present, at most 15 per-query timings, small
    enough (<4 KB here vs ~20 KB for the full payload) that no tail
    capture truncates it mid-object."""
    from bench import _summary_line

    out = {
        "metric": "headline_queries_total_runtime",
        "value": 300.0,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i:03d}": float(i) for i in range(241)},
        "steady": {f"q{i:03d}": {"cold": 1.0, "steady": 0.5} for i in range(25)},
        "protocol_runners": {f"p{i}": 10.0 for i in range(7)},
        "protocol_total": 70.0,
        "calibration": {"py_sha256_s": 0.1, "jvm_hashagg_s": 1.0, "jvm_shuffle_window_s": 2.0},
        "prev_round": 7,
        "prev_source": "local",
        "prev_total": 310.0,
        "delta_total": -10.0,
        "machine_ratio": 1.01,
        "shuffle_ratio": 0.99,
        # a NOISY session: 40 flagged queries with full verdict entries
        # (recheck + both probe ratios + a long ledger reason) — the
        # r9 condition that pushed the uncompacted line to 6.4 KB
        "regressions": {
            f"q{i:03d}": {
                "prev": 1.0,
                "now": 1.0 + i,
                "recheck_steady": 1.1,
                "machine_ratio": 1.01,
                "shuffle_ratio": 0.99,
                "verdict": "expected" if i % 2 else "investigate",
                "expected_reason": "plan replacement (r9): " + "x" * 120,
            }
            for i in range(40)
        },
    }
    s = _summary_line(out, "/root/repo/BENCH_LOCAL_r8.json")
    line = json.dumps(s)
    assert len(line) < 4096, len(line)
    for key in ("metric", "value", "unit", "sf", "calibration", "protocol_total",
                "machine_ratio", "shuffle_ratio", "regressions", "n_queries",
                "queries", "queries_full_in"):
        assert key in s, key
    assert s["n_queries"] == 241
    # compact regression entries: 12 worst by absolute slowdown, each
    # {prev, now, verdict} only; the truncation is announced
    assert len(s["regressions"]) == 12
    assert "q039" in s["regressions"] and "q000" not in s["regressions"]
    assert set(s["regressions"]["q039"]) == {"prev", "now", "verdict"}
    assert "regressions_note" in s
    assert len(s["queries"]) == 15
    # the 15 kept are the slowest
    assert min(s["queries"].values()) >= 226.0
    # full per-query maps are NOT on the line
    assert "steady" not in s and "protocol_runners" not in s


def test_bench_baseline_is_the_previous_bench_local(tmp_path):
    """The baseline is BENCH_LOCAL.json as the previous run left it;
    per-round BENCH_r*/BENCH_LOCAL_r* files beside it are history and
    never read."""
    from bench import _compare

    cal = {"py_sha256_s": 0.1, "jvm_hashagg_s": 1.0, "jvm_shuffle_window_s": 2.0}

    def run():
        out = {"value": 12.0, "queries": {"a": 2.0, "b": 10.0}, "calibration": cal}
        _compare(str(tmp_path), out)
        return out

    assert "prev_total" not in run()

    old = {"value": 1.0, "queries": {"a": 0.1, "b": 0.1}, "calibration": cal}
    for name in ("BENCH_r11.json", "BENCH_LOCAL_r12.json"):
        (tmp_path / name).write_text(json.dumps(old))
    assert "prev_total" not in run()

    prev = {"value": 11.0, "queries": {"a": 1.0, "b": 10.0},
            "calibration": {**cal, "jvm_shuffle_window_s": 1.0}}
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(prev))
    out = run()
    assert out["prev_total"] == 11.0 and out["delta_total"] == 1.0
    assert out["machine_ratio"] == 1.0 and out["shuffle_ratio"] == 2.0
    assert out["regressions"] == {"a": {"prev": 1.0, "now": 2.0}}


def _py_poly(s: str, base=31, mod=2147483647) -> int:
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


def _py_winnow(text: str, k=16, window=8):
    text = text.strip()
    n = len(text) - k + 1
    if n < window:
        # positions 1..n, windows need `window` grams
        pass
    hashes = [_py_poly(text[i : i + k]) for i in range(max(n, 0))]
    fps = set()
    for i in range(0, n - window + 1):
        fps.add(min(hashes[i : i + window]))
    return fps


@pytest.mark.parametrize(
    "texts",
    [
        [
            "the quick brown fox jumps over the lazy dog again and again",
            "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",  # all-equal grams
            "short",  # < k chars -> no grams
            "exactly sixteen!",  # == k chars -> 1 gram, < window -> no fp
            "  leading and trailing whitespace is trimmed first   ",
            "Mixed CASE with 123 numbers & punctuation!!! ~ () [] {}",
        ]
    ],
)
def test_winnow_prefix_rewrite_matches_direct_fold_model(spark, texts):
    """The r8 prefix-hash rewrite must produce exactly the fingerprints
    of the original formulation (poly fold per substring, min per
    window of 8, distinct) — modeled directly in Python."""
    from p6__mapreduce_spark.operators.text_analysis import winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for i, t in enumerate(texts):
        want = _py_winnow(t)
        assert got.get(i, set()) == want, (i, t, got.get(i), want)


def test_winnow_non_power_of_two_k_and_window(spark):
    """The doubling fast path needs k a power of two and the RMQ
    overlap trick covers any window — exercise the general fallback
    (k=5) and a non-power window (w=6) against the Python model."""
    from p6__mapreduce_spark.operators.text_analysis import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "abcabcabcabcabcabc",
        "tiny",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=5, window=6).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    def model(text, k=5, window=6):
        text = text.strip()
        n = len(text) - k + 1
        hashes = [_py_poly(text[i : i + k]) for i in range(max(n, 0))]
        return {min(hashes[i : i + window]) for i in range(0, n - window + 1)}
    for i, t in enumerate(texts):
        assert got.get(i, set()) == model(t), (i, t)
