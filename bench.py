#!/usr/bin/env python3
"""Benchmark harness: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ...}

Every query is timed by ``tools/measure.py::timed``: its full result
goes to the ``noop`` sink, then the session cache is cleared.
``count()`` is not a substitute, because Catalyst prunes whatever
``count()`` does not need. One session, warmed by one job, runs each
query once. A failing query records an ``errors`` entry instead of
aborting the run. A hanging one is stopped by the watchdog, SIGALRM
after ``WATCHDOG_S`` and then ``cancelAllJobs``; what began as the
protocol runner watchdog now guards every query.

Scope: the whole registry, in registry order. The streaming protocol
runners are reported apart, under "protocol_runners" and
"protocol_total", and kept out of the headline total: they stage
their own file-source streams through the state store across forced
micro-batches, and their times swing 15-70 s on identical plans
(BENCH_NOTES_r7.md). ``EXCLUDED`` holds the only untimed queries:
embedding_neardup_exact is an opt-in O(n^2) baseline (the timed scale
path is embedding_neardup's LSH bucketing), and on this synthetic
shared-vocabulary corpus ~10% of all doc pairs lie within hamming 3,
so dedup_simhash_pairs / dedup_simhash64_pairs measure output
cardinality, a data property, not the banded plan.

stdout carries a bounded summary (``_summary_line``). The complete
payload is written to BENCH_LOCAL.json, and the copy of that file
found before it is overwritten is the baseline: the line then carries
"prev_total", "delta_total", the calibration ratios and a
"regressions" map (queries >=30% and >=0.3s slower than the
baseline). Each flagged query is timed once more, warm, and given a
verdict (``_recheck``).
"""

from __future__ import annotations

import json
import os
import re
import signal
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import measure  # noqa: E402

from p6__mapreduce_spark.queries import QUERIES  # noqa: E402

PROTOCOL_RUNNERS = [
    "events_window_streaming",
    "events_dedup_streaming",
    "clicks_to_purchases_streaming",
    "clicks_left_outer_streaming",
    "stateful_running_totals",
    "append_finalized_windows_streaming",
    "session_windows_streaming",
    "clicks_full_outer_streaming",
    "foreachbatch_idempotent_upsert",
]
EXCLUDED = ("embedding_neardup_exact", "dedup_simhash_pairs", "dedup_simhash64_pairs")
HEADLINE = [q for q in QUERIES if q not in PROTOCOL_RUNNERS and q not in EXCLUDED]

WATCHDOG_S = 900
LOCAL_ARTIFACT = "BENCH_LOCAL.json"


def _calibrate(spark) -> dict[str, float]:
    """Fixed machine-speed probes, recorded with every run so
    round-over-round deltas can be attributed: the round-5 root-cause
    session proved the same UNCHANGED code tree (r4 tip, identical
    seed-42 data) ran ~2x slower on the round-5 container than the
    numbers round 4 recorded (dedup_exact 0.30->0.68s, doc_fingerprints
    0.20->0.56s, pii_redact 0.29->0.76s) — container drift that a
    per-query comparison alone cannot distinguish from a plan
    regression. Two probes, both data-independent and deterministic:
    a single-thread Python sha256 loop (raw core speed), a fixed
    32-partition JVM hash-aggregation job (the Spark execution stack),
    and — added r6 after a round where the first two probes ran FASTER
    while the per-query median drifted +35% — a fixed shuffle+sort
    window job (exchange write/read + sort + window exec, the
    machinery most headline queries actually spend their time in;
    drift can live in the shuffle/disk path while pure-CPU probes
    stand still).
    """
    import hashlib

    t0 = time.time()
    h = hashlib.sha256()
    for _ in range(200_000):
        h.update(b"calibration-block-of-64-bytes___________________________________")
    py_s = time.time() - t0
    t0 = time.time()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "count(distinct id % 65536) AS c"
    ).collect()
    jvm_s = time.time() - t0
    t0 = time.time()
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    (
        spark.range(0, 2_000_000, 1, 32)
        .withColumn("k", _F.pmod(_F.col("id") * 2654435761, _F.lit(1024)))
        .withColumn(
            "rn", _F.row_number().over(_W.partitionBy("k").orderBy(_F.desc("id")))
        )
        .filter(_F.col("rn") <= 3)
        .count()
    )
    shuf_s = time.time() - t0
    return {
        "py_sha256_s": round(py_s, 4),
        "jvm_hashagg_s": round(jvm_s, 3),
        "jvm_shuffle_window_s": round(shuf_s, 3),
    }


def _alarm(signum, frame):  # noqa: ARG001
    raise TimeoutError(f"watchdog ({WATCHDOG_S}s)")


def _time(spark, name: str, sf_dir: str, errors: dict[str, str]) -> float | None:
    """``measure.timed`` for one registered query under the watchdog.
    A failure or timeout returns None, records ``errors[name]`` and
    cancels the query's jobs, so one query cannot lose the run."""
    old_handler = signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(WATCHDOG_S)
    try:
        return measure.timed(spark, QUERIES[name], sf_dir)
    except Exception as exc:  # noqa: BLE001 — the artifact must land
        # repr() of a PySpark-captured JVM error carries no message
        errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        spark.sparkContext.cancelAllJobs()
        return None
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old_handler)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = measure.session()
    calibration = _calibrate(spark)
    errors: dict[str, str] = {}
    times = {name: _time(spark, name, sf_dir, errors) for name in HEADLINE + PROTOCOL_RUNNERS}
    timings = {n: times[n] for n in HEADLINE if times[n] is not None}
    protocol = {n: times[n] for n in PROTOCOL_RUNNERS}

    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "protocol_runners": protocol,
        "protocol_total": round(sum(v for v in protocol.values() if v), 3),
        "calibration": calibration,
        "sf": sf,
    }
    _compare(ROOT, out)
    _recheck(spark, sf_dir, out, errors)
    if errors:
        out["errors"] = errors
    artifact: str | None = os.path.join(ROOT, LOCAL_ARTIFACT)
    try:
        with open(artifact, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except OSError:
        artifact = None  # the summary line still lands
    print(json.dumps(_summary_line(out, artifact)))


def _compare(root: str, out: dict) -> None:
    """Compare ``out`` with the baseline, ``root``'s BENCH_LOCAL.json as
    the previous run left it; without one, ``out`` is left as it is.
    Adds "prev_total", "delta_total", the environment-drift factors of
    the calibration probes against the baseline's (>1 means this
    container is slower), and the "regressions" map."""
    try:
        with open(os.path.join(root, LOCAL_ARTIFACT)) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return
    prev_q = prev.get("queries", {})
    prev_cal = prev.get("calibration") or {}
    for ratio, probe in (("machine_ratio", "jvm_hashagg_s"), ("shuffle_ratio", "jvm_shuffle_window_s")):
        if isinstance(prev_cal.get(probe), (int, float)):
            out[ratio] = round(out["calibration"][probe] / prev_cal[probe], 3)
    out["prev_total"] = prev.get("value")
    if isinstance(out["prev_total"], (int, float)):
        out["delta_total"] = round(out["value"] - out["prev_total"], 3)
    out["regressions"] = {
        n: {"prev": prev_q[n], "now": t}
        for n, t in out["queries"].items()
        if n in prev_q and t >= prev_q[n] * 1.3 and t - prev_q[n] >= 0.3
    }


def _recheck(spark, sf_dir: str, out: dict, errors: dict[str, str]) -> None:
    """Re-run each flagged query once and judge its steady-state time.

    The first execution of a query pays one-time whole-stage-codegen
    compilation (measured: 1-1.5s run-to-run variance on sub-2s
    queries — r3 flagged wordcount_lines 1.33->1.86s while its steady
    state is 0.4s with an unchanged, pinned plan), so recheck <= prev
    means first-run noise, not a plan regression.

    The drift factor is the WORST of the calibration probes, not just
    hashagg: r6's same-tree drift hit the shuffle path
    (jvm_shuffle_window_s 2.6 -> 3.1 while hashagg stayed flat), and
    nearly every registry query shuffles, so judging rechecks against
    hashagg alone mislabels pure shuffle-path box drift as
    "investigate"."""
    drift_ratio = max(out.get("machine_ratio", 1.0), out.get("shuffle_ratio", 1.0), 1.0)
    for n, entry in out.get("regressions", {}).items():
        entry["recheck_steady"] = _time(spark, n, sf_dir, errors)
        # r7 ADVICE: record BOTH probe ratios in every verdict entry, so
        # a reader can see whether the applied max(hash-agg, shuffle)
        # drift allowance was carried by the probe that actually
        # matches the query's bound (documented tradeoff: we don't tag
        # queries shuffle- vs cpu-bound, we expose the inputs instead)
        entry["machine_ratio"] = out.get("machine_ratio")
        entry["shuffle_ratio"] = out.get("shuffle_ratio")
        if entry["recheck_steady"] is None:
            entry["verdict"] = "investigate"  # the recheck failed; see errors
        elif entry["recheck_steady"] <= entry["prev"] * 1.15:
            entry["verdict"] = "first_run_noise"
        elif entry["recheck_steady"] <= entry["prev"] * drift_ratio * 1.15:
            # slower than the baseline, but by no more than the
            # calibration probes say THIS CONTAINER is slower —
            # environment drift, not a plan regression
            entry["verdict"] = "environment_drift"
        else:
            entry["verdict"] = "investigate"


def _summary_line(out: dict, artifact: str | None) -> dict:
    """The single driver-parseable stdout line (r7 verdict #2): every
    scalar signal, the regressions map, and only the 15 slowest
    per-query timings — bounded at ~1.5 KB so no stdout tail capture
    can truncate it mid-object. The full queries/protocol maps
    live in the local artifact named by "queries_full_in"."""
    keep = (
        "metric",
        "value",
        "unit",
        "sf",
        "calibration",
        "protocol_total",
        "prev_total",
        "delta_total",
        "machine_ratio",
        "shuffle_ratio",
        "errors",
    )
    summary = {k: out[k] for k in keep if k in out}
    # The regressions block must not unbound the line: a noisy session
    # can flag 30+ queries, and each full entry carries recheck + both
    # probe ratios (~180 bytes) — a real r9 run hit
    # 6.4 KB, past the 4 KB tail-capture bound. The summary carries a
    # COMPACT verdict per flagged query ({prev, now, verdict}, the 12
    # worst by absolute slowdown); every full entry stays in the local
    # artifact.
    if "regressions" in out:
        ranked = sorted(
            out["regressions"].items(),
            key=lambda kv: -(kv[1]["now"] - kv[1]["prev"]),
        )
        summary["regressions"] = {
            n: {"prev": e["prev"], "now": e["now"], "verdict": e.get("verdict")}
            for n, e in ranked[:12]
        }
        if len(ranked) > 12:
            summary["regressions_note"] = (
                f"12 worst of {len(ranked)} flags; full entries in queries_full_in"
            )
    timings = out.get("queries", {})
    summary["n_queries"] = len(timings)
    summary["queries"] = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    )
    summary["queries_note"] = "15 slowest of n_queries; full map in queries_full_in"
    if artifact is not None:
        summary["queries_full_in"] = os.path.basename(artifact)
    return summary


if __name__ == "__main__":
    main()
