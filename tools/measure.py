#!/usr/bin/env python3
"""Time registered queries by one rule: the full result, cache cleared.

:func:`timed` builds a query, writes its full result to Spark's
``noop`` sink and then calls ``spark.catalog.clearCache()``, so the
query's pins do not outlive it (``functions/pin.py``). ``count()`` is
not a substitute: Catalyst prunes whatever ``count()`` does not need,
and on 85 of the 275 registered plans that drops exchanges, joins,
windows or whole scans. ``perfbench/run.py`` times by the same rule,
and ``tools/ab_pins.py`` times its arms through :func:`timed`.

Three modes; each prints one JSON line per query:

- ``steady SF QUERY...``: one fresh session and one warm-up job, then
  ``RUNS`` timed runs per query. The first run is the cold time and the
  median of the others is the steady time.
- ``dirs SF_A SF_B QUERY...``: the same queries over two data dirs in
  one session, ``RUNS`` times each, with the order alternating per rep.
  Reports per-dir medians and the B/A ratio. A ``tools/skew_gen.py``
  twin measures hot-key skew; a ``tools/scale_gen.py`` copy measures
  scale-up.
- ``cores SF N1 N2 QUERY...``: ``steady`` in a fresh child process per
  core count (``SPARK_GRAFT_CPUS``), each with 1 MB scan splits so a
  scan of ``tools/scale_gen.py`` data can spread over the cores.
  Reports the steady times and their N1/N2 ratio: near N2/N1 means
  the query scales; near 1 means a serial stage bounds it.

Usage: python tools/measure.py steady /path/to/sf0.1 word_freq tpch_q1_pricing
"""

from __future__ import annotations

import json
import multiprocessing
import os
import statistics
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 5
# Spark's default split is 128 MB; scale_gen files are a few MB each, so
# at that size every scan is one task and core-count scaling reads ~1.
SCALING_SPLIT = {"spark.sql.files.maxPartitionBytes": str(1 << 20)}


def timed(spark, query: Callable, sf_dir: str) -> float:
    """Seconds to build ``query(spark, sf_dir)`` and write its full
    result to the ``noop`` sink. Clears the session cache afterwards."""
    t0 = time.perf_counter()
    try:
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        spark.catalog.clearCache()


def alternate(run_a: Callable[[], float], run_b: Callable[[], float], reps: int) -> dict:
    """Time two arms ``reps`` times each, A first on even reps and B
    first on odd ones, so drift of the host hits both arms alike."""
    a: list[float] = []
    b: list[float] = []
    for rep in range(reps):
        arms = [(run_a, a), (run_b, b)]
        for run, out in arms if rep % 2 == 0 else arms[::-1]:
            out.append(run())
    a_med, b_med = statistics.median(a), statistics.median(b)
    return {"a_med": a_med, "b_med": b_med, "ratio": round(b_med / max(a_med, 1e-9), 3), "a": a, "b": b}


def session(conf: dict[str, str] | None = None):
    """The engine session with ``conf`` applied, warmed by one job that
    is none of the timed plans."""
    from p6__mapreduce_spark.session import get_session

    spark = get_session("measure")
    for key, value in (conf or {}).items():
        spark.conf.set(key, value)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def steady(sf_dir: str, names: list[str], conf: dict[str, str] | None = None) -> list[dict]:
    from p6__mapreduce_spark.queries import QUERIES

    spark = session(conf)
    out = []
    for name in names:
        runs = [timed(spark, QUERIES[name], sf_dir) for _ in range(RUNS)]
        out.append(
            {
                "query": name,
                "sf_dir": sf_dir,
                "cpus": spark.sparkContext.defaultParallelism,
                "cold": runs[0],
                "steady": statistics.median(runs[1:]),
                "runs": runs,
            }
        )
    return out


def dirs(sf_a: str, sf_b: str, names: list[str]) -> list[dict]:
    from p6__mapreduce_spark.queries import QUERIES

    spark = session()
    return [
        {
            "query": name,
            "dir_a": sf_a,
            "dir_b": sf_b,
            **alternate(
                lambda: timed(spark, QUERIES[name], sf_a),
                lambda: timed(spark, QUERIES[name], sf_b),
                RUNS,
            ),
        }
        for name in names
    ]


def cores(sf_dir: str, counts: list[int], names: list[str]) -> list[dict]:
    # spawn, not fork: each child must start its own JVM
    ctx = multiprocessing.get_context("spawn")
    by_count = []
    for n in counts:
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        with ctx.Pool(1) as pool:
            by_count.append(pool.apply(steady, (sf_dir, names, SCALING_SPLIT)))
    out = []
    for i, name in enumerate(names):
        recs = [records[i] for records in by_count]
        out.append(
            {
                "query": name,
                "sf_dir": sf_dir,
                "cpus": counts,
                "steady": [r["steady"] for r in recs],
                "runs": [r["runs"] for r in recs],
                "ratio": round(recs[0]["steady"] / max(recs[-1]["steady"], 1e-9), 3),
            }
        )
    return out


def main(argv: list[str]) -> None:
    mode, args = argv[0], argv[1:]
    if mode == "steady":
        records = steady(args[0], args[1:])
    elif mode == "dirs":
        records = dirs(args[0], args[1], args[2:])
    elif mode == "cores":
        records = cores(args[0], [int(args[1]), int(args[2])], args[3:])
    else:
        sys.exit(f"unknown mode {mode!r}: steady, dirs or cores")
    for record in records:
        print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
