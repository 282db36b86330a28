#!/usr/bin/env python3
"""Interleaved A/B of the shared-relation pin shape.

Arm A = every ``pin`` call site run as an eager localCheckpoint (the
r10 sweep's tool, and the parent shape of each site moved from
localCheckpoint to ``pin``); arm B = the shipped shape (``pin`` =
persist(MEMORY_AND_DISK) + eager count). Both arms run in ONE session,
alternated rep by rep, so box drift hits them equally (the r10
measurement discipline — absolute re-runs on this sandbox swing 2-4x
within minutes). Before timing, each query's two arms are materialized
once and their sorted rows compared, so the A/B doubles as an
equivalence check.

Usage: python tools/ab_pins.py [sf_dir] [reps] query [query ...]
Prints one JSON line per query: {"query": ..., "a_med": ..., "b_med":
..., "a": [...], "b": [...], "rows_equal": true}.

AB_ARM_A=none switches arm A from the retired localCheckpoint shape
to the fully UNPINNED shape (pin = identity): the r9-and-
earlier plan where every consumer re-executes the corpus subtree.
That is the arm the r10 verdict asked to measure at a scale where
corpus passes dominate (item 2: sf1 A/B of the most-pinned queries).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 5
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if args and args[0].isdigit():
        reps, args = int(args[0]), args[1:]
    names = args

    from p6__mapreduce_spark import queries
    from p6__mapreduce_spark.functions import pin
    from p6__mapreduce_spark.session import get_session

    spark = get_session("ab_pins")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    # swap the dispatch target, not pin.pin: call sites bind pin by
    # name at import and would never see a rebinding
    shipped_pin = pin._impl

    if os.environ.get("AB_ARM_A") == "none":

        def retired_pin(df):  # the unpinned (pre-r10) shape
            return df

    else:

        def retired_pin(df):  # the r10 shape
            return df.localCheckpoint(eager=True)

    def run(name: str, arm_pin, timed: bool) -> tuple[float, list | None]:
        pin._impl = arm_pin
        try:
            t0 = time.time()
            df = queries.QUERIES[name](spark, sf_dir)
            rows = None
            if timed:
                df.count()
            else:
                rows = sorted(map(tuple, df.collect()))
            dt = time.time() - t0
        finally:
            pin._impl = shipped_pin
            spark.catalog.clearCache()
            # a memo hit would skip the arm's pins in the memo build
            queries._MEMO.clear()
        return dt, rows

    for name in names:
        _, ra = run(name, retired_pin, timed=False)
        _, rb = run(name, shipped_pin, timed=False)
        equal = ra == rb
        a_times: list[float] = []
        b_times: list[float] = []
        for _ in range(reps):
            a_times.append(round(run(name, retired_pin, timed=True)[0], 3))
            b_times.append(round(run(name, shipped_pin, timed=True)[0], 3))
        print(
            json.dumps(
                {
                    "query": name,
                    "a_med": statistics.median(a_times),
                    "b_med": statistics.median(b_times),
                    "a": a_times,
                    "b": b_times,
                    "rows_equal": equal,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
