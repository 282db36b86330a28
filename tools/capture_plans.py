#!/usr/bin/env python3
"""Dump ``explain("formatted")`` for named queries to
plans/<query>_<suffix>.txt.

Plan claims (Exchange counts, join strategies, PushedFilters) in the
OPTIMIZATION docs are checked by capturing the plan on demand: run the
tool with suffix ``before`` in a checkout of the commit before a change
and ``after`` in the commit after it. The dumps are not committed.
This tool builds each named query's DataFrame (training queries run
their bounded driver-side collect loops as part of DataFrame
construction — that is their documented shape) and writes the
formatted physical plan. Pins are not materialized
(``functions/pin.py::PLAN_ONLY``); the plan is the same either way.

Usage: python tools/capture_plans.py <suffix> [sf_dir] <query ...>
       e.g. python tools/capture_plans.py before /root/testdata/sf0.1 knn_ivfpq
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p6__mapreduce_spark.plans import formatted_plan


def main() -> None:
    suffix = sys.argv[1]
    args = sys.argv[2:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args

    from p6__mapreduce_spark.functions import pin
    from p6__mapreduce_spark.queries import QUERIES
    from p6__mapreduce_spark.session import get_session

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
    os.makedirs(out_dir, exist_ok=True)
    pin.PLAN_ONLY = True
    spark = get_session("capture_plans")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
