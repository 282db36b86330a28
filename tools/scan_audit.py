#!/usr/bin/env python3
"""Count parquet scans per source table in every registered query's
physical plan and flag queries that scan one table more than once.

Round-10 optimization sweep tool (guide §1.2 / §2.4): the recurring
defect class this round is a corpus-sized pipeline consumed by several
branches where per-branch column pruning makes the subtrees unequal,
so ReusedExchange never fires and the corpus pass silently re-runs per
consumer (dsir_weights ran its tokenize+explode 3x, nbayes 4x). A
query whose plan scans `documents` or `lineitem` N times pays N corpus
passes at 100 TB unless the re-scan is the algorithm (self-joins,
two-phase rank). This tool builds each query's DataFrame, extracts the
formatted physical plan, counts `Scan parquet` / `Scan ExistingRDD`
occurrences per relation, and prints every query whose per-table scan
count exceeds 1 so each hit can be adjudicated (legitimate self-join
vs missing pin).

Usage: python tools/scan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> None:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", args

    from p6__mapreduce_spark.functions import pin
    from p6__mapreduce_spark.plans import formatted_plan
    from p6__mapreduce_spark.queries import QUERIES
    from p6__mapreduce_spark.session import get_session

    # plan-only: skip corpus-pin materialization jobs at construction
    # (r10 ADVICE #2). persist registers the cache at call time, so the
    # captured plans — and these counts — are unchanged; note that a
    # pinned relation's single materialization pass appears in the
    # plan as the cached subtree's scan (+1 per table vs the r10
    # localCheckpoint shape, which hid that pass at construction time).
    pin.PLAN_ONLY = True
    spark = get_session("scan_audit")
    todo = names or sorted(QUERIES)
    for name in todo:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001 — report and continue the sweep
            print(f"{name}: ERROR {exc!r}"[:200])
            continue
        # Each `Scan parquet` node's detail block carries a
        # `Location: InMemoryFileIndex [...<table>.parquet]` line —
        # count those (one per scan node, unlike the tree header).
        counts: dict[str, int] = {}
        for m in re.finditer(r"InMemoryFileIndex \[[^\]]*?/(\w+)\.parquet", plan):
            t = m.group(1)
            counts[t] = counts.get(t, 0) + 1
        rdd_scans = len(re.findall(r"Scan ExistingRDD", plan))
        multi = {t: c for t, c in counts.items() if c > 1}
        if multi or rdd_scans > 6:
            print(
                f"{name}: multi-scan {multi or '-'} rdd_scans={rdd_scans} "
                f"(all: {counts})"
            )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
