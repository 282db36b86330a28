"""The benchmark's named workloads and the seeded query order."""

from __future__ import annotations

import random

WORKLOADS: dict[str, list[str]] = {
    # The paper's wordcount and sort, natively and through the MR_Run
    # facade (Python workers), a single-pass join and one stateful
    # streaming runner (micro-batches, state-store commits): scan,
    # shuffle, Python-worker and streaming work with no pins and no
    # driver loops.
    "batch_sql": [
        "wordcount_lines",
        "distinct_sorted",
        "range_bucket_sort",
        "mr_facade_wordcount",
        "tpch_q3_shipping",
        "events_dedup_streaming",
    ],
    # Construction-heavy LLM-data curation: the LSH pair edges that
    # queries._memo pins, and iterative BPE rounds with per-round
    # localCheckpoint pins and driver collects.
    "llm_pipeline": [
        "dedup_minhash_lsh",
        "bpe_learn_merges",
    ],
}

# Roughly how long one warm pass takes on 4 cores. A run makes
# max(1, round(seconds / nominal)) timed passes, so every run of a
# workload does the same work and sees the same warm-up profile.
NOMINAL_PASS_S: dict[str, float] = {"batch_sql": 4.5, "llm_pipeline": 5.0}

# Pin/collect shape the traced run must observe, so that a probe that
# silently stops seeing calls fails the run instead of reporting zeros.
EXPECTED_SHAPE: dict[str, str] = {"batch_sql": "none", "llm_pipeline": "pins_and_collects"}


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's queries in a seed-determined order."""
    order = list(WORKLOADS[workload])
    random.Random(seed).shuffle(order)
    return order
