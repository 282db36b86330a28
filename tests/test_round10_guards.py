"""Round-10 guard pin: two_phase_rank adversarial orderings (r9
verdict #7). The distributed rank must equal the single-window model
on pre-sorted, reverse-sorted, and single-hot-partition inputs — the
layouts a range-partitioned rank could plausibly get wrong (degenerate
sampled boundaries, all rows in one range).
"""

from __future__ import annotations


def _rank_model(rows: list[tuple]) -> dict:
    """Single-process model: rank by (v, k) — the window semantics."""
    return {k: i + 1 for i, (v, k) in enumerate(sorted(rows))}


def test_two_phase_rank_adversarial_orderings(spark):
    """Pre-sorted, reverse-sorted, and single-hot-partition layouts all
    reproduce the window model exactly (r9 verdict #7: the
    vocab_growth_curve rewrite made two_phase_rank the registry's
    distributed-ranking template — pin it under the orderings where
    sampled range boundaries are degenerate)."""
    from p6__mapreduce_spark.functions.ranks import two_phase_rank

    rows = [(i * 7 % 101, f"k{i:03d}") for i in range(200)]
    want = _rank_model(rows)

    layouts = {
        "pre_sorted": sorted(rows),
        "reverse_sorted": sorted(rows, reverse=True),
    }
    for name, data in layouts.items():
        df = spark.createDataFrame(data, "v long, k string").repartition(8)
        got = {
            r.k: r.rk
            for r in two_phase_rank(
                df, ["v", "k"], rank_col="rk", check_unique=True
            ).collect()
        }
        assert got == want, name

    # single hot partition: every row lands in ONE input partition
    # (repartition on a constant), so the sampler sees one partition
    # and the boundary list may be empty/degenerate
    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame(rows, "v long, k string")
        .withColumn("c", F.lit(1))
        .repartition(8, "c")
        .drop("c")
    )
    got = {
        r.k: r.rk
        for r in two_phase_rank(df, ["v", "k"], rank_col="rk", check_unique=True).collect()
    }
    assert got == want

    # grouped variant under the hot layout: per-group ranks also match
    grows = [(i % 3, i * 13 % 97, f"k{i:03d}") for i in range(150)]
    gmodel: dict = {}
    for g in (0, 1, 2):
        sub = sorted((v, k) for gg, v, k in grows if gg == g)
        gmodel.update({k: i + 1 for i, (v, k) in enumerate(sub)})
    gdf = (
        spark.createDataFrame(grows, "g long, v long, k string")
        .withColumn("c", F.lit(1))
        .repartition(8, "c")
        .drop("c")
    )
    got_g = {
        r.k: r.rk
        for r in two_phase_rank(
            gdf, ["v", "k"], group_cols=["g"], rank_col="rk", check_unique=True
        ).collect()
    }
    assert got_g == gmodel
