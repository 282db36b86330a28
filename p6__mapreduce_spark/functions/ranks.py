"""Two-phase global / per-group ranking — the distributed replacement
for single-task ``Window.orderBy(...)`` ranks.

An unpartitioned ``row_number()``/``ntile()`` window (or one whose
partition key has a handful of values) funnels the whole input — or a
constant fraction of it — through ONE task: fine on 60 k rows, dead at
100 TB. The exact, scale-safe equivalent is the classic distributed
zipWithIndex (cf. ``operators/pipeline.py::stable_dense_ids``):

  1. range-repartition on ``(group_cols…, order_cols…)`` so partition
     p's rows all sort before partition p+1's (within each group),
  2. rank locally with ``row_number()`` over ``(pid, group)``,
  3. add the exclusive prefix-sum of the per-``(pid, group)`` counts —
     a table with ``num_partitions × |groups|`` rows, never corpus-
     sized — joined back as a broadcast.

Exactness requires ``order_cols`` to end in a tiebreak that makes the
sort key unique WITHIN each group (every caller here orders by a key
column last); equal full keys could otherwise straddle a range
boundary and the local ranks would double-count. A ``localCheckpoint``
pins the sampled range boundaries so the count pass and the rank pass
see the same partitioning.

``ntile_expr`` then derives any ntile bucket from (rank, group count)
with the exact SQL-standard sizing (first ``n mod t`` buckets get one
extra row), so quantile scoring needs no global-sort window at all.

Ascending order only — callers needing descending ranks negate the
column (all current call sites are ascending).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "_tpr_pid"
_CNT = "_tpr_cnt"
_OFF = "_tpr_off"


def two_phase_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    group_cols: Sequence[str] = (),
    rank_col: str = "_rank",
    group_count_col: str | None = None,
    num_partitions: int | None = None,
    check_unique: bool = False,
) -> DataFrame:
    """Append ``rank_col`` = exact 1-based ``row_number`` over
    ``order_cols`` within each ``group_cols`` group (global rank when
    ``group_cols`` is empty), computed without any single-task window.

    When ``group_count_col`` is given, also append the group's total
    row count (the ``n`` of an ntile computation) — it falls out of
    the same bounded counts table for free.

    CONTRACT: ``(group_cols…, order_cols…)`` must be unique per row —
    equal full keys could straddle a range boundary and the local
    ranks would silently double-count. Every call site ends
    ``order_cols`` with a key column. Pass ``check_unique=True`` (used
    by the equivalence tests; one extra aggregation job) to enforce
    the contract at runtime instead of trusting the caller.

    Fault-tolerance note (SCALE.md §two-phase-rank): ``localCheckpoint``
    pins the sampled range boundaries on EXECUTOR-LOCAL storage — fast,
    but not recomputable after executor loss. On a long-lived 100 TB
    cluster job, swap it for a reliable ``checkpoint()`` (HDFS-backed)
    or ``persist(DISK_ONLY_2)``; the plan is otherwise identical.
    """
    order_cols = list(order_cols)
    group_cols = list(group_cols)
    if check_unique:
        # ONE aggregation job scanning the input once (count_distinct
        # over a struct keeps DISTINCT-row-count null semantics: the
        # struct itself is never null, so null-containing keys still
        # count) — a nondeterministic or expensive upstream is not
        # evaluated twice.
        row = df.agg(
            F.count(F.lit(1)).alias("_t"),
            F.count_distinct(F.struct(*group_cols, *order_cols)).alias("_d"),
        ).first()
        total, distinct = row["_t"], row["_d"]
        if distinct != total:
            raise ValueError(
                "two_phase_rank: (group_cols, order_cols) is not a unique "
                f"key — {total} rows but only {distinct} distinct keys; "
                "append a tiebreak column (ranks would double-count)"
            )
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    keyed = (
        df.repartitionByRange(n, *group_cols, *order_cols)
        .sortWithinPartitions(*group_cols, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)  # cut: freezes _PID for both passes
    )
    counts = keyed.groupBy(_PID, *group_cols).agg(F.count(F.lit(1)).alias(_CNT))
    w_off = (
        Window.partitionBy(*group_cols).orderBy(_PID)
        if group_cols
        else Window.partitionBy().orderBy(_PID)
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _PID,
        *group_cols,
        F.coalesce(F.sum(_CNT).over(w_off), F.lit(0)).cast("long").alias(_OFF),
        *(
            [
                F.sum(_CNT)
                .over(
                    Window.partitionBy(*group_cols)
                    if group_cols
                    else Window.partitionBy()
                )
                .cast("long")
                .alias(group_count_col)
            ]
            if group_count_col
            else []
        ),
    )
    w_local = Window.partitionBy(_PID, *group_cols).orderBy(*order_cols)
    ranked = keyed.join(F.broadcast(offsets), on=[_PID, *group_cols]).withColumn(
        rank_col, (F.col(_OFF) + F.row_number().over(w_local)).cast("long")
    )
    return ranked.drop(_PID, _OFF)


def ntile_expr(rank: Column, n: Column, tiles: int) -> Column:
    """Exact ``ntile(tiles)`` from a 1-based total-order ``rank`` and
    the group size ``n`` — SQL-standard sizing: with q = n div tiles
    and r = n mod tiles, buckets 1..r hold q+1 rows, buckets r+1..tiles
    hold q rows. Matches Spark's and DuckDB's ``ntile`` bit-for-bit
    (both implement exactly this split). The divisions are exact:
    numerators are integers below 2^53 (doubles hold those exactly;
    group counts sit far below that bound even at 100 TB) and floor of
    an exact quotient is the integer quotient.
    """
    q = F.floor(n / F.lit(tiles)).cast("long")
    r = (n % F.lit(tiles)).cast("long")
    big = r * (q + 1)  # rows living in the (q+1)-sized buckets
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - big - 1) / q) + 1)
        .cast("int")
    )
