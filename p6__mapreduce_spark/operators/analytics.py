"""Analytic queries over the star schema — the engine's OLAP surface.

The reference had no joins/filters/windows (SURVEY.md §2.4); these
operators are the engine's demonstration that the full declarative
surface composes on Spark: multi-way joins with broadcast dimensions,
grouped aggregation with map-side combine, window top-k, JSON
extraction.

Money sums use exact integer cents (round(x*100) per row, then a
bigint sum): partial-aggregation order cannot perturb the result, so
Spark and the DuckDB oracle agree bit-for-bit. Quantity sums are
integral-valued doubles (exact in IEEE754 up to 2^53) — safe as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("long")


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: grouped pricing summary with map-side combine,
    oracle-exact money arithmetic (integer cents).

    Plan: parquet scan with the shipdate predicate PUSHED to the
    reader, partial HashAggregate, one exchange on the 2 group keys
    (tiny cardinality), final agg + sort.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(disc_price)).alias("sum_disc_cents"),
            F.sum(_cents(charge)).alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Multi-way star join: fact tables shuffle on join keys; nation and
    region are broadcast (Catalyst auto-broadcasts under the 10 MB
    threshold — asserted in tests/test_plans.py). Revenue in exact
    cents."""
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("r_name", "n_name")
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Window top-k: rank orders per customer by price desc (ties by
    orderkey asc — deterministic), keep the top k. One shuffle on
    o_custkey."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "o_custkey",
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("price_cents"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("o_custkey", "rk")
    )


def cube_counts(lineitem: DataFrame) -> DataFrame:
    """CUBE over (returnflag, linestatus): all grouping-set combinations
    in one pass (Spark expands the sets before the single exchange)."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


def status_pivot(orders: DataFrame) -> DataFrame:
    """Pivot order status into columns per priority (explicit value list
    so the plan is static — required for both Catalyst and at-scale
    schema stability)."""
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    # An empty (priority, status) cell pivots to NULL but COUNT semantics
    # (and the SQL FILTER-clause equivalent) call for 0.
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c) for c in ("O", "F", "P")],
    ).orderBy("o_orderpriority")


def asof_last_event(events: DataFrame, event_type: str = "signup") -> DataFrame:
    """As-of join (point-in-time lookup), self-form: for every event,
    the timestamp of the most recent <= event of ``event_type`` for the
    same user.

    Spark has no native as-of join; the scalable composition is a
    conditional running MAX over the event-time window — one shuffle on
    user_id, no range cross-join, state O(1) per row. The same pattern
    joins a fact stream to a slowly-changing dimension: union the two
    sources, window over the union, filter back to fact rows.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marker = F.when(F.col("event_type") == event_type, F.col("ts").cast("long"))
    return events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_sec"),
        F.max(marker).over(w).alias("last_marker_sec"),
    ).orderBy("event_id")


def approx_stats(lineitem: DataFrame) -> DataFrame:
    """Approximate aggregates: HLL distinct-count estimates and
    grid-histogram quantile estimates — the sketches a 100 TB profile
    pass uses instead of exact DISTINCT/percentile (no full shuffle of
    the key space). Hash-verified since r9: the Spark-internal
    HLL++/approx_percentile estimators (engine-private register
    layouts -> rows-only check only) are replaced by the portable
    register sketch + fixed $32 price grid of ``operators/hll.py``,
    which replay bit-for-bit in DuckDB. Exact counterparts are covered
    by distinct_sorted / tpch_q1; estimate-vs-exact error is asserted
    in tests."""
    from p6__mapreduce_spark.operators.hll import approx_stats_portable

    return approx_stats_portable(lineitem)


def event_json_stats(events: DataFrame) -> DataFrame:
    """JSON extraction + aggregation over the semi-structured props
    column: get_json_object stays JVM-side (Jackson), no Python."""
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass data-quality profile: one output row per column with
    row/null/distinct counts and min/max (rendered as strings so the
    schema is uniform across column types).

    ONE aggregation computes every metric for every column (a per-column
    loop would rescan the table N times — at 100 TB that's N scans), and
    the scan reads only ``cols``. The wide 1-row aggregate then unpivots
    via ``stack`` — driver-free, no collect.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_rows, n_nonnull, n_distinct, min_val, max_val)"
    ).orderBy("col_name")


def winsorize_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Clip each group's values to its [lo, hi] discrete percentiles —
    the outlier-capping pass before training-statistics aggregation.

    Thresholds are POSITIONAL (the value at ceil(q*n) in sort order),
    not interpolated: picking an element involves no float arithmetic,
    so results are bit-identical across engines and partitionings even
    on double columns. One window (rank within group) + a tiny per-group
    threshold aggregate broadcast back; the window shuffles once on the
    group key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col)
    ranked = df.select(
        group_col,
        value_col,
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n"),
    )
    thresholds = (
        ranked.filter(
            (F.col("rn") == F.ceil(lo * F.col("n"))) | (F.col("rn") == F.ceil(hi * F.col("n")))
        )
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.min(value_col).alias("p_lo"), F.max(value_col).alias("p_hi"))
    )
    return (
        df.join(F.broadcast(thresholds), F.col(group_col) == F.col("g"))
        .select(
            group_col,
            value_col,
            F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col(value_col))).alias(
                "clipped"
            ),
        )
    )


def distinct_users_sketch_rollup(events: DataFrame) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL sketches of distinct users,
    merged into per-week estimates WITHOUT rescanning the days.

    This is the incremental pattern a 100 TB event store needs: each
    day's partition is scanned once ever (its sketch persisted
    alongside), and any window — week, month, arbitrary ad-hoc span —
    is answered by unioning a handful of kilobyte sketches. An exact
    countDistinct over a week rescans 7 days of raw data; re-aggregated
    weekly from daily exact counts is WRONG (distinct doesn't sum).

    Library exemplar of Spark's built-in hll_sketch_agg. The registry
    query ``sketch_weekly_users`` no longer runs on it: the built-in
    sketch's register layout is engine-private, so r8 moved the query
    to the portable m=1024 rollup in ``operators/hll.py``, which is
    hash-verified against DuckDB. This variant stays as the
    one-dependency-fewer production option; its estimate is asserted
    within HLL error bounds of exact in tests.
    """
    daily = events.select(F.to_date("ts").alias("day"), "user_id").groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    return (
        daily.groupBy(F.weekofyear("day").alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_weekly_users"),
            F.sum("exact_daily").alias("sum_daily_naive"),  # the WRONG rollup, for contrast
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("week")
    )


def skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Key-distribution skew diagnostic: the pre-flight check a 100 TB
    pipeline runs BEFORE choosing a join/agg strategy on ``key_col``
    (broadcast? salt? AQE skew thresholds?). One row:

    - n_keys, total_rows, max_cnt, mean_cnt
    - p50/p90/p99_cnt — positional percentiles of the per-key count
      distribution (value at row ceil(p*n) of counts sorted ascending;
      positional, not interpolated, so both engines agree exactly)
    - top1_share / top10_share — fraction of all rows held by the
      hottest 1 / 10 keys (ties at the boundary carry equal counts, so
      the sums are well-defined)
    - skew_ratio — max_cnt / mean_cnt; > ~5 is where a salted
      two-stage agg or AQE skew-join split starts paying for itself

    Cost: one groupBy(key) shuffle (partial-agg absorbs the very skew
    being measured — counting a hot key is itself skew-immune), then a
    global sort of n_keys COUNTS (keys, not rows; at 100 TB n_keys is
    millions -> a single-digit-MB sort). All ratios are int/int double
    divisions, bit-reproducible.
    """
    # |keys|-bounded; feeds the scalar (n, total) aggregate AND the
    # ranked window — unpinned, the corpus groupBy re-ran per consumer
    # (plan audit r10: 2 scans; now ONE corpus pass)
    counts = pin(
        df.groupBy(F.col(key_col).alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
    )
    # scalar (n, total) rides in on a broadcast instead of two extra
    # whole-frame windows — only the row_number rank needs the global
    # single-partition sort, and it sorts n_keys counts, not rows
    scal = counts.agg(F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("total"))
    w = Window.orderBy(F.col("cnt").asc())
    ranked = counts.crossJoin(F.broadcast(scal)).select(
        "cnt", F.row_number().over(w).alias("rn"), "n", "total"
    )
    pick = lambda p: F.max(  # noqa: E731 — value at the percentile position
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("cnt"))
    )
    return ranked.agg(
        F.max("n").alias("n_keys"),
        F.max("total").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        (F.max("total") * F.lit(1.0) / F.max("n")).alias("mean_cnt"),
        pick(0.5).alias("p50_cnt"),
        pick(0.9).alias("p90_cnt"),
        pick(0.99).alias("p99_cnt"),
        (F.max("cnt") * F.lit(1.0) / F.max("total")).alias("top1_share"),
        (
            F.sum(F.when(F.col("rn") > F.col("n") - 10, F.col("cnt")).otherwise(F.lit(0)))
            * F.lit(1.0)
            / F.max("total")
        ).alias("top10_share"),
        (F.max("cnt") * F.lit(1.0) * F.max("n") / F.max("total")).alias("skew_ratio"),
    )


SKEW_PROFILE_ORACLE_SQL = """
WITH counts AS (
  SELECT {key} AS k, COUNT(*) AS cnt FROM {table} GROUP BY 1
), ranked AS (
  SELECT cnt,
         ROW_NUMBER() OVER (ORDER BY cnt ASC) AS rn,
         COUNT(*) OVER () AS n,
         SUM(cnt) OVER () AS total
  FROM counts
)
SELECT MAX(n) AS n_keys,
       CAST(MAX(total) AS BIGINT) AS total_rows,
       MAX(cnt) AS max_cnt,
       MAX(total) * 1.0 / MAX(n) AS mean_cnt,
       MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cnt END) AS p50_cnt,
       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cnt END) AS p90_cnt,
       MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN cnt END) AS p99_cnt,
       MAX(cnt) * 1.0 / MAX(total) AS top1_share,
       CAST(SUM(CASE WHEN rn > n - 10 THEN cnt ELSE 0 END) AS BIGINT) * 1.0
         / MAX(total) AS top10_share,
       MAX(cnt) * 1.0 * MAX(n) / MAX(total) AS skew_ratio
FROM ranked
"""


def embedding_dim_stats(emb: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension feature statistics of an embedding column — the
    profiling pass before normalization/whitening decides anything
    (dead dims, scale outliers, variance collapse).

    Exactness recipe (shared with similarity/kmeans.py): coordinates
    quantize to 1e-6 int64 up front, so per-dim sum/sumsq/min/max are
    exact integer aggregation; mean and population std are then pure
    double expressions over exact ints, written identically in the
    DuckDB oracle, hence bit-reproducible. sum^2 is computed in double
    (exact below 2^53) so the int64 path can't overflow at corpus
    scale. One posexplode + one groupBy(dim) shuffle of n*d quantized
    ints; partial aggs absorb the fan-in.
    """
    q = F.round(F.col("x").cast("double") * F.lit(1e6)).cast("long")
    exploded = emb.select(F.posexplode(vec_col).alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), q.alias("q")
    )
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).alias("sumsq_q"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
    )
    sum_d = F.col("sum_q").cast("double")
    var = (F.col("sumsq_q").cast("double") - sum_d * sum_d / F.col("n")) / F.col("n")
    return agg.select(
        "dim",
        "n",
        (sum_d / F.col("n")).alias("mean_q"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_q"),
        "min_q",
        "max_q",
    ).orderBy("dim")


EMBEDDING_DIM_STATS_ORACLE_SQL = """
WITH e AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS q
  FROM embeddings
), agg AS (
  SELECT dim, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(SUM(q * q) AS BIGINT) AS sumsq_q,
         MIN(q) AS min_q, MAX(q) AS max_q
  FROM e GROUP BY 1
)
SELECT dim, n,
       CAST(sum_q AS DOUBLE) / n AS mean_q,
       sqrt(greatest((CAST(sumsq_q AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / n) / n, 0.0)) AS std_q,
       min_q, max_q
FROM agg ORDER BY dim
"""


def mad_outliers(
    df: DataFrame, group_col: str, value_col: str, *, k: float = 3.0
) -> DataFrame:
    """Robust per-group outlier profile via Median Absolute Deviation —
    the quantile cousin of winsorization: MAD survives the very
    outliers a stddev-based z-score is inflated by.

    Positional definitions make it engine-exact: median = value at row
    ceil(n/2) of the group's ascending sort (lower median, no
    interpolation), MAD = the same positional median of |v - median|.
    Outlier = deviation > k * MAD. Two rank windows per group + one
    join back; all comparisons are IEEE doubles derived from the same
    inputs in both engines.
    """
    # Positional MAD needs exactly three corpus passes (median, median
    # of deviations, outlier count). The previous shape paid seven: a
    # separate group-count aggregation was broadcast into both rank
    # windows, and the un-pinned median/MAD subtrees re-ran per
    # consumer (plan audit r10). Now the group count rides each rank
    # window (same shuffle, one more window function), and the two
    # |groups|-bounded results are pinned once.
    w_v = Window.partitionBy("g").orderBy(F.col("v").asc())
    w_g = Window.partitionBy("g")
    vals = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
    med = pin(
        vals.withColumn("rn", F.row_number().over(w_v))
        .withColumn("n", F.count(F.lit(1)).over(w_g))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2))
        .select("g", F.col("v").alias("med"))
    )
    dev = vals.join(F.broadcast(med), "g").withColumn("dev", F.abs(F.col("v") - F.col("med")))
    w_d = Window.partitionBy("g").orderBy(F.col("dev").asc())
    mad = pin(
        dev.withColumn("rn", F.row_number().over(w_d))
        .withColumn("n", F.count(F.lit(1)).over(w_g))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2))
        .select("g", F.col("dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "g")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > F.lit(k) * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .withColumnRenamed("g", group_col)
        .orderBy(group_col)
    )


MAD_OUTLIERS_ORACLE_SQL = """
WITH vals AS (
  SELECT {group} AS g, {value} AS v FROM {table}
), counted AS (
  SELECT g, COUNT(*) AS n FROM vals GROUP BY 1
), med AS (
  SELECT g, v AS med FROM (
    SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC) AS rn
    FROM vals
  ) JOIN counted USING (g)
  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
), dev AS (
  SELECT vals.g, abs(v - med) AS dev FROM vals JOIN med USING (g)
), mad AS (
  SELECT g, dev AS mad FROM (
    SELECT g, dev, ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev ASC) AS rn
    FROM dev
  ) JOIN counted USING (g)
  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
)
SELECT dev.g AS {group}, COUNT(*) AS n, MAX(med.med) AS med, MAX(mad.mad) AS mad,
       CAST(SUM(CASE WHEN dev > {k} * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (g) JOIN med USING (g)
GROUP BY 1 ORDER BY 1
"""


def customer_revenue(orders: DataFrame) -> DataFrame:
    """One corpus aggregation → (o_custkey, cents): per-customer
    lifetime revenue in exact integer cents."""
    return orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cents")
    )


def revenue_gini(orders: DataFrame) -> DataFrame:
    """One row: (n_customers, total_cents, gini) — the Gini
    coefficient of per-customer revenue via the rank formulation
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending ranks.

    Exactness: Σi·xᵢ is rank-assignment-invariant under ties (equal x
    contribute equally whichever order they take), so the integer
    numerator/denominator are deterministic and the single final IEEE
    division matches DuckDB bit-for-bit. The rank is the exact
    TWO-PHASE rank (``functions/ranks.py::two_phase_rank``, the swap
    this docstring used to promise for billion-customer scale — r6):
    range-repartition → per-partition row_number → bounded
    partition-count offsets, so no task ever sorts more than
    |customers|/P rows. Output unchanged, oracle unchanged.
    """
    from p6__mapreduce_spark.functions.ranks import two_phase_rank

    ranked = two_phase_rank(
        customer_revenue(orders), ["cents", "o_custkey"], rank_col="i"
    ).select("cents", "i")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        (
            (2 * F.sum(F.col("i") * F.col("cents")) - (F.count(F.lit(1)) + 1) * F.sum("cents"))
            * F.lit(1.0)
            / (F.count(F.lit(1)) * F.sum("cents"))
        ).alias("gini"),
    )


def revenue_lorenz_deciles(orders: DataFrame) -> DataFrame:
    """(decile, n_customers, decile_cents, cum_cents, cum_share): the
    Lorenz curve of customer revenue at decile resolution — 'the top
    10% of customers hold X% of revenue'. Deciles assign by the
    two-phase rank + closed-form ntile split
    (``functions/ranks.py``, r6 — identical bucket sizing to both
    engines' ntile(10), so the unchanged ntile oracle still matches
    bit-for-bit) over (cents, custkey) — the custkey tie-break pins
    the assignment so both engines split ties identically and no
    single-task global sort remains. The cumulative window runs over
    10 aggregated rows; cum_share is the single final division."""
    from p6__mapreduce_spark.functions.ranks import ntile_expr, two_phase_rank

    ranked = two_phase_rank(
        customer_revenue(orders),
        ["cents", "o_custkey"],
        rank_col="_rk",
        group_count_col="_n",
    ).select("cents", ntile_expr(F.col("_rk"), F.col("_n"), 10).alias("decile"))
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").alias("decile_cents"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    return per.select(
        "decile",
        "n_customers",
        "decile_cents",
        F.sum("decile_cents").over(w).alias("cum_cents"),
        (F.sum("decile_cents").over(w) * F.lit(1.0) / F.sum("decile_cents").over(total)).alias(
            "cum_share"
        ),
    ).orderBy("decile")


REVENUE_GINI_ORACLE_SQL = """
WITH cust AS (
  SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents, CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
  FROM cust
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       (2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)) * 1.0e0
         / (COUNT(*) * SUM(cents)) AS gini
FROM ranked
"""

REVENUE_LORENZ_ORACLE_SQL = """
WITH cust AS (
  SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile FROM cust
), per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM ranked GROUP BY 1
)
SELECT decile, n_customers, decile_cents,
       CAST(SUM(decile_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
       SUM(decile_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) * 1.0e0
         / SUM(decile_cents) OVER () AS cum_share
FROM per ORDER BY decile
"""


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles,
    5 = best) of the customer base — all three quintiles derive from
    exact two-phase ranks (``functions/ranks.py``) plus the
    closed-form ntile split, so no task ever sorts more than
    |customers|/P rows (the naive form is three UNPARTITIONED
    ntile(5) windows — three single-task global sorts). Output is
    bit-identical to the ntile formulation; see q_rfm_segments for
    the driver-verified oracle."""
    from p6__mapreduce_spark.functions.ranks import ntile_expr, two_phase_rank

    cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.to_date(F.max("o_orderdate")), F.lit("1970-01-01"))
        .cast("long")
        .alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("cents"),
    )
    ranked = two_phase_rank(
        cust, ["last_day", "o_custkey"], rank_col="_r_rk", group_count_col="_n_all"
    )
    ranked = two_phase_rank(ranked, ["n_orders", "o_custkey"], rank_col="_f_rk")
    ranked = two_phase_rank(ranked, ["cents", "o_custkey"], rank_col="_m_rk")
    n_all = F.col("_n_all")
    scored = ranked.select(
        "o_custkey",
        "last_day",
        "n_orders",
        "cents",
        ntile_expr(F.col("_r_rk"), n_all, 5).alias("r_score"),
        ntile_expr(F.col("_f_rk"), n_all, 5).alias("f_score"),
        ntile_expr(F.col("_m_rk"), n_all, 5).alias("m_score"),
    )
    return scored.select(
        "o_custkey",
        "last_day",
        "n_orders",
        "cents",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("long")
        .alias("rfm"),
    ).orderBy("o_custkey")


def pareto_frontier(parts: DataFrame) -> DataFrame:
    """2D Pareto skyline of (price ↓, size ↑) over the part table,
    TWO-LEVEL (r6): level 1 salts by xxhash64(p_partkey) % 64 and
    removes locally-dominated rows within each salt group (a 64-way
    parallel window pass keeping a superset of the answer — removing
    only rows a salt-mate strictly dominates; domination is
    transitive, so every removed row leaves a surviving dominator);
    level 2 is the exact global pass over the skyline-sized union.
    See q_pareto_frontier_parts for the decision-identity argument
    and the driver-verified single-pass oracle."""
    p = parts.select(
        "p_partkey",
        _cents(F.col("p_retailprice")).alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    salted = p.withColumn("_salt", F.pmod(F.xxhash64("p_partkey"), F.lit(64)))
    w_lt_loc = (
        Window.partitionBy("_salt")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq_loc = Window.partitionBy("_salt", "price_cents")
    loc = salted.select(
        "p_partkey",
        "price_cents",
        "p_size",
        F.max("p_size").over(w_lt_loc).alias("_bc"),
        F.max("p_size").over(w_eq_loc).alias("_bs"),
    )
    cand = loc.filter(
        (F.col("_bc").isNull() | (F.col("p_size") > F.col("_bc")))
        & (F.col("p_size") == F.col("_bs"))
    ).drop("_bc", "_bs")
    w_lt = Window.orderBy("price_cents").rangeBetween(Window.unboundedPreceding, -1)
    w_eq = Window.partitionBy("price_cents")
    s = cand.select(
        "p_partkey",
        "price_cents",
        "p_size",
        F.max("p_size").over(w_lt).alias("best_cheaper"),
        F.max("p_size").over(w_eq).alias("best_same_price"),
    )
    return (
        s.filter(
            (F.col("best_cheaper").isNull() | (F.col("p_size") > F.col("best_cheaper")))
            & (F.col("p_size") == F.col("best_same_price"))
        )
        .select("p_partkey", "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    )
