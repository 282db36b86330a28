"""Time-series regularization: per-key calendar grid + forward fill.

The resample/gap-fill primitive every metrics pipeline needs (sensor
rollups, daily-active dashboards, feature snapshots for training):
turn an irregular event stream into one row per (key, period) over
each key's observed span, carrying the last observed value forward
through empty periods.

Scale shape: the grid is generated distributed — ``sequence()`` per
key row then ``explode`` (no driver loop, no cross join against a
calendar table); the only shuffles are the per-(key, period)
last-observation aggregation and the per-key window for the forward
fill. Grid cardinality = sum of key spans, linear in output. The fill
is ``last(value, ignorenulls=True)`` over an unbounded-preceding row
frame — Spark evaluates it in one pass per key partition, and the
DuckDB oracle's ``last_value(v IGNORE NULLS)`` is the identical
semantic. Values pass through untouched (no float arithmetic), so
cross-engine equality is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin


def gap_fill_daily(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """One row per (key, day) across each key's [first, last] event
    days: the day's last observation (latest ``ts``, ties broken by
    ``tiebreak_col``) forward-filled through days with no events,
    plus an ``is_observed`` flag distinguishing real from carried
    values."""
    day = F.date_trunc("day", F.col(ts_col))
    w_last = Window.partitionBy("k", "day").orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    daily = (
        events.select(
            F.col(key_col).alias("k"), day.alias("day"), F.col(ts_col), F.col(tiebreak_col), F.col(value_col)
        )
        .withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("k", "day", F.col(value_col).alias("v_obs"))
    )
    # |keys x days| rows (keys are per-entity -> corpus-proportional);
    # feeds the span grid AND the fill join — unpinned, the corpus
    # last-per-day window re-ran per consumer (plan audit r10: 2
    # events scans; now ONE — the upsert_latest_snapshot discipline).
    daily = pin(daily)
    grid = (
        daily.groupBy("k")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("k", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    )
    w_fill = Window.partitionBy("k").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(daily, ["k", "day"], "left")
        .select(
            F.col("k").alias(key_col),
            "day",
            F.last("v_obs", ignorenulls=True).over(w_fill).alias("value_filled"),
            F.col("v_obs").isNotNull().alias("is_observed"),
        )
        .orderBy(key_col, "day")
    )


GAP_FILL_ORACLE_SQL = """
WITH daily AS (
  SELECT k, day, v_obs FROM (
    SELECT {key} AS k, date_trunc('day', {ts}) AS day, {value} AS v_obs,
           ROW_NUMBER() OVER (PARTITION BY {key}, date_trunc('day', {ts})
                              ORDER BY {ts} DESC, {tiebreak} DESC) AS rn
    FROM {table}
  ) WHERE rn = 1
), grid AS (
  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
  FROM (SELECT k, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1)
)
SELECT g.k AS {key}, g.day,
       last_value(d.v_obs IGNORE NULLS) OVER (
         PARTITION BY g.k ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       d.v_obs IS NOT NULL AS is_observed
FROM grid g LEFT JOIN daily d ON g.k = d.k AND g.day = d.day
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Closed-form OLS trend + autocorrelation over the daily revenue series
# ---------------------------------------------------------------------------
#
# Complements operators/robust.py: Theil-Sen is the robust slope, OLS is
# the classical one users still expect (with R² as fit quality), and the
# lag-k autocorrelation function is the standard "is there weekly
# structure / momentum" diagnostic before fitting anything seasonal.
#
# Exactness discipline (same as robust.py): the corpus collapses to one
# integer row per day in ONE aggregation; the quadratic sums operate on
# a KILODOLLAR-quantized series (floor(cents / 100000)) so Σy² stays
# within int64 through ~sf1000 (sf0.1 measures max daily ≈ 2.3e4 k$ →
# Σy² ≈ 1.3e12; quadratic in scale factor). All sums are exact BIGINTs
# (order-independent), and ONLY the final slope/intercept/R²/ACF ratios
# are computed in float64 with expression trees mirrored token-for-token
# in the DuckDB oracle — identical IEEE ops on identical ints are
# bit-reproducible.


def _daily_kilodollars(orders: DataFrame) -> DataFrame:
    """(day_idx, y): days since epoch, revenue in exact kilodollars —
    floor(exact-cent sum / 100000). One corpus aggregation."""
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .select(
            F.datediff("day", F.lit("1970-01-01")).cast("long").alias("day_idx"),
            F.floor(F.col("cents") / 100000).cast("long").alias("y"),
        )
    )


def ols_daily_trend(orders: DataFrame) -> DataFrame:
    """One row: (n_days, slope_kd_per_day, intercept_kd, r2) — the
    least-squares line through (day index, daily revenue k$) with its
    coefficient of determination.

    Plan: one corpus aggregation to |days| integer rows, then ONE
    5-term partial aggregate (n, Σx, Σy, Σxx, Σyy, Σxy — map-side
    combined, 1 row shuffled), then pure scalar math. x is centered on
    min(day_idx) via a 1-row scalar broadcast (Q22 shape) so Σxy stays
    ≈ |days|²·y — no int64 risk. On a 1000-executor cluster this is
    scan-bound: everything after the first agg is constant work.

    ``daily`` feeds the x0 scalar AND the sums aggregate, so un-pinned
    the orders aggregation ran twice; the eager localCheckpoint bounds
    it to one corpus pass (r10 multi-consumer discipline).
    """
    # cut: pin measured 0.49 -> 0.55 s at sf0.1 (ols_daily_trend, 0/5 pin wins)
    daily = _daily_kilodollars(orders).localCheckpoint(eager=True)
    x0 = daily.agg(F.min("day_idx").alias("x0"))
    sums = (
        daily.crossJoin(F.broadcast(x0))  # 1-row scalar broadcast (labeled)
        .select((F.col("day_idx") - F.col("x0")).alias("x"), "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    slope = F.when(denx != 0.0, num / denx)
    return sums.select(
        F.col("n").alias("n_days"),
        slope.alias("slope_kd_per_day"),
        F.when(
            denx != 0.0,
            (F.col("sy").cast("double") - (num / denx) * F.col("sx").cast("double")) / nd,
        ).alias("intercept_kd"),
        F.when((denx != 0.0) & (deny != 0.0), (num * num) / (denx * deny)).alias("r2"),
    )


OLS_DAILY_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(floor(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100000) AS BIGINT) AS y
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), centered AS (
  SELECT day_idx - (SELECT MIN(day_idx) FROM daily) AS x, y FROM daily
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM centered
)
SELECT n AS n_days,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0e0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       END AS slope_kd_per_day,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0e0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE)
       END AS intercept_kd,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0e0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0.0e0
            THEN ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
               / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS r2
FROM sums
"""


def acf_daily_revenue(orders: DataFrame, *, max_lag: int = 7) -> DataFrame:
    """(lag, n_pairs, acf) for lag 1..max_lag: the Pearson correlation
    between the daily k$ series and itself shifted by ``lag`` days
    (pair-based ACF — each lag's correlation uses exactly the day pairs
    where BOTH endpoints exist, so calendar gaps shrink n_pairs instead
    of injecting imputed zeros).

    Plan: corpus → |days| rows once; the lag table is a |days|×max_lag
    explode (bounded, corpus-size independent); a self-equi-join on
    shifted day index (no inequality join); one 6-term agg per lag.
    Lag-partition cardinality = max_lag rows total.

    ``daily`` feeds the lag explode AND the equi-join probe side, so
    un-pinned the orders aggregation ran twice; the pin bounds it to
    one corpus pass (r10 multi-consumer discipline).
    """
    daily = pin(_daily_kilodollars(orders))
    lagged = daily.select(
        "day_idx",
        F.col("y").alias("y1"),
        F.explode(F.expr(f"sequence(1, {max_lag})")).alias("lag"),
    ).select((F.col("day_idx") + F.col("lag")).alias("jday"), "lag", "y1")
    pairs = lagged.join(
        daily.select(F.col("day_idx").alias("jday"), F.col("y").alias("y2")), "jday"
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y1").alias("sx"),
        F.sum("y2").alias("sy"),
        F.sum(F.col("y1") * F.col("y1")).alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).alias("syy"),
        F.sum(F.col("y1") * F.col("y2")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    return sums.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when((denx > 0.0) & (deny > 0.0), num / F.sqrt(denx * deny)).alias("acf"),
    ).orderBy("lag")


ACF_DAILY_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(floor(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100000) AS BIGINT) AS y
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), pairs AS (
  SELECT l.lag, a.y AS y1, b.y AS y2
  FROM daily a
  CROSS JOIN (SELECT unnest(generate_series(1, {max_lag})) AS lag) l
  JOIN daily b ON b.day_idx = a.day_idx + l.lag
), sums AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y1) AS BIGINT) AS sx, CAST(SUM(y2) AS BIGINT) AS sy,
         CAST(SUM(y1 * y1) AS BIGINT) AS sxx, CAST(SUM(y2 * y2) AS BIGINT) AS syy,
         CAST(SUM(y1 * y2) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0e0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0e0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS acf
FROM sums ORDER BY lag
"""


def durbin_watson_daily(orders: DataFrame) -> DataFrame:
    """One row: (n_days, dw) — the Durbin-Watson statistic of the
    daily-revenue OLS residuals, the standard 'are the errors serially
    correlated' diagnostic that decides whether ols_daily_trend's R²
    can be trusted (dw ≈ 2 ⇒ independent; → 0 ⇒ positive
    autocorrelation; → 4 ⇒ negative).

    Exactness: slope/intercept come from the SAME centered exact-sum
    normal equations as ols_daily_trend (identical float64 trees in
    both engines ⇒ identical doubles). Each day's residual is then
    QUANTIZED to the 1e-3 fixed point — floor(e·1000 + 0.5) on an
    identical double is the identical BIGINT — so Σ(Δe)² and Σe² are
    exact order-free integer sums; dw is the single final ratio.
    Plan: |days| rows after one corpus agg; the stats row is a 1-row
    scalar broadcast (Q22 shape); the lag window runs over the
    bounded |days| table, never the corpus. Residual magnitude ≈
    daily k$ (≤ ~2.3e4 at sf0.1, linear in sf) ⇒ e_q3² ≤ ~5e14 per
    day — int64-safe through ~sf100 with |days| ≈ 1e4.

    ``daily`` feeds the x0 scalar AND the centered build, so un-pinned
    the orders aggregation ran twice before ``centered`` was even
    materialized; pinning ``daily`` too makes the whole query exactly
    one corpus pass (r10 multi-consumer discipline).
    """
    daily = pin(_daily_kilodollars(orders))
    x0 = daily.agg(F.min("day_idx").alias("x0"))
    # |days| rows feed both the normal-equation aggregate and the
    # residual pass: materialize once, never rescan the orders corpus
    centered = pin(
        daily.crossJoin(F.broadcast(x0))
        .select((F.col("day_idx") - F.col("x0")).alias("x"), "y")
    )
    sums = centered.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    # single-day corpus: denx = 0 — fall back to the flat fit (b=0,
    # a=mean) in BOTH engines instead of 0/0 (Spark NULL vs DuckDB inf)
    slope = F.when(denx != 0.0, num / denx).otherwise(F.lit(0.0))
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / nd
    resid = centered.crossJoin(F.broadcast(sums.select(slope.alias("b"), intercept.alias("a")))).select(
        "x",
        F.floor(
            (F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("x").cast("double")))
            * F.lit(1000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("eq3"),
    )
    w = Window.orderBy("x")  # |days|-bounded input (ewma/theil_sen class)
    de = resid.select("eq3", (F.col("eq3") - F.lag("eq3").over(w)).alias("d"))
    agg = de.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("eq3") * F.col("eq3")).cast("long").alias("see"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
    )
    return agg.select(
        "n_days",
        F.when(
            F.col("see") > 0,
            F.col("sdd").cast("double") / F.col("see").cast("double"),
        ).alias("dw"),
    )


DURBIN_WATSON_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(floor(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100000) AS BIGINT) AS y
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), centered AS (
  SELECT day_idx - (SELECT MIN(day_idx) FROM daily) AS x, y FROM daily
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM centered
), coefs AS (
  SELECT CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0e0
              THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              ELSE 0.0e0 END AS b,
         (CAST(sy AS DOUBLE)
            - (CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0e0
                    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    ELSE 0.0e0 END)
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS a
  FROM sums
), resid AS (
  SELECT x,
         CAST(floor((CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 1000.0e0 + 5.0e-1) AS BIGINT) AS eq3
  FROM centered CROSS JOIN coefs
), de AS (
  SELECT eq3, eq3 - lag(eq3) OVER (ORDER BY x) AS d FROM resid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CASE WHEN CAST(SUM(eq3 * eq3) AS BIGINT) > 0 THEN
         CAST(CAST(SUM(d * d) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(eq3 * eq3) AS BIGINT) AS DOUBLE) END AS dw
FROM de
"""
