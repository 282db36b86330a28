"""Robust trend & anomaly statistics over daily series — Theil-Sen
median-slope regression and day-of-week median/MAD anomaly flags.

OLS (zipf_fit's estimator) is the right tool for log-log rank fits but
breaks on business series: one flash-sale day drags a least-squares
trend arbitrarily far (0% breakdown point). The robust pair:

- **Theil-Sen** (Theil 1950, Sen 1968): the median of all pairwise
  slopes — 29.3% breakdown, no distributional assumptions, and for a
  DAILY series the pair space is |days|², a corpus-size-INDEPENDENT
  constant (~2.4k days → ~3M pairs at any scale factor, one bounded
  task after the corpus collapses to one row per day).
- **Seasonal median/MAD**: a day is anomalous relative to its
  day-of-week cohort (Monday revenue is not Tuesday revenue), scored
  by |x − median(dow)| > k·MAD(dow) — the robust z-score of Hampel
  filters.

Exactness discipline: revenue is exact integer cents; slopes quantize
to floor((Δcents·10⁶)/Δdays) BEFORE the median so the median operates
on integers; medians are LOWER medians (the value at sorted position
⌊(n+1)/2⌋) — a deterministic selection both engines reproduce
bit-for-bit, sidestepping the mean-of-middle-two float. Row-number
assignment among tied values is arbitrary, but the VALUE at any rank
is well-defined, so the selected median is deterministic. The corpus
is touched by exactly one aggregation; everything downstream is
bounded by |days| (or 7 cohorts), so the single-partition window
sorts land on day-bounded inputs only — the registry's standing
WindowExec policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin


def _daily_revenue(orders: DataFrame) -> DataFrame:
    """One corpus aggregation → (day_idx, cents): days since epoch and
    exact integer-cent revenue."""
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .select(F.datediff("day", F.lit("1970-01-01")).cast("long").alias("day_idx"), "cents")
    )


def theil_sen_daily_revenue(orders: DataFrame) -> DataFrame:
    """One row: (n_days, n_pairs, slope_q6) — the Theil-Sen median
    slope of daily revenue in micro-cents/day. The pairwise join runs
    AFTER the corpus collapses to |days| rows, so it is a bounded grid
    (ewma_daily_revenue's exemption class), not a data cross product;
    the 1-row day-count build side is the Q22 scalar-broadcast shape.
    Fully in-plan: no driver round-trips.

    The |days|-bounded daily aggregate fans out into THREE consumers
    (both sides of the pair grid + the day-count scalar); per-branch
    column pruning makes the subtrees unequal so ReusedExchange never
    fires and the orders scan+aggregation ran 3x. One eager pin
    shares it — the written daily-rollup intermediate a
    100 TB pipeline would reuse (r10 multi-consumer discipline)."""
    daily = pin(_daily_revenue(orders))
    a = daily.select(F.col("day_idx").alias("d1"), F.col("cents").alias("c1"))
    b = daily.select(F.col("day_idx").alias("d2"), F.col("cents").alias("c2"))
    slopes = a.join(b, F.col("d1") < F.col("d2")).select(
        F.floor(
            (F.col("c2") - F.col("c1")) * F.lit(1_000_000) / (F.col("d2") - F.col("d1"))
        ).alias("slope_q6")
    )
    # n_pairs derives from the 1-row day count (n·(n−1)/2) instead of a
    # COUNT() OVER () companion window — that second full-partition
    # WindowExec pass over the ~3M pair rows measured 3x slower.
    scalar = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days")).select(
        "n_days",
        (F.col("n_days") * (F.col("n_days") - 1) / 2).cast("long").alias("n_pairs"),
    )
    ranked = slopes.select(
        "slope_q6", F.row_number().over(Window.orderBy("slope_q6")).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(scalar))  # 1-row scalar broadcast (labeled)
        .filter(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select(
            "n_days",
            "n_pairs",
            F.col("slope_q6").cast("long").alias("slope_q6"),
        )
    )


THEIL_SEN_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), slopes AS (
  SELECT CAST(floor((b.cents - a.cents) * 1000000.0 / (b.day_idx - a.day_idx)) AS BIGINT) AS slope_q6
  FROM daily a JOIN daily b ON a.day_idx < b.day_idx
), ranked AS (
  SELECT slope_q6, row_number() OVER (ORDER BY slope_q6) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs
  FROM slopes
), stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
SELECT s.n_days, r.n_pairs, r.slope_q6
FROM ranked r CROSS JOIN stats s
WHERE r.rn = (r.n_pairs + 1) // 2
"""


def seasonal_anomaly_daily(orders: DataFrame, k_mad: int = 3) -> DataFrame:
    """(day_idx, dow, cents, med_cents, mad_cents, is_anomaly): each
    day scored against its day-of-week cohort's lower-median and MAD.
    ``is_anomaly`` = |cents − med| > k·MAD (strict, so a zero-MAD
    cohort only flags genuinely deviating days). All integers; no
    division anywhere.

    ``daily`` feeds both the per-dow median branch and the deviation
    join (and ``dev`` feeds the MAD branch plus the final join), so
    un-pinned the orders scan+aggregation re-ran per consumer; the
    pin bounds it to ONE corpus pass — everything
    downstream is |days|-sized."""
    daily = pin(_daily_revenue(orders)).withColumn(
        # day_idx 0 = Thursday 1970-01-01; (idx+4) % 7 → 0=Sunday..6=Saturday
        "dow",
        (F.col("day_idx") + 4) % 7,
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        ranked = df.select(
            "dow",
            col,
            F.row_number().over(Window.partitionBy("dow").orderBy(col)).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("dow")).alias("n"),
        )
        return ranked.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
            "dow", F.col(col).alias(out)
        )

    med = lower_median(daily, "cents", "med_cents")
    dev = daily.join(med, "dow").withColumn(
        "abs_dev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = lower_median(dev, "abs_dev", "mad_cents")
    return (
        dev.join(mad, "dow")
        .select(
            "day_idx",
            "dow",
            "cents",
            "med_cents",
            "mad_cents",
            (F.col("abs_dev") > F.lit(k_mad) * F.col("mad_cents")).alias("is_anomaly"),
        )
        .orderBy("day_idx")
    )


SEASONAL_ANOMALY_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), d2 AS (SELECT *, (day_idx + 4) % 7 AS dow FROM daily
), med AS (
  SELECT dow, cents AS med_cents FROM (
    SELECT dow, cents, row_number() OVER (PARTITION BY dow ORDER BY cents) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n
    FROM d2
  ) WHERE rn = (n + 1) // 2
), dev AS (
  SELECT d2.*, med.med_cents, abs(d2.cents - med.med_cents) AS abs_dev
  FROM d2 JOIN med USING (dow)
), mad AS (
  SELECT dow, abs_dev AS mad_cents FROM (
    SELECT dow, abs_dev, row_number() OVER (PARTITION BY dow ORDER BY abs_dev) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n
    FROM dev
  ) WHERE rn = (n + 1) // 2
)
SELECT dev.day_idx, dev.dow, dev.cents, dev.med_cents, mad.mad_cents,
       dev.abs_dev > {k_mad} * mad.mad_cents AS is_anomaly
FROM dev JOIN mad USING (dow)
ORDER BY day_idx
"""


def seasonal_anomaly_oracle_sql(k_mad: int = 3) -> str:
    return SEASONAL_ANOMALY_ORACLE_SQL.format(k_mad=k_mad)


def cusum_changepoint_daily(orders: DataFrame) -> DataFrame:
    """Single most-likely level-shift day in daily revenue via the
    CUSUM statistic (Page 1954): with prefix sums P_i and total T over
    n days, the deviation at position i is D_i = n·P_i − i·T — the
    (scaled by n) gap between the observed prefix and the no-change
    expectation i·T/n. The changepoint estimate is argmax |D_i|
    (earliest day on ties).

    Exactness: P_i, T, i, n are exact integers from one corpus
    aggregation; D_i is formed as double(P_i)·n − double(i)·double(T)
    so it cannot overflow at any scale, and because every conversion /
    multiply / subtract is a single correctly-rounded IEEE-754 op on
    integer-valued inputs, DuckDB reproduces it bit-for-bit.

    Scale: the corpus collapses to |days| rows before the (bounded,
    registry-policy) single-partition prefix window; the 1-row
    (n, total) side is the Q22 scalar-broadcast shape. Returns ONE row:
    (n_days, cp_day_idx, cp_pos, max_abs_dev, before_days,
    before_cents, after_days, after_cents) — exact integer segment
    totals so the caller derives means at any precision it wants.

    ``daily`` feeds the prefix window AND the (n, total) scalar, so
    un-pinned the orders aggregation ran twice; the pin bounds it to
    one corpus pass (r10 multi-consumer discipline)."""
    daily = pin(_daily_revenue(orders))
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.select(
        "day_idx",
        F.sum("cents").over(w).alias("prefix_cents"),
        F.row_number().over(Window.orderBy("day_idx")).alias("i"),
    )
    scalar = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    dev = pref.crossJoin(F.broadcast(scalar)).select(  # 1-row scalar broadcast (labeled)
        "n_days",
        F.col("day_idx").alias("cp_day_idx"),
        F.col("i").cast("long").alias("cp_pos"),
        F.abs(
            F.col("prefix_cents").cast("double") * F.col("n_days")
            - F.col("i").cast("double") * F.col("total_cents").cast("double")
        ).alias("max_abs_dev"),
        F.col("i").cast("long").alias("before_days"),
        F.col("prefix_cents").cast("long").alias("before_cents"),
        (F.col("n_days") - F.col("i")).cast("long").alias("after_days"),
        (F.col("total_cents") - F.col("prefix_cents")).cast("long").alias("after_cents"),
    )
    return dev.orderBy(F.desc("max_abs_dev"), F.asc("cp_day_idx")).limit(1)


CUSUM_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), pref AS (
  SELECT day_idx,
         CAST(SUM(cents) OVER (ORDER BY day_idx ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix_cents,
         CAST(row_number() OVER (ORDER BY day_idx) AS BIGINT) AS i
  FROM daily
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(cents) AS BIGINT) AS total_cents FROM daily
)
SELECT s.n_days,
       p.day_idx AS cp_day_idx,
       p.i AS cp_pos,
       abs(CAST(p.prefix_cents AS DOUBLE) * s.n_days
           - CAST(p.i AS DOUBLE) * CAST(s.total_cents AS DOUBLE)) AS max_abs_dev,
       p.i AS before_days,
       p.prefix_cents AS before_cents,
       s.n_days - p.i AS after_days,
       s.total_cents - p.prefix_cents AS after_cents
FROM pref p CROSS JOIN stats s
ORDER BY max_abs_dev DESC, cp_day_idx ASC
LIMIT 1
"""


def mann_kendall_trend(orders: DataFrame, z_crit: float = 1.96) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily revenue — the
    significance companion to ``theil_sen_daily_revenue`` (which gives
    the magnitude): S = Σ_{i<j} sign(x_j − x_i), tie-corrected
    variance Var(S) = (n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)) / 18,
    and the continuity-corrected z = (S∓1)/√Var(S).

    Exactness: S and the variance NUMERATOR are exact int64 (n ≈
    |days| so n³ ≈ 1.4e10 — nowhere near overflow at any corpus
    size); z divides by a correctly-rounded IEEE sqrt of an
    integer-valued double, bit-reproducible across engines. The pair
    space is |days|² after the corpus collapses to one row per day —
    the theil_sen bounded-grid exemption class.

    ``daily`` fans out into FOUR consumers (both pair-grid sides, the
    tie histogram, the day count), so un-pinned the orders aggregation
    ran 4x; the pin bounds it to one corpus pass
    (r10 multi-consumer discipline)."""
    daily = pin(_daily_revenue(orders))
    a = daily.select(F.col("day_idx").alias("d1"), F.col("cents").alias("c1"))
    b = daily.select(F.col("day_idx").alias("d2"), F.col("cents").alias("c2"))
    s_stat = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(F.sum(F.signum(F.col("c2") - F.col("c1")).cast("long")).alias("s_stat"))
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    joined = (
        s_stat.crossJoin(F.broadcast(ties))  # 1-row scalar broadcast (labeled)
        .crossJoin(F.broadcast(n))
        .select(
            "n_days",
            "s_stat",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            .cast("long")
            .alias("var_num"),
        )
    )
    z = F.when(
        F.col("s_stat") > 0,
        (F.col("s_stat") - 1).cast("double")
        / F.sqrt(F.col("var_num").cast("double") / 18.0),
    ).when(
        F.col("s_stat") < 0,
        (F.col("s_stat") + 1).cast("double")
        / F.sqrt(F.col("var_num").cast("double") / 18.0),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "n_days",
        "s_stat",
        "var_num",
        z.alias("z_stat"),
        F.when(z > F.lit(z_crit), F.lit("increasing"))
        .when(z < F.lit(-z_crit), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


MANN_KENDALL_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.day_idx < b.day_idx
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY cents)
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
j AS (
  SELECT n.n_days, s.s_stat,
         CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_term AS BIGINT) AS var_num
  FROM s CROSS JOIN ties CROSS JOIN n
)
SELECT n_days, s_stat, var_num,
       CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
            WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_stat,
       CASE WHEN (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                       ELSE 0.0 END) > 1.96 THEN 'increasing'
            WHEN (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                       ELSE 0.0 END) < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM j
"""


def binseg_changepoints_daily(orders: DataFrame) -> DataFrame:
    """Binary segmentation (Scott & Knott 1974; the ruptures-style
    default) one level past `cusum_changepoint_daily`: find the best
    level-shift day, SPLIT there, and re-run the CUSUM argmax inside
    each side — three candidate changepoints with exact segment
    evidence, where single-CUSUM only sees the dominant one.

    Segment-local deviations come from GLOBAL prefix sums and the
    1-row split scalars only (no per-segment rescan):

        left  (i < k):      D_i = k * P_i - i * P_k
        right (k < i < n):  D_i = (n-k)(P_i - P_k) - (i-k)(T - P_k)

    Every operand is an exact int64; each D is a fixed-shape double
    product-difference (the cusum discipline), so argmax comparisons
    are bit-identical cross-engine; ties break to the earliest day.

    Scale shape: the corpus collapses once to |days| rows; both
    levels run on that bounded relation with two 1-row scalar
    broadcasts (the Q22 shape). Returns <= 3 rows: (level, side,
    cp_day_idx, cp_pos, stat, seg_start_pos, seg_end_pos)."""
    daily = _daily_revenue(orders)
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    # cut: pin measured 0.83 -> 0.94 s at sf0.1 (binseg_changepoints, 0/5 pin wins)
    pref = daily.select(
        "day_idx",
        F.sum("cents").over(w).cast("long").alias("p"),
        F.row_number().over(Window.orderBy("day_idx")).cast("long").alias("i"),
    ).localCheckpoint(eager=True)  # both levels + the split scalar fan out
    scalar = pref.agg(
        F.max("i").cast("long").alias("n"), F.max("p").cast("long").alias("t")
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    lvl0 = (
        pref.crossJoin(F.broadcast(scalar))  # 1-row scalar broadcast (labeled)
        .filter(F.col("i") < F.col("n"))
        .select(
            "day_idx",
            "i",
            "p",
            "n",
            "t",
            F.abs(dd("p") * dd("n") - dd("i") * dd("t")).alias("stat"),
        )
        .orderBy(F.desc("stat"), F.asc("day_idx"))
        .limit(1)
    )
    split = lvl0.select(
        F.col("i").alias("k"), F.col("p").alias("pk"), "n", "t"
    )
    sides = pref.crossJoin(F.broadcast(split))  # 1-row split broadcast (labeled)
    left = (
        sides.filter(F.col("i") < F.col("k"))
        .select(
            "day_idx",
            "i",
            F.lit("left").alias("side"),
            F.abs(dd("p") * dd("k") - dd("i") * dd("pk")).alias("stat"),
            F.lit(1).cast("long").alias("seg_start_pos"),
            F.col("k").alias("seg_end_pos"),
        )
        .orderBy(F.desc("stat"), F.asc("day_idx"))
        .limit(1)
    )
    right = (
        sides.filter((F.col("i") > F.col("k")) & (F.col("i") < F.col("n")))
        .select(
            "day_idx",
            "i",
            F.lit("right").alias("side"),
            F.abs(
                (dd("p") - dd("pk")) * (dd("n") - dd("k"))
                - (dd("i") - dd("k")) * (dd("t") - dd("pk"))
            ).alias("stat"),
            (F.col("k") + 1).cast("long").alias("seg_start_pos"),
            F.col("n").alias("seg_end_pos"),
        )
        .orderBy(F.desc("stat"), F.asc("day_idx"))
        .limit(1)
    )
    top = lvl0.select(
        F.lit(0).cast("long").alias("level"),
        F.lit("all").alias("side"),
        F.col("day_idx").alias("cp_day_idx"),
        F.col("i").alias("cp_pos"),
        "stat",
        F.lit(1).cast("long").alias("seg_start_pos"),
        F.col("n").alias("seg_end_pos"),
    )
    kids = left.unionAll(right).select(
        F.lit(1).cast("long").alias("level"),
        "side",
        F.col("day_idx").alias("cp_day_idx"),
        F.col("i").alias("cp_pos"),
        "stat",
        "seg_start_pos",
        "seg_end_pos",
    )
    return top.unionAll(kids).orderBy("level", "side")


BINSEG_ORACLE_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), pref AS (
  SELECT day_idx,
         CAST(SUM(cents) OVER (ORDER BY day_idx ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
         CAST(row_number() OVER (ORDER BY day_idx) AS BIGINT) AS i
  FROM daily
), scalar AS (
  SELECT CAST(MAX(i) AS BIGINT) AS n, CAST(MAX(p) AS BIGINT) AS t FROM pref
), lvl0 AS (
  SELECT day_idx, i, p, n, t,
         abs(CAST(p AS DOUBLE) * CAST(n AS DOUBLE) - CAST(i AS DOUBLE) * CAST(t AS DOUBLE)) AS stat
  FROM pref CROSS JOIN scalar
  WHERE i < n
  ORDER BY stat DESC, day_idx ASC LIMIT 1
), split AS (
  SELECT i AS k, p AS pk, n, t FROM lvl0
), lft AS (
  SELECT day_idx, i, 'left' AS side,
         abs(CAST(p AS DOUBLE) * CAST(k AS DOUBLE) - CAST(i AS DOUBLE) * CAST(pk AS DOUBLE)) AS stat,
         CAST(1 AS BIGINT) AS seg_start_pos, k AS seg_end_pos
  FROM pref CROSS JOIN split
  WHERE i < k
  ORDER BY stat DESC, day_idx ASC LIMIT 1
), rgt AS (
  SELECT day_idx, i, 'right' AS side,
         abs((CAST(p AS DOUBLE) - CAST(pk AS DOUBLE)) * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
             - (CAST(i AS DOUBLE) - CAST(k AS DOUBLE)) * (CAST(t AS DOUBLE) - CAST(pk AS DOUBLE))) AS stat,
         CAST(k + 1 AS BIGINT) AS seg_start_pos, n AS seg_end_pos
  FROM pref CROSS JOIN split
  WHERE i > k AND i < n
  ORDER BY stat DESC, day_idx ASC LIMIT 1
)
SELECT CAST(0 AS BIGINT) AS level, 'all' AS side, day_idx AS cp_day_idx, i AS cp_pos,
       stat, CAST(1 AS BIGINT) AS seg_start_pos, n AS seg_end_pos
FROM lvl0
UNION ALL
SELECT CAST(1 AS BIGINT), side, day_idx, i, stat, seg_start_pos, seg_end_pos FROM lft
UNION ALL
SELECT CAST(1 AS BIGINT), side, day_idx, i, stat, seg_start_pos, seg_end_pos FROM rgt
ORDER BY level, side
"""


HUBER_ROUNDS = 6
HQ_W = "1.0e6"  # weight-term contribution scale (w, wx, wxx)
HQ_Y = "1.0e2"  # y-term contribution scale (wy, wxy) — int64 headroom
HQ_B = "1.0e4"  # coefficient fixed-point scale between rounds


def _huber_row_stages(a: str, b: str) -> list[list[tuple[str, str]]]:
    """Shared per-row stage text (Spark selectExpr == oracle CTEs):
    residual against the current fit, the Huber weight with
    delta = 10% of mean daily revenue (an exact-int-derived double
    carried as (tt, nn) columns), and the mixed-scale quantized
    normal-equation contributions."""
    return [
        [("r", f"y - ({a} + {b} * x)")],
        [("absr", "abs(r)")],
        [("delta", "1.0e-1 * (CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE))")],
        [("w", "CASE WHEN absr <= delta THEN 1.0e0 ELSE delta / absr END")],
        [
            ("c0", f"CAST(floor((w) * {HQ_W} + 0.5e0) AS BIGINT)"),
            ("c1", f"CAST(floor((w * x) * {HQ_W} + 0.5e0) AS BIGINT)"),
            ("c2", f"CAST(floor((w * x * x) * {HQ_W} + 0.5e0) AS BIGINT)"),
            ("c3", f"CAST(floor((w * y) * {HQ_Y} + 0.5e0) AS BIGINT)"),
            ("c4", f"CAST(floor((w * x * y) * {HQ_Y} + 0.5e0) AS BIGINT)"),
        ],
    ]


# m3/m4 sums accumulate in DECIMAL(38,0): the per-row contribution c4
# is bounded by x*y*1e2 but the SUM over n_days rows is ~n^2/2 * ybar
# * 1e2 (r8 ADVICE) — quadratic in the day span, past int64 near
# sf50-100 on the 2.4k-day TPC-H domain. The weight moments m0..m2
# stay int64 (w <= 1, x <= n: worst case n^3/3 * 1e6 is covered to
# ~3e4 days). The descale step (CAST(mK AS DOUBLE)) is unchanged —
# decimal->double is the same exact conversion in both engines.
HUBER_MOMENTS = [
    ("m0", "CAST(SUM(c0) AS BIGINT)"),
    ("m1", "CAST(SUM(c1) AS BIGINT)"),
    ("m2", "CAST(SUM(c2) AS BIGINT)"),
    ("m3", "CAST(SUM(CAST(c3 AS DECIMAL(38,0))) AS DECIMAL(38,0))"),
    ("m4", "CAST(SUM(CAST(c4 AS DECIMAL(38,0))) AS DECIMAL(38,0))"),
]


def _huber_update_stages(a: str, b: str) -> list[list[tuple[str, str]]]:
    """Weighted 2x2 normal-equation solve on the descaled moments; new
    coefficients re-quantized to int64 at 1e-4. ``a``/``b`` are unused
    (the solve is closed-form, not a delta step) but kept for
    signature symmetry with the logreg machinery."""
    return [
        [
            ("sw", f"CAST(m0 AS DOUBLE) / {HQ_W}"),
            ("swx", f"CAST(m1 AS DOUBLE) / {HQ_W}"),
            ("swxx", f"CAST(m2 AS DOUBLE) / {HQ_W}"),
            ("swy", f"CAST(m3 AS DOUBLE) / {HQ_Y}"),
            ("swxy", f"CAST(m4 AS DOUBLE) / {HQ_Y}"),
        ],
        [("det", "sw * swxx - swx * swx")],
        [
            # nullif: a single-day corpus has det = 0 — DuckDB's /
            # yields NULL there, Spark-ANSI throws; nullif is the
            # PORTABLE guard (this text runs verbatim in both engines)
            # and is identity whenever det != 0 (r9 audit)
            ("na", "(swxx * swy - swx * swxy) / nullif(det, 0e0)"),
            ("nb", "(sw * swxy - swx * swy) / nullif(det, 0e0)"),
        ],
        [
            ("aq", f"CAST(floor((na) * {HQ_B} + 0.5e0) AS BIGINT)"),
            ("bq", f"CAST(floor((nb) * {HQ_B} + 0.5e0) AS BIGINT)"),
        ],
    ]


HUBER_FINAL = [
    ("n_days", "CAST(COUNT(*) AS BIGINT)"),
    ("w_mass_q6", "CAST(SUM(c0) AS BIGINT)"),
    # exact-int OLS moments for the robust-vs-OLS comparison
    ("sx", "CAST(SUM(CAST(x AS BIGINT)) AS BIGINT)"),
    ("sxx", "CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS BIGINT)"),
    ("sy", "CAST(SUM(CAST(y AS BIGINT)) AS BIGINT)"),
    # sxy has the same quadratic-in-day-span shape as m4 -> decimal
    ("sxy", "CAST(SUM(CAST(CAST(x AS BIGINT) AS DECIMAL(18,0)) * CAST(CAST(y AS BIGINT) AS DECIMAL(18,0))) AS DECIMAL(38,0))"),
]


def _bref_h(q: int | None) -> str:
    # None = empty input (NULL moment sums): splice a typed NULL so the
    # final row matches the oracle's NULL coefficients instead of
    # crashing at int(None) — the logreg._bref discipline (r9 audit)
    if q is None:
        return f"(CAST(NULL AS DOUBLE) / {HQ_B})"
    return f"(CAST({int(q)} AS DOUBLE) / {HQ_B})"


def huber_regression_daily(orders: DataFrame) -> DataFrame:
    """Robust (Huber 1964) linear fit of daily revenue on the day
    index by IRLS — the missing member of the robust-trend family:
    `ols_daily_trend` is efficient but outlier-owned, `theil_sen` is
    robust but slope-only; Huber keeps the full linear model and
    downweights outlier days smoothly (w = 1 inside delta, delta/|r|
    outside; delta = 10% of mean daily revenue, an exact-int-derived
    constant).

    Exactness is the `operators/logreg.py` construction: per-row
    contributions quantize to int64 at mixed scales (1e-6 for the
    weight terms, 1e-2 for the cents-scaled y terms); the y-moment
    SUMS (m3/m4, and the OLS sxy) accumulate in DECIMAL(38,0) because
    the aggregated x*y mass is quadratic in the day span (~n^2/2 *
    ybar * 1e2 — past int64 near sf50-100 on the 2.4k-day TPC-H
    domain; r8 ADVICE), coefficients re-quantize to 1e-4 between
    rounds, and every arithmetic stage is ONE generated expression
    text run verbatim by both engines.

    Output row: (n_days, a_huber, b_huber, a_ols, b_ols,
    eff_weight = mean final Huber weight — the fraction of the data
    the robust fit effectively kept).

    Scale shape: the corpus collapses once to |days| rows
    (localCheckpoint-pinned); ROUNDS passes + the final stats pass run
    on that bounded relation; driver traffic is 2 int64s per round.

    ``daily`` itself feeds the (d0, nn, tt) scalar AND the feature
    build, so un-pinned the orders aggregation ran twice before
    ``feat`` was even materialized; pinning ``daily`` too makes the
    whole query exactly one corpus pass (r10 multi-consumer
    discipline)."""
    # cut: pin measured 1.07 -> 1.22 s at sf0.1 (huber_regression_daily, 0/5 pin wins)
    daily = _daily_revenue(orders).localCheckpoint(eager=True)
    scal = daily.agg(
        F.min("day_idx").cast("long").alias("d0"),
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("cents").cast("long").alias("tt"),
    )
    feat = (
        daily.crossJoin(F.broadcast(scal))  # 1-row scalar broadcast (labeled)
        .selectExpr(
            "CAST(day_idx - d0 AS DOUBLE) AS x",
            "CAST(cents AS DOUBLE) AS y",
            "tt",
            "nn",
        )
        .localCheckpoint(eager=True)  # cut: every Huber round re-reads it
    )
    q = (0, 0)
    for _ in range(HUBER_ROUNDS):
        refs = (_bref_h(q[0]), _bref_h(q[1]))
        cur = feat
        for stage in _huber_row_stages(*refs):
            cur = cur.selectExpr("*", *[f"({e}) AS {a2}" for a2, e in stage])
        cur = cur.selectExpr(*[f"({e}) AS {a2}" for a2, e in HUBER_MOMENTS])
        for stage in _huber_update_stages(*refs):
            cur = cur.selectExpr("*", *[f"({e}) AS {a2}" for a2, e in stage])
        row = cur.selectExpr("aq", "bq").first()
        q = (row["aq"], row["bq"])
    refs = (_bref_h(q[0]), _bref_h(q[1]))
    cur = feat
    for stage in _huber_row_stages(*refs):
        cur = cur.selectExpr("*", *[f"({e}) AS {a2}" for a2, e in stage])
    cur = cur.selectExpr(*[f"({e}) AS {a2}" for a2, e in HUBER_FINAL])
    dd = "CAST({} AS DOUBLE)"
    n, sx, sxx, sy, sxy = (dd.format(c) for c in ("n_days", "sx", "sxx", "sy", "sxy"))
    det_ols = f"nullif({n} * {sxx} - {sx} * {sx}, 0e0)"
    return cur.selectExpr(
        "n_days",
        f"{refs[0]} AS a_huber",
        f"{refs[1]} AS b_huber",
        f"({sxx} * {sy} - {sx} * {sxy}) / {det_ols} AS a_ols",
        f"({n} * {sxy} - {sx} * {sy}) / {det_ols} AS b_ols",
        f"CAST(w_mass_q6 AS DOUBLE) / {HQ_W} / {n} AS eff_weight",
    )


def huber_oracle_sql() -> str:
    """Chained-CTE replica: same stage texts, coefficients carried as
    pbq columns between round CTEs (equal ints -> equal doubles)."""
    oref = (f"(CAST(pbq0 AS DOUBLE) / {HQ_B})", f"(CAST(pbq1 AS DOUBLE) / {HQ_B})")
    ctes = [
        """daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
)""",
        """scal AS (
  SELECT CAST(MIN(day_idx) AS BIGINT) AS d0, CAST(COUNT(*) AS BIGINT) AS nn,
         CAST(SUM(cents) AS BIGINT) AS tt FROM daily
)""",
        """feat AS (
  SELECT CAST(day_idx - d0 AS DOUBLE) AS x, CAST(cents AS DOUBLE) AS y, tt, nn
  FROM daily CROSS JOIN scal
)""",
        "beta_0 AS (SELECT CAST(0 AS BIGINT) AS aq, CAST(0 AS BIGINT) AS bq)",
    ]
    for k in range(1, HUBER_ROUNDS + 1):
        base = f"h{k}_base"
        ctes.append(
            f"{base} AS (SELECT f.*, b.aq AS pbq0, b.bq AS pbq1"
            f" FROM feat f CROSS JOIN beta_{k - 1} b)"
        )
        prev = base
        for si, stage in enumerate(_huber_row_stages(*oref)):
            cols = ", ".join(f"({e}) AS {a2}" for a2, e in stage)
            ctes.append(f"h{k}_r{si} AS (SELECT *, {cols} FROM {prev})")
            prev = f"h{k}_r{si}"
        moments = ", ".join(f"({e}) AS {a2}" for a2, e in HUBER_MOMENTS)
        ctes.append(f"h{k}_m AS (SELECT {moments} FROM {prev})")
        prev = f"h{k}_m"
        for si, stage in enumerate(_huber_update_stages(*oref)):
            cols = ", ".join(f"({e}) AS {a2}" for a2, e in stage)
            ctes.append(f"h{k}_u{si} AS (SELECT *, {cols} FROM {prev})")
            prev = f"h{k}_u{si}"
        ctes.append(f"beta_{k} AS (SELECT aq, bq FROM {prev})")
    ctes.append(
        f"fin_base AS (SELECT f.*, b.aq AS pbq0, b.bq AS pbq1"
        f" FROM feat f CROSS JOIN beta_{HUBER_ROUNDS} b)"
    )
    prev = "fin_base"
    for si, stage in enumerate(_huber_row_stages(*oref)):
        cols = ", ".join(f"({e}) AS {a2}" for a2, e in stage)
        ctes.append(f"fin_r{si} AS (SELECT *, {cols} FROM {prev})")
        prev = f"fin_r{si}"
    final = ", ".join(f"({e}) AS {a2}" for a2, e in HUBER_FINAL)
    ctes.append(f"fin_s AS (SELECT {final} FROM {prev})")
    dd = "CAST({} AS DOUBLE)"
    n, sx, sxx, sy, sxy = (dd.format(c) for c in ("n_days", "sx", "sxx", "sy", "sxy"))
    det_ols = f"nullif({n} * {sxx} - {sx} * {sx}, 0e0)"
    chain = ",\n".join(ctes)
    return f"""WITH {chain}
SELECT s.n_days,
       (CAST(b.aq AS DOUBLE) / {HQ_B}) AS a_huber,
       (CAST(b.bq AS DOUBLE) / {HQ_B}) AS b_huber,
       ({sxx} * {sy} - {sx} * {sxy}) / {det_ols} AS a_ols,
       ({n} * {sxy} - {sx} * {sy}) / {det_ols} AS b_ols,
       CAST(s.w_mass_q6 AS DOUBLE) / {HQ_W} / {n} AS eff_weight
FROM fin_s s CROSS JOIN beta_{HUBER_ROUNDS} b"""
