"""Experimentation / causal-inference primitives: stratified IPW
uplift, CUPED variance reduction, score-calibration bins.

The three queries every A/B-test platform materializes nightly:

* ``ipw_uplift_by_segment`` — stratified inverse-propensity-weighted
  treatment-effect table. With the propensity estimated per stratum
  (e_s = n_treated/n), the IPW estimator is algebraically the
  stratified difference-in-means, so the whole thing is ONE
  aggregation over exact integer sums — no per-row weights ever
  materialize, which is exactly how you'd want it at 100 TB.
* ``cuped_adjusted_lift`` — CUPED (Deng et al., WSDM 2013, public):
  regress the experiment metric on a pre-period covariate, subtract
  theta·(X − X̄) per arm, report raw vs adjusted lift. The corpus
  collapses to one (Σx, Σy, Σxy, Σx², per-arm sums) row — five exact
  BIGINT moments; only the final theta/lift ratios are float64 with
  expression trees mirrored token-for-token in the oracle.
* ``calibration_bins`` — reliability diagram: fixed-width score bins
  (NOT ntile — a global ntile is a single-partition sort at corpus
  scale; fixed bins are map-side) vs realized outcome rate.

Exactness: cents/dollar quantization before any sum; Σxy on DOLLAR
ints stays inside int64 through ~sf1000 (sf0.1 measures per-user
x ≈ 1.7e3 dollars → n·Σxy ≈ 6e12; linear-quadratic in scale); the
final ratios CAST every BIGINT to DOUBLE first in BOTH engines so
the IEEE op sequence is identical, hence bit-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TREATED_PRIORITIES = ("1-URGENT", "2-HIGH")


def ipw_uplift_by_segment(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-market-segment uplift of order value under the 'expedited
    priority' pseudo-treatment, with the stratum propensity.

    One join (orders→customer on the key, Catalyst picks the
    strategy), one aggregation. All sums exact cents; the four
    output ratios are final float64 divisions.
    """
    t = F.col("o_orderpriority").isin(*TREATED_PRIORITIES).cast("long")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    agg = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(t).cast("long").alias("n_treated"),
            F.sum(t * cents).cast("long").alias("sum_t_cents"),
            F.sum((1 - t) * cents).cast("long").alias("sum_c_cents"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # degenerate strata (an arm with zero members) yield NULL, not
    # 0/0 — Spark's non-ANSI division and DuckDB disagree on x/0.0,
    # so the guard is explicit in BOTH engines
    has_t = F.col("n_treated") > 0
    has_c = F.col("n_treated") < F.col("n")
    mean_t = F.when(has_t, d("sum_t_cents") / d("n_treated") / F.lit(100.0))
    mean_c = F.when(has_c, d("sum_c_cents") / (d("n") - d("n_treated")) / F.lit(100.0))
    return (
        agg.select(
            "segment",
            "n",
            "n_treated",
            (d("n_treated") / d("n")).alias("propensity"),
            mean_t.alias("mean_treated"),
            mean_c.alias("mean_control"),
            F.when(has_t & has_c, mean_t - mean_c).alias("uplift"),
        )
        .orderBy("segment")
    )


IPW_UPLIFT_ORACLE_SQL = """
WITH agg AS (
  SELECT c_mktsegment AS segment,
         COUNT(*) AS n,
         CAST(SUM(t) AS BIGINT) AS n_treated,
         CAST(SUM(t * cents) AS BIGINT) AS sum_t_cents,
         CAST(SUM((1 - t) * cents) AS BIGINT) AS sum_c_cents
  FROM (
    SELECT c_mktsegment,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS t,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders JOIN customer ON o_custkey = c_custkey
  ) GROUP BY 1
)
SELECT segment, n, n_treated,
       CAST(n_treated AS DOUBLE) / CAST(n AS DOUBLE) AS propensity,
       CASE WHEN n_treated > 0
            THEN CAST(sum_t_cents AS DOUBLE) / CAST(n_treated AS DOUBLE) / 100.0 END AS mean_treated,
       CASE WHEN n_treated < n
            THEN CAST(sum_c_cents AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(n_treated AS DOUBLE)) / 100.0 END AS mean_control,
       CASE WHEN n_treated > 0 AND n_treated < n
            THEN CAST(sum_t_cents AS DOUBLE) / CAST(n_treated AS DOUBLE) / 100.0
               - CAST(sum_c_cents AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(n_treated AS DOUBLE)) / 100.0 END AS uplift
FROM agg ORDER BY segment
"""


def cuped_adjusted_lift(
    events: DataFrame, *, cutoff: str = "2024-01-16"
) -> DataFrame:
    """One-row CUPED report over the event stream.

    Pre-period covariate x = a user's total event value (whole
    dollars, floor of the exact cent sum) before ``cutoff``; metric
    y = the same after. Arm assignment is ``user_id % 2`` (a
    deterministic, engine-portable stand-in for the experiment's
    bucketing hash). theta = cov(x,y)/var(x) over ALL users; each
    arm's adjusted mean subtracts theta·(x̄_arm − x̄).
    """
    cents = F.round(F.col("value") * 100).cast("long")
    pre = F.when(F.col("ts") < F.lit(cutoff).cast("timestamp"), cents).otherwise(
        F.lit(0)
    )
    post = F.when(F.col("ts") >= F.lit(cutoff).cast("timestamp"), cents).otherwise(
        F.lit(0)
    )
    per_user = events.groupBy("user_id").agg(
        F.floor(F.sum(pre) / 100).cast("long").alias("x"),
        F.floor(F.sum(post) / 100).cast("long").alias("y"),
    )
    arm = (F.col("user_id") % 2 == 1).cast("long")
    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(arm).cast("long").alias("n_t"),
        F.sum(arm * F.col("x")).cast("long").alias("sx_t"),
        F.sum(arm * F.col("y")).cast("long").alias("sy_t"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # guards: zero pre-period variance (theta undefined) or an empty
    # arm yield NULL identically in both engines, never 0/0
    ok = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (F.col("n_t") > 0)
        & (F.col("n_t") < F.col("n"))
    )
    theta = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    n_c = d("n") - d("n_t")
    mean_x = d("sx") / d("n")
    raw_t = d("sy_t") / d("n_t")
    raw_c = (d("sy") - d("sy_t")) / n_c
    adj_t = raw_t - theta * (d("sx_t") / d("n_t") - mean_x)
    adj_c = raw_c - theta * ((d("sx") - d("sx_t")) / n_c - mean_x)
    return m.select(
        "n",
        "n_t",
        F.when(ok, theta).alias("theta"),
        F.when(ok, raw_t - raw_c).alias("lift_raw"),
        F.when(ok, adj_t - adj_c).alias("lift_cuped"),
    )


CUPED_ORACLE_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(floor(SUM(CASE WHEN ts <  TIMESTAMP '{cutoff}' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) / 100) AS BIGINT) AS x,
         CAST(floor(SUM(CASE WHEN ts >= TIMESTAMP '{cutoff}' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) / 100) AS BIGINT) AS y
  FROM events GROUP BY 1
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_t,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_t
  FROM per_user
)
SELECT n, n_t,
  CASE WHEN n*sxx - sx*sx > 0 AND n_t > 0 AND n_t < n THEN
    (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) END AS theta,
  CASE WHEN n*sxx - sx*sx > 0 AND n_t > 0 AND n_t < n THEN
    CAST(sy_t AS DOUBLE)/CAST(n_t AS DOUBLE)
      - (CAST(sy AS DOUBLE)-CAST(sy_t AS DOUBLE))/(CAST(n AS DOUBLE)-CAST(n_t AS DOUBLE)) END AS lift_raw,
  CASE WHEN n*sxx - sx*sx > 0 AND n_t > 0 AND n_t < n THEN
    (CAST(sy_t AS DOUBLE)/CAST(n_t AS DOUBLE)
       - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
         * (CAST(sx_t AS DOUBLE)/CAST(n_t AS DOUBLE) - CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)))
    - ((CAST(sy AS DOUBLE)-CAST(sy_t AS DOUBLE))/(CAST(n AS DOUBLE)-CAST(n_t AS DOUBLE))
       - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
         * ((CAST(sx AS DOUBLE)-CAST(sx_t AS DOUBLE))/(CAST(n AS DOUBLE)-CAST(n_t AS DOUBLE)) - CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)))
  END AS lift_cuped
FROM m
"""


def calibration_bins(
    events: DataFrame, *, bin_width: float = 50.0, n_bins: int = 10
) -> DataFrame:
    """Reliability diagram over fixed-width value bins: does a higher
    event value actually predict a purchase? Map-side binning (no
    global sort, unlike ntile), one aggregation. mean_value and
    purchase_rate are final float divisions over exact sums."""
    bin_id = F.least(
        F.floor(F.col("value") / F.lit(bin_width)).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    hit = (F.col("event_type") == "purchase").cast("long")
    agg = (
        events.groupBy(bin_id.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("sum_cents"),
            F.sum(hit).cast("long").alias("purchases"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        agg.select(
            "bin",
            "n",
            "purchases",
            (d("sum_cents") / d("n") / F.lit(100.0)).alias("mean_value"),
            (d("purchases") / d("n")).alias("purchase_rate"),
        )
        .orderBy("bin")
    )


CALIBRATION_ORACLE_SQL = """
WITH agg AS (
  SELECT LEAST(CAST(floor(value / {bin_width}) AS BIGINT), {n_bins} - 1) AS bin,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
  FROM events GROUP BY 1
)
SELECT bin, n, purchases,
       CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_value,
       CAST(purchases AS DOUBLE) / CAST(n AS DOUBLE) AS purchase_rate
FROM agg ORDER BY bin
"""


def isotonic_calibration(events: DataFrame, *, max_bin: int = 12) -> DataFrame:
    """Exact isotonic (PAV) calibration of purchase propensity against
    same-day click activity: the monotone regression a reliability
    diagram (``calibration_bins``) motivates.

    The unit is a (user, day) exposure: score = clicks that day
    (capped), label = purchased that day — a unit with real rate
    variation (per-user lifetime labels saturate at 1 on this schema).

    Instead of the sequential pool-adjacent-violators sweep (a
    driver-side loop), the fit uses PAV's minimax closed form
    (Robertson-Wright-Dykstra 1988, eq. 1.9):

        iso(i) = max_{j<=i} min_{k>=i} mean(y over bins j..k)

    which is pure relational algebra ON THE BOUNDED BIN TABLE: one
    corpus-sized user aggregation, a <= (max_bin+1)-row bin relation,
    then prefix sums + an O(B^3) triangle join over B bins (~30k tiny
    rows at B = 31, constant in the corpus size). Pooled means are
    int64-sum ratios — one division per (j,k) pair, identical in both
    engines, so min/max comparisons see bit-identical doubles.

    Scale shape: the only corpus-sized stage is the per-user groupBy;
    everything after runs on B rows regardless of corpus size. The
    monotone fit itself is what a quality-score -> keep-rate policy
    ships: iso_rate is the calibrated P(purchase | activity >= never
    decreasing), immune to the empirical rate's bin noise."""
    per_ud = events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.least(
            F.sum((F.col("event_type") == "click").cast("long")), F.lit(int(max_bin))
        ).alias("b"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    # cut: pin measured 0.55 -> 0.68 s at sf0.1 (isotonic_calibration, 0/5 pin wins)
    bins = (
        per_ud.groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").cast("long").alias("s"))
        .localCheckpoint(eager=True)  # the triangle join fans out of this tiny relation
    )
    from pyspark.sql import Window

    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "b",
        "n",
        "s",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("s").over(w).cast("long").alias("cs"),
    )
    j = pre.select(
        F.col("b").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cn0"),
        (F.col("cs") - F.col("s")).alias("cs0"),
    )
    k = pre.select(F.col("b").alias("kb"), "cn", "cs")
    pair_avg = (F.col("cs") - F.col("cs0")) * F.lit(1.0) / (F.col("cn") - F.col("cn0"))
    pairs = j.crossJoin(k).filter(F.col("jb") <= F.col("kb")).select(
        "jb", "kb", pair_avg.alias("avg_jk")
    )
    i = bins.select(F.col("b").alias("ib"))
    iso = (
        pairs.crossJoin(i)
        .filter((F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")))
        .groupBy("ib", "jb")
        .agg(F.min("avg_jk").alias("m"))
        .groupBy("ib")
        .agg(F.max("m").alias("iso_rate"))
    )
    return (
        bins.join(iso, bins["b"] == iso["ib"])
        .select(
            "b",
            F.col("n").alias("n_users"),
            F.col("s").alias("n_purchasers"),
            (F.col("s") * F.lit(1.0) / F.col("n")).alias("emp_rate"),
            "iso_rate",
        )
        .orderBy("b")
    )


ISOTONIC_ORACLE_SQL = """
WITH per_ud AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         LEAST(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT),
               {max_bin}) AS b,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1, 2
), bins AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
  FROM per_ud GROUP BY 1
), pre AS (
  SELECT b, n, s,
         CAST(SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
         CAST(SUM(s) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
  FROM bins
), pairs AS (
  SELECT j.b AS jb, k.b AS kb,
         (k.cs - (j.cs - j.s)) * 1.0e0 / (k.cn - (j.cn - j.n)) AS avg_jk
  FROM pre j CROSS JOIN pre k WHERE j.b <= k.b
), iso AS (
  SELECT ib, MAX(m) AS iso_rate FROM (
    SELECT i.b AS ib, p.jb, MIN(p.avg_jk) AS m
    FROM pairs p CROSS JOIN bins i
    WHERE p.jb <= i.b AND p.kb >= i.b
    GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT bins.b, bins.n AS n_users, bins.s AS n_purchasers,
       bins.s * 1.0e0 / bins.n AS emp_rate, iso.iso_rate
FROM bins JOIN iso ON bins.b = iso.ib
ORDER BY bins.b
"""


def isotonic_oracle_sql(max_bin: int = 12) -> str:
    return ISOTONIC_ORACLE_SQL.format(max_bin=max_bin)


def logrank_test_conversion(events: DataFrame) -> DataFrame:
    """Two-sample log-rank test (Mantel-Cox 1966): do high-value
    users (per-user total event value above the at-risk population
    mean — an exact integer cross-multiplied compare, no float mean)
    convert (first view -> first purchase) on a different survival
    curve than the rest? The hypothesis test that belongs ON TOP of
    `kaplan_meier_conversion`'s curve — KM describes, log-rank
    decides. (A "has event X" grouping saturates on this schema —
    every active user has every type — so the split is a value
    scalar.)

    Same censoring frame as the KM query (never-converting users
    right-censored at the observation end). At each distinct event
    time t the observed group-1 events O1 accumulate exactly (int64),
    while the hypergeometric expectation and variance terms

        E1_t = d_t * n1_t / n_t
        V_t  = d_t * (n1_t/n_t) * (1 - n1_t/n_t) * (n_t - d_t)/(n_t - 1)

    are ratios of exact int64 risk-set counts, quantized to 1e-9 ints
    PER TERM and integer-summed (the KM ln-q9 discipline), so both
    engines agree bit-for-bit; chi2 = (O1 - E1)^2 / V and the
    Mantel-Haenszel hazard ratio (O1/E1)/((D - O1)/(D - E1)) are final
    fixed-shape double expressions.

    Scale shape: the corpus collapses to one row per user, then one
    row per (duration, group) — every window runs over a days-bounded
    relation."""
    from pyspark.sql import Window

    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("tot_cents"),
    )
    converted = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase") >= F.col("first_view")
    )
    # The per-user survival frame feeds pop, durations -> steps and
    # sizes — without a pin each consumer re-runs the corpus-sized
    # per-user aggregation (plan audit r10: 14 events scans in one
    # query). Pin it once: ONE corpus pass builds the |users|-bounded
    # frame (the KM table every survival pipeline materializes), and
    # everything after runs over it.
    # cut: pin measured 0.97 -> 1.26 s at sf0.1 (logrank_test_conversion, 0/5 pin wins)
    dur0 = per_user.filter(F.col("first_view").isNotNull()).select(
        F.when(
            converted,
            F.datediff(
                F.col("first_purchase").cast("date"), F.col("first_view").cast("date")
            ),
        )
        .otherwise(
            F.datediff(
                F.lit("2024-02-01").cast("date"), F.col("first_view").cast("date")
            )
        )
        .alias("t_days"),
        converted.cast("long").alias("converted"),
        "tot_cents",
    ).localCheckpoint(eager=True)
    pop = dur0.agg(
        F.count(F.lit(1)).cast("long").alias("n_u"),
        F.sum("tot_cents").cast("long").alias("s_cents"),
    )
    durations = dur0.crossJoin(F.broadcast(pop)).select(
        "t_days",
        "converted",
        (F.col("tot_cents") * F.col("n_u") > F.col("s_cents"))
        .cast("long")
        .alias("g"),
    )
    # |days| x 2 bounded; feeds the grid's three branches + risk_g —
    # pin so the user-bounded aggregation above it runs once
    # cut: pin measured 0.97 -> 1.26 s at sf0.1 (logrank_test_conversion, 0/5 pin wins)
    steps = durations.groupBy("t_days", "g").agg(
        F.sum("converted").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    ).localCheckpoint(eager=True)
    # a group with no departures at time t still has members AT RISK
    # there — expand to the full (distinct time) x (group) grid before
    # the cumulative windows (bounded: |days| x 2)
    grid = (
        steps.select("t_days")
        .distinct()
        .crossJoin(steps.select("g").distinct())
        .join(steps, ["t_days", "g"], "left")
        .na.fill({"d": 0, "leaving": 0})
    )
    wg = (
        Window.partitionBy("g")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_g = Window.partitionBy("g")
    risk_g = grid.select(
        "t_days",
        "g",
        "d",
        (
            F.sum("leaving").over(tot_g)
            - F.coalesce(F.sum("leaving").over(wg), F.lit(0))
        )
        .cast("long")
        .alias("n_g"),
    )
    # group-1 side joined against the per-time totals (both bounded)
    tots = risk_g.groupBy("t_days").agg(
        F.sum("d").cast("long").alias("d_t"), F.sum("n_g").cast("long").alias("n_t")
    )
    g1 = risk_g.filter(F.col("g") == 1).select(
        "t_days", F.col("d").alias("d1"), F.col("n_g").alias("n1")
    )
    terms = (
        tots.join(g1, "t_days", "left")
        .na.fill({"d1": 0, "n1": 0})
        .filter((F.col("d_t") > 0) & (F.col("n_t") > 1))
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    e1_term = dd("d_t") * dd("n1") / dd("n_t")
    v_term = (
        dd("d_t")
        * (dd("n1") / dd("n_t"))
        * (F.lit(1.0) - dd("n1") / dd("n_t"))
        * ((dd("n_t") - dd("d_t")) / (dd("n_t") - F.lit(1.0)))
    )
    q9 = lambda c: F.floor(c * F.lit(1.0e9) + F.lit(0.5)).cast("long")  # noqa: E731
    m = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d_t").cast("long").alias("d_tot"),
        F.sum(q9(e1_term)).cast("long").alias("e1_q9"),
        F.sum(q9(v_term)).cast("long").alias("v_q9"),
    )
    sizes = durations.groupBy().agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("n_users_g0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n_users_g1"),
    )
    e1 = dd("e1_q9") / F.lit(1.0e9)
    v = dd("v_q9") / F.lit(1.0e9)
    # degenerate-split guards (one group empty): both engines emit NULL
    # instead of Spark ANSI div-by-zero vs DuckDB NaN
    chi2 = F.when(
        F.col("v_q9") > 0, (dd("o1") - e1) * (dd("o1") - e1) / v
    )
    hr = F.when(
        (F.col("e1_q9") > 0)
        & (F.col("o1") < F.col("d_tot"))
        & (F.col("e1_q9") < F.col("d_tot") * F.lit(1000000000)),
        (dd("o1") / e1) / ((dd("d_tot") - dd("o1")) / (dd("d_tot") - e1)),
    )
    return m.crossJoin(F.broadcast(sizes)).select(
        "n_users_g0",
        "n_users_g1",
        "o1",
        "d_tot",
        "e1_q9",
        "v_q9",
        e1.alias("e1"),
        chi2.alias("chi2"),
        hr.alias("hazard_ratio"),
    )


LOGRANK_ORACLE_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot_cents
  FROM events GROUP BY 1
), dur0 AS (
  SELECT CASE WHEN first_purchase IS NOT NULL AND first_purchase >= first_view
              THEN date_diff('day', first_view, first_purchase)
              ELSE date_diff('day', first_view, TIMESTAMP '2024-02-01') END AS t_days,
         CASE WHEN first_purchase IS NOT NULL AND first_purchase >= first_view
              THEN 1 ELSE 0 END AS converted,
         tot_cents
  FROM per_user WHERE first_view IS NOT NULL
), pop AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_u, CAST(SUM(tot_cents) AS BIGINT) AS s_cents
  FROM dur0
), durations AS (
  SELECT t_days, converted,
         CASE WHEN tot_cents * n_u > s_cents THEN 1 ELSE 0 END AS g
  FROM dur0 CROSS JOIN pop
), steps AS (
  SELECT t_days, g, CAST(SUM(converted) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM durations GROUP BY 1, 2
), grid AS (
  SELECT tt.t_days, gg.g, COALESCE(s.d, 0) AS d, COALESCE(s.leaving, 0) AS leaving
  FROM (SELECT DISTINCT t_days FROM steps) tt
  CROSS JOIN (SELECT DISTINCT g FROM steps) gg
  LEFT JOIN steps s ON s.t_days = tt.t_days AND s.g = gg.g
), risk_g AS (
  SELECT t_days, g, d,
         CAST(SUM(leaving) OVER (PARTITION BY g)
              - COALESCE(SUM(leaving) OVER (PARTITION BY g ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_g
  FROM grid
), tots AS (
  SELECT t_days, CAST(SUM(d) AS BIGINT) AS d_t, CAST(SUM(n_g) AS BIGINT) AS n_t
  FROM risk_g GROUP BY 1
), terms AS (
  SELECT t.t_days, t.d_t, t.n_t,
         COALESCE(g1.d, 0) AS d1, COALESCE(g1.n_g, 0) AS n1
  FROM tots t LEFT JOIN (SELECT t_days, d, n_g FROM risk_g WHERE g = 1) g1
    ON g1.t_days = t.t_days
  WHERE t.d_t > 0 AND t.n_t > 1
), m AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(d_t) AS BIGINT) AS d_tot,
         CAST(SUM(CAST(floor(CAST(d_t AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n_t AS DOUBLE)
               * 1.0e9 + 0.5e0) AS BIGINT)) AS BIGINT) AS e1_q9,
         CAST(SUM(CAST(floor(CAST(d_t AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n_t AS DOUBLE))
               * (1.0e0 - CAST(n1 AS DOUBLE) / CAST(n_t AS DOUBLE))
               * ((CAST(n_t AS DOUBLE) - CAST(d_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0e0))
               * 1.0e9 + 0.5e0) AS BIGINT)) AS BIGINT) AS v_q9
  FROM terms
), sizes AS (
  SELECT CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_g0,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_g1
  FROM durations
)
SELECT s.n_users_g0, s.n_users_g1, m.o1, m.d_tot, m.e1_q9, m.v_q9,
       CAST(m.e1_q9 AS DOUBLE) / 1.0e9 AS e1,
       CASE WHEN m.v_q9 > 0 THEN
         (CAST(m.o1 AS DOUBLE) - CAST(m.e1_q9 AS DOUBLE) / 1.0e9)
           * (CAST(m.o1 AS DOUBLE) - CAST(m.e1_q9 AS DOUBLE) / 1.0e9)
           / (CAST(m.v_q9 AS DOUBLE) / 1.0e9) END AS chi2,
       CASE WHEN m.e1_q9 > 0 AND m.o1 < m.d_tot AND m.e1_q9 < m.d_tot * 1000000000 THEN
         (CAST(m.o1 AS DOUBLE) / (CAST(m.e1_q9 AS DOUBLE) / 1.0e9))
           / ((CAST(m.d_tot AS DOUBLE) - CAST(m.o1 AS DOUBLE))
              / (CAST(m.d_tot AS DOUBLE) - CAST(m.e1_q9 AS DOUBLE) / 1.0e9)) END AS hazard_ratio
FROM m CROSS JOIN sizes s
"""


Z_ALPHA = "1.959963984540054e0"  # Phi^-1(0.975) — two-sided alpha 0.05
Z_POWER = "0.8416212335729143e0"  # Phi^-1(0.8) — power 0.8
REL_MDE = "5.0e-2"  # sizing target: detect a 5% relative lift


def ab_power_mde(events: DataFrame) -> DataFrame:
    """Experiment power analysis over the (user, day) exposure unit:
    for each event type as the primary conversion metric, the minimal
    detectable ABSOLUTE and RELATIVE effect at the observed sample
    size (two-sided alpha = 0.05, power = 0.8, 50/50 split), and the
    per-arm sample size a 5%-relative-lift experiment would need —
    the pre-registration numbers the uplift suite (ipw/cuped/wilson)
    assumes someone computed:

        MDE_abs = (z_a + z_b) * sqrt(2 p (1-p) / n_arm)
        n_arm   = 2 (z_a + z_b)^2 p (1-p) / (rel * p)^2

    The z quantiles are fixed public constants embedded as identical
    literals in both engines; p and n are exact int64 counts from ONE
    corpus aggregation, so every output is a fixed-shape double over
    exact ints.

    Scale shape: one (user, day) collapse (the corpus-sized stage),
    one 5-row per-type aggregate, map-side expressions after."""
    per_ud = events.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        *[
            F.max((F.col("event_type") == t).cast("long")).alias(f"has_{t}")
            for t in ("view", "click", "purchase", "signup", "error")
        ]
    )
    # ONE aggregation computes the shared unit count and all five hit
    # sums (the per-type UNION ALL re-ran the corpus-sized (user, day)
    # collapse five times — plan audit r10: 5 events scans); the 1-row
    # result explodes into the same 5-row (metric, n_units, n_hits)
    # relation. n_units is COUNT(*) of per_ud either way.
    one = per_ud.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        *[
            F.sum(f"has_{t}").cast("long").alias(f"hits_{t}")
            for t in ("view", "click", "purchase", "signup", "error")
        ],
    )
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("metric"),
                        F.col("n_units").alias("n_units"),
                        F.col(f"hits_{t}").alias("n_hits"),
                    )
                    for t in ("view", "click", "purchase", "signup", "error")
                ]
            )
        ).alias("r")
    ).select("r.metric", "r.n_units", "r.n_hits")
    p = F.col("n_hits").cast("double") / F.col("n_units").cast("double")
    z = F.expr(Z_ALPHA) + F.expr(Z_POWER)
    n_arm = F.col("n_units").cast("double") / F.lit(2.0)
    mde_abs = z * F.sqrt(F.lit(2.0) * p * (F.lit(1.0) - p) / n_arm)
    n_needed = (
        F.lit(2.0)
        * z
        * z
        * p
        * (F.lit(1.0) - p)
        / ((F.expr(REL_MDE) * p) * (F.expr(REL_MDE) * p))
    )
    # zero-rate guard (a metric with no hits has no relative scale):
    # both engines emit NULL instead of Spark ANSI divide-by-zero
    has = F.col("n_hits") > 0
    return rows.select(
        "metric",
        "n_units",
        "n_hits",
        p.alias("p_base"),
        mde_abs.alias("mde_abs"),
        F.when(has, mde_abs / p).alias("mde_rel"),
        F.when(has, F.ceil(n_needed).cast("long")).alias("n_arm_for_5pct_rel"),
    ).orderBy("metric")


AB_POWER_ORACLE_SQL = f"""
WITH per_ud AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error
  FROM events GROUP BY 1, 2
), m AS (
  SELECT 'view' AS metric, CAST(COUNT(*) AS BIGINT) AS n_units, CAST(SUM(has_view) AS BIGINT) AS n_hits FROM per_ud
  UNION ALL
  SELECT 'click', CAST(COUNT(*) AS BIGINT), CAST(SUM(has_click) AS BIGINT) FROM per_ud
  UNION ALL
  SELECT 'purchase', CAST(COUNT(*) AS BIGINT), CAST(SUM(has_purchase) AS BIGINT) FROM per_ud
  UNION ALL
  SELECT 'signup', CAST(COUNT(*) AS BIGINT), CAST(SUM(has_signup) AS BIGINT) FROM per_ud
  UNION ALL
  SELECT 'error', CAST(COUNT(*) AS BIGINT), CAST(SUM(has_error) AS BIGINT) FROM per_ud
)
SELECT metric, n_units, n_hits,
       CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE) AS p_base,
       ({Z_ALPHA} + {Z_POWER}) * sqrt(2.0e0 * (CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))
         * (1.0e0 - CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))
         / (CAST(n_units AS DOUBLE) / 2.0e0)) AS mde_abs,
       CASE WHEN n_hits > 0 THEN
         ({Z_ALPHA} + {Z_POWER}) * sqrt(2.0e0 * (CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))
           * (1.0e0 - CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))
           / (CAST(n_units AS DOUBLE) / 2.0e0))
           / (CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE)) END AS mde_rel,
       CASE WHEN n_hits > 0 THEN
         CAST(ceil(2.0e0 * ({Z_ALPHA} + {Z_POWER}) * ({Z_ALPHA} + {Z_POWER})
           * (CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))
           * (1.0e0 - CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))
           / (({REL_MDE} * (CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE)))
              * ({REL_MDE} * (CAST(n_hits AS DOUBLE) / CAST(n_units AS DOUBLE))))) AS BIGINT) END AS n_arm_for_5pct_rel
FROM m ORDER BY metric
"""
