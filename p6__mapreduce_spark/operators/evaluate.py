"""Exact distributed two-sample / ranking evaluation statistics —
Kolmogorov-Smirnov distance and Mann-Whitney AUC.

Both answer curation questions the binned drift family (PSI, chi-sq)
cannot: KS compares two CONTINUOUS distributions with no binning
choice at all, and AUC scores how well a feature RANKS a binary label
(the evaluation behind every quality-classifier threshold).

Both are functions of order statistics, which usually pushes engines
toward approximation. The exact distributed shape used here:

- collapse to per-DISTINCT-value group counts (one shuffle — the only
  corpus-sized operation);
- one ordered window pass over the distinct-value table for the
  cumulative counts (bounded by |distinct values|, not rows);
- express the statistic in cross-multiplied INTEGER form so no
  division happens until the final row: KS compares
  |c1·n2 − c2·n1| (denominator n1·n2 applied once at the end), AUC
  doubles rank sums so midrank ties stay integral.

Ties are handled exactly: KS evaluates the ECDF difference at each
distinct value (where the sup is attained); AUC uses midranks, the
Mann-Whitney tie convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin


def ks_statistic(
    df: DataFrame, value: Column, in_group1: Column, in_group2: Column
) -> DataFrame:
    """One row: (n1, n2, d_num, at_value, ks) — the exact two-sample
    KS distance sup|F1 − F2| between ``value``'s distributions in two
    row populations. ``d_num`` = max|c1·n2 − c2·n1| (exact int64);
    ``ks`` = d_num/(n1·n2), the single final division; ``at_value`` is
    the smallest value attaining the sup (deterministic tie-break).

    Caller contract: both populations must be non-empty — an empty
    group makes the final ratio 0/0, where Spark yields NULL but
    DuckDB yields NaN (the cross-engine divergence class documented
    at quality_pct_by_source)."""
    tagged = df.select(
        value.alias("v"),
        in_group1.cast("int").alias("g1"),
        in_group2.cast("int").alias("g2"),
    ).filter((F.col("g1") == 1) | (F.col("g2") == 1))
    # |distinct values|-bounded; feeds the totals broadcast AND the
    # cumulative window — unpinned, the corpus aggregation re-ran per
    # consumer (plan audit r10; now ONE corpus pass)
    per_v = pin(
        tagged.groupBy("v").agg(
            F.sum("g1").cast("long").alias("c1"), F.sum("g2").cast("long").alias("c2")
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    totals = per_v.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    cum = per_v.select(
        "v",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    ).crossJoin(F.broadcast(totals))  # 1-row scalar broadcast (labeled)
    diff = cum.select(
        "v",
        "n1",
        "n2",
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias("d"),
    )
    best = diff.orderBy(F.desc("d"), F.asc("v")).limit(1)
    return best.select(
        "n1",
        "n2",
        F.col("d").alias("d_num"),
        F.col("v").alias("at_value"),
        (F.col("d") * F.lit(1.0) / (F.col("n1") * F.col("n2"))).alias("ks"),
    )


def mann_whitney_auc(
    df: DataFrame, score: Column, label: Column
) -> DataFrame:
    """One row: (n_pos, n_neg, u2, auc) — the exact Mann-Whitney AUC
    of ``score`` ranking ``label`` (boolean), midrank tie convention.
    u2 = 2·U (doubled so midranks stay integral); auc = u2/(2·n_pos·
    n_neg), the single final division. AUC 0.5 = uninformative score,
    1.0 = perfect separation. Caller contract: both classes must be
    non-empty (0/0 diverges NULL-vs-NaN across engines — see
    ks_statistic)."""
    tagged = df.select(score.alias("s"), label.cast("int").alias("y"))
    per_s = tagged.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("t"), F.sum("y").cast("long").alias("p")
    )
    w_prev = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    # midrank of the tie group at s = start + (t-1)/2 where start =
    # 1 + (count of strictly smaller scores). Doubled: 2·midrank =
    # 2·start + t − 1; positive contribution = p · (2·start + t − 1).
    ranked = per_s.select(
        "p",
        "t",
        (F.coalesce(F.sum("t").over(w_prev), F.lit(0)) + 1).alias("start"),
    )
    agg = ranked.agg(
        F.sum("p").cast("long").alias("n_pos"),
        (F.sum("t") - F.sum("p")).cast("long").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("start") + F.col("t") - 1)).alias("ranksum2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (F.col("ranksum2") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("u2"),
        # try_divide: an all-one-class corpus has n_pos*n_neg = 0 —
        # DuckDB yields NULL, Spark-ANSI throws; identical otherwise
        F.try_divide(
            (F.col("ranksum2") - F.col("n_pos") * (F.col("n_pos") + 1)) * F.lit(1.0),
            2 * F.col("n_pos") * F.col("n_neg"),
        ).alias("auc"),
    )


KS_EVENTS_ORACLE_SQL = """
WITH tagged AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g2
  FROM events WHERE event_type IN ('purchase', 'click')
), per_v AS (
  SELECT v, CAST(SUM(g1) AS BIGINT) AS c1, CAST(SUM(g2) AS BIGINT) AS c2
  FROM tagged GROUP BY 1
), totals AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM per_v
), cum AS (
  SELECT v,
         CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f2
  FROM per_v
), diff AS (
  SELECT v, n1, n2, abs(f1 * n2 - f2 * n1) AS d FROM cum CROSS JOIN totals
)
SELECT n1, n2, CAST(d AS BIGINT) AS d_num, v AS at_value,
       d * 1.0e0 / (n1 * n2) AS ks
FROM diff ORDER BY d DESC, v ASC LIMIT 1
"""

AUC_DOCS_ORACLE_SQL = """
WITH tagged AS (
  SELECT CAST(n_chars AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), per_s AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(y) AS BIGINT) AS p
  FROM tagged GROUP BY 1
), ranked AS (
  SELECT p, t,
         coalesce(SUM(t) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) + 1 AS start
  FROM per_s
), agg AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(t) - SUM(p) AS BIGINT) AS n_neg,
         CAST(SUM(p * (2 * start + t - 1)) AS BIGINT) AS ranksum2
  FROM ranked
)
SELECT n_pos, n_neg,
       CAST(ranksum2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       (ranksum2 - n_pos * (n_pos + 1)) * 1.0e0 / (2 * n_pos * n_neg) AS auc
FROM agg
"""


def wasserstein1(
    df: DataFrame, value: Column, in_group1: Column, in_group2: Column
) -> DataFrame:
    """One row: (n1, n2, w1_num, w1) — the exact two-sample 1-Wasserstein
    (earth-mover) distance between ``value``'s distributions in two row
    populations: W1 = integral |F1 - F2| dx, the INTEGRAL companion of
    ks_statistic's sup |F1 - F2|. KS sees only the single worst
    vertical gap; W1 weighs every gap by how long (in value units) it
    persists — the drift metric that moves when a distribution's tail
    slides, which KS barely registers and PSI hides inside bin choice.

    Exactness: over the sorted distinct values, the ECDF difference is
    piecewise constant, so W1 = sum over consecutive distinct values v
    of |F1(v) - F2(v)| * (next(v) - v). Cross-multiplying by n1*n2
    keeps everything integer: w1_num = sum |c1*n2 - c2*n1| * gap is an
    exact int64 sum, and w1 = w1_num / (n1*n2) is the single final
    division (in value units). int64 headroom: |c*n| <= n1*n2 and the
    total collapses to n1*n2 * (max-min) in the worst case — fine to
    ~10^9 x 10^9 value-unit products; past that the sum casts to
    decimal(38,0) (same plan).

    Plan shape (shared with ks_statistic): one (value) aggregation of
    the tagged corpus, a cumulative window over the BOUNDED
    distinct-value table, a 1-row totals broadcast, one final 1-row
    aggregation. Caller contract: both populations non-empty
    (ks_statistic's documented NULL/NaN divergence class otherwise).
    """
    tagged = df.select(
        value.alias("v"),
        in_group1.cast("int").alias("g1"),
        in_group2.cast("int").alias("g2"),
    ).filter((F.col("g1") == 1) | (F.col("g2") == 1))
    # |distinct values|-bounded; feeds the totals broadcast AND the
    # cumulative window — unpinned, the corpus aggregation re-ran per
    # consumer (plan audit r10; now ONE corpus pass)
    # cut: pin measured 0.49 -> 0.55 s at sf0.1 (wasserstein_purchase_vs_click, 0/5 pin wins)
    per_v = tagged.groupBy("v").agg(
        F.sum("g1").cast("long").alias("c1"), F.sum("g2").cast("long").alias("c2")
    ).localCheckpoint(eager=True)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("v")
    totals = per_v.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    cum = per_v.select(
        "v",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        F.lead("v").over(w_next).alias("v_next"),
    ).crossJoin(F.broadcast(totals))  # 1-row scalar broadcast (labeled)
    terms = cum.filter(F.col("v_next").isNotNull()).select(
        (
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
            * (F.col("v_next") - F.col("v"))
        ).alias("t"),
    )
    # global agg (not groupBy) so a degenerate input with ONE distinct
    # value — no consecutive-value gaps — still yields the W1 = 0 row
    s = terms.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("w1_num"))
    return s.crossJoin(F.broadcast(totals)).select(
        "n1",
        "n2",
        "w1_num",
        (F.col("w1_num").cast("double") / (F.col("n1") * F.col("n2"))).alias("w1"),
    )


W1_EVENTS_ORACLE_SQL = """
WITH tagged AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g2
  FROM events WHERE event_type IN ('purchase', 'click')
), per_v AS (
  SELECT v, CAST(SUM(g1) AS BIGINT) AS c1, CAST(SUM(g2) AS BIGINT) AS c2
  FROM tagged GROUP BY 1
), totals AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM per_v
), cum AS (
  SELECT v,
         CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f2,
         LEAD(v) OVER (ORDER BY v) AS v_next
  FROM per_v
), terms AS (
  SELECT abs(f1 * n2 - f2 * n1) * (v_next - v) AS t
  FROM cum CROSS JOIN totals WHERE v_next IS NOT NULL
), s AS (
  SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS w1_num FROM terms
)
SELECT n1, n2, w1_num,
       CAST(w1_num AS DOUBLE) / (n1 * n2) AS w1
FROM s CROSS JOIN totals
"""


def roc_curve_points(
    df: DataFrame, score, positive, *, max_points: int = 200
) -> DataFrame:
    """The full ROC curve of an integer score ranking a binary label —
    the curve whose area `mann_whitney_auc` reports as one scalar
    (AUC answers "is the score any good"; the CURVE answers "where do
    I put the keep/drop threshold", which is what a quality-filter
    rollout actually needs).

    At each distinct score value t (predicting positive when
    score >= t): exact integer TP/FP/FN/TN from ONE cumulative window
    over the bounded distinct-value relation (the Spearman midrank
    discipline — the corpus is aggregated once, never sorted), then
    tpr/fpr/precision as final ratio doubles. When the score domain
    exceeds ``max_points`` distinct values, thresholds are decimated
    deterministically (every ceil(D/max_points)-th in rank order) so
    the output stays bounded at any scale; nothing else changes.

    Scale shape: one groupBy over the corpus to the value table,
    windows + ratios on that bounded relation."""
    from pyspark.sql import Window

    vt = (
        df.select(score.alias("thr"), positive.cast("long").alias("y"))
        .groupBy("thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    w_desc = Window.orderBy(F.col("thr").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = vt.select(
        "thr",
        F.sum("pos").over(w_desc).cast("long").alias("tp"),
        (F.sum("n").over(w_desc) - F.sum("pos").over(w_desc))
        .cast("long")
        .alias("fp"),
        F.sum("pos").over(w_all).cast("long").alias("p_tot"),
        (F.sum("n").over(w_all) - F.sum("pos").over(w_all))
        .cast("long")
        .alias("n_tot"),
        F.row_number()
        .over(Window.orderBy(F.col("thr").desc()))
        .cast("long")
        .alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_thr"),
    )
    step = F.expr(f"CAST(ceil(CAST(n_thr AS DOUBLE) / {int(max_points)}.0e0) AS BIGINT)")
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        cum.withColumn("step", step)
        .filter((F.col("rk") % F.col("step")) == 0)
        .select(
            "thr",
            "tp",
            "fp",
            (F.col("p_tot") - F.col("tp")).alias("fn"),
            (F.col("n_tot") - F.col("fp")).alias("tn"),
            # try_divide: a one-class corpus has p_tot or n_tot = 0 —
            # DuckDB yields NULL, Spark-ANSI throws; identical otherwise
            F.try_divide(dd("tp"), dd("p_tot")).alias("tpr"),
            F.try_divide(dd("fp"), dd("n_tot")).alias("fpr"),
            F.when(
                (F.col("tp") + F.col("fp")) > 0,
                dd("tp") / (dd("tp") + dd("fp")),
            ).alias("precision"),
        )
        .orderBy(F.col("thr").desc())
    )


ROC_ORACLE_SQL = """
WITH vt AS (
  SELECT {score} AS thr, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN {positive} THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM {table} GROUP BY 1
), cum AS (
  SELECT thr,
         CAST(SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
         CAST(SUM(pos) OVER () AS BIGINT) AS p_tot,
         CAST(SUM(n) OVER () - SUM(pos) OVER () AS BIGINT) AS n_tot,
         CAST(ROW_NUMBER() OVER (ORDER BY thr DESC) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_thr
  FROM vt
)
SELECT thr, tp, fp, p_tot - tp AS fn, n_tot - fp AS tn,
       CAST(tp AS DOUBLE) / CAST(p_tot AS DOUBLE) AS tpr,
       CAST(fp AS DOUBLE) / CAST(n_tot AS DOUBLE) AS fpr,
       CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) END AS precision
FROM (SELECT *, CAST(ceil(CAST(n_thr AS DOUBLE) / {max_points}.0e0) AS BIGINT) AS step FROM cum)
WHERE rk % step = 0
ORDER BY thr DESC
"""


def roc_oracle_sql(
    table: str = "documents",
    score: str = "n_chars",
    positive: str = "lang = 'en'",
    max_points: int = 200,
) -> str:
    return ROC_ORACLE_SQL.format(
        table=table, score=score, positive=positive, max_points=max_points
    )
