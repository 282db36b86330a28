"""Exact Spearman rank correlation (midranks, tie-correct) beside
Pearson — the monotone-association diagnostic.

Pearson (``qty_discount_corr``) measures LINEAR association and is
wrecked by heavy tails; Spearman is Pearson on the rank transform —
the robust screen for "does activity buy value at all" before any
model assumes a shape. The classic pitfall at scale is the rank
itself (a global sort window); here ranks come tie-correct and
shuffle-cheap from the value-count decomposition:

    midrank(v) = #(values < v) + (#(values = v) + 1) / 2

so ranking needs only a groupBy over the DISTINCT values of each
variable (a bounded table), one cumulative window over that bounded
table, and a broadcast join back — the corpus is never sorted. Both
2*midranks are integers; every moment (Sigma rx, Sigma rx^2,
Sigma rx*ry, ...) is an exact int64 sum, and the two correlations are
single fixed-shape double expressions mirrored in the oracle, hence
bit-reproducible. int64 headroom: Sigma (2r)^2 <= 4n^3 — fine to
~n = 10^6 groups; past that the moment casts move to decimal(38,0)
(same plan shape).

Applied here: per-user event count (x) vs total event value in exact
cents (y) over the events table — one user-keyed aggregation (the
only corpus-sized shuffle), then everything runs on |users| rows and
two |distinct value| tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin


def _midrank2(per_key: DataFrame, col: str, out: str) -> DataFrame:
    """(col, out): 2 * midrank of each distinct value of ``col`` —
    integer-exact, computed on the bounded distinct-value table (the
    unpartitioned cumulative window runs over |distinct values| rows,
    never the corpus)."""
    vt = per_key.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
    return vt.select(
        col,
        (
            F.lit(2) * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + F.lit(1)
        ).cast("long").alias(out),
    )


def spearman_user_activity_value(events: DataFrame) -> DataFrame:
    """One row: (n_users, rho_spearman, rho_pearson) of per-user event
    count vs per-user total value cents."""
    # |users|-bounded; feeds both midrank tables AND the ranked join —
    # unpinned, the corpus aggregation re-ran per consumer (plan audit
    # r10: 3 events scans; now 1)
    per_user = pin(
        events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
        )
    )
    rx = _midrank2(per_user, "x", "rx2")
    ry = _midrank2(per_user, "y", "ry2")
    ranked = per_user.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("srx"),
        F.sum("ry2").alias("sry"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("srxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("srxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("sryy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def corr(n, sx, sy, sxy, sxx, syy):
        num = n.cast("double") * sxy - sx.cast("double") * sy
        dx = n.cast("double") * sxx - sx.cast("double") * sx
        dy = n.cast("double") * syy - sy.cast("double") * sy
        den = F.sqrt(dx) * F.sqrt(dy)
        return F.when(den > 0, num / den)

    c = F.col
    return m.select(
        c("n").alias("n_users"),
        corr(c("n"), c("srx"), c("sry"), c("srxy"), c("srxx"), c("sryy")).alias(
            "rho_spearman"
        ),
        corr(c("n"), c("sx"), c("sy"), c("sxy"), c("sxx"), c("syy")).alias(
            "rho_pearson"
        ),
    )


SPEARMAN_ORACLE_SQL = """
WITH pu AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
), vx AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM pu GROUP BY 1
), rx AS (
  SELECT x, CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS BIGINT) AS rx2
  FROM vx
), vy AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM pu GROUP BY 1
), ry AS (
  SELECT y, CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS BIGINT) AS ry2
  FROM vy
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS srx, CAST(SUM(ry2) AS BIGINT) AS sry,
         CAST(SUM(rx2 * ry2) AS BIGINT) AS srxy,
         CAST(SUM(rx2 * rx2) AS BIGINT) AS srxx,
         CAST(SUM(ry2 * ry2) AS BIGINT) AS sryy,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pu JOIN rx USING (x) JOIN ry USING (y)
)
SELECT n AS n_users,
       CASE WHEN sqrt(CAST(n AS DOUBLE) * srxx - CAST(srx AS DOUBLE) * srx)
                 * sqrt(CAST(n AS DOUBLE) * sryy - CAST(sry AS DOUBLE) * sry) > 0
            THEN (CAST(n AS DOUBLE) * srxy - CAST(srx AS DOUBLE) * sry)
                 / (sqrt(CAST(n AS DOUBLE) * srxx - CAST(srx AS DOUBLE) * srx)
                    * sqrt(CAST(n AS DOUBLE) * sryy - CAST(sry AS DOUBLE) * sry))
            END AS rho_spearman,
       CASE WHEN sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
            END AS rho_pearson
FROM m
"""
