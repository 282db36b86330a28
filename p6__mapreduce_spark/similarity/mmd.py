"""Maximum Mean Discrepancy between embedding groups — the kernel
two-sample test (Gretton et al. 2012), the embedding-space member of
the drift family (KS = sup, PSI = binned, JSD = distributional,
W1 = integral, MMD = kernel mean embedding).

A scalar drift statistic on raw values misses distribution shift that
only shows up in REPRESENTATION space (e.g. a new content cluster with
the same length/value profile). MMD compares kernel mean embeddings;
for the degree-2 polynomial kernel k(x,y) = (x·y)^2 it has an exact
closed form in the second-moment matrices:

    E_{x,x'}[(x·x')^2] = || E[x x^T] ||_F^2   =>
    MMD^2_poly2(X, Y)  = || M_X - M_Y ||_F^2,  M = (1/n) Σ x x^T

and for the linear kernel it is || μ_X - μ_Y ||^2. Both reduce to ONE
corpus pass building per-group moment relations (the `similarity/pca.py`
scatter pattern, keyed by group) and a bounded d^2-row comparison —
no pairwise sample products, which is what makes the closed form
scale where the textbook U-statistic (O(n^2) kernel evaluations)
cannot.

Exactness: coordinates quantize to 1e-3 int64 per row, so every
moment is an exact integer sum; each (i, j) comparison term
((S_a*n_b - S_b*n_a) / (Q^2 n_a n_b))^2 is a fixed-shape double, with
S and n cast to DOUBLE BEFORE the cross-multiply (the int64 product
S*n would overflow near 1e7 vectors/group for poly-2 moments — r8
ADVICE; the rounding of the product does not matter because the term
is re-quantized to 1e-12 int64 PER TERM right after, identically in
both engines). int64 headroom now only has to cover the moments
themselves: S <= n * (Q |x|)^2 ~ 1e14 at 1e9 rows with |x| <= 0.5 —
past that the moment casts move to decimal(38,0), same plan.

Scale shape: one posexplode + self-join on vec_id emits d^2 products
per vector with map-side partial aggregation (the exact-covariance
cost, same as pca_top_component); everything after runs on
|groups| * d^2 rows. At 100 TB: hash-sample vectors per group first
(the kmeans_lloyd_sampled discipline) — the statistic is a mean, the
sample is unbiased.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

Q = 1_000  # 1e-3 coordinate quantization
TQ = "1.0e12"  # per-term comparison quantization


def mmd_embedding_drift(emb: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """(label_a, label_b, n_a, n_b, mmd2_linear, mmd2_poly2) for every
    unordered label pair, ordered by (label_a, label_b)."""
    qx = F.round(F.col("x").cast("double") * F.lit(float(Q))).cast("long")
    e = pin(  # feeds counts + means + moments once
        emb.select("vec_id", "label", F.posexplode(vec_col).alias("pos", "x"))
        .select("vec_id", "label", (F.col("pos") + 1).alias("dim"), qx.alias("q"))
    )
    counts = e.groupBy("label").agg(
        F.count_distinct("vec_id").cast("long").alias("n")
    )
    means = e.groupBy("label", "dim").agg(F.sum("q").cast("long").alias("s"))
    moments = (
        e.select("vec_id", "label", F.col("dim").alias("i"), F.col("q").alias("qi"))
        .join(
            e.select("vec_id", F.col("dim").alias("j"), F.col("q").alias("qj")),
            "vec_id",
        )
        .groupBy("label", "i", "j")
        .agg(F.sum(F.col("qi") * F.col("qj")).cast("long").alias("s2"))
    )

    def pair(rel: DataFrame, keys: list[str], scol: str, scale: str) -> DataFrame:
        a = rel.select(
            F.col("label").alias("label_a"),
            *keys,
            F.col(scol).alias("sa"),
        ).join(
            counts.select(F.col("label").alias("label_a"), F.col("n").alias("n_a")),
            "label_a",
        )
        b = rel.select(
            F.col("label").alias("label_b"),
            *keys,
            F.col(scol).alias("sb"),
        ).join(
            counts.select(F.col("label").alias("label_b"), F.col("n").alias("n_b")),
            "label_b",
        )
        j = a.join(b, keys).filter(F.col("label_a") < F.col("label_b"))
        # Cast BEFORE the multiply: sa*n_b in int64 overflows near 1e7
        # vectors/group for poly-2 moments (s2 <= (Q|x|)^2 * d * n). The
        # double product is bit-identical in both engines (one IEEE
        # multiply each, same operands), and the term is re-quantized
        # afterward, so int64 exactness of the product is not needed.
        num = F.col("sa").cast("double") * F.col("n_b").cast("double") - F.col(
            "sb"
        ).cast("double") * F.col("n_a").cast("double")
        den = (
            F.lit(float(scale))
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
        )
        term = (num / den) * (num / den)
        tq = F.floor(term * F.expr(TQ) + F.lit(0.5)).cast("long")
        return j.groupBy("label_a", "label_b", "n_a", "n_b").agg(
            F.sum(tq).cast("long").alias("t_q12")
        )

    lin = pair(means, ["dim"], "s", str(float(Q))).withColumnRenamed(
        "t_q12", "lin_q12"
    )
    poly = pair(moments, ["i", "j"], "s2", str(float(Q * Q))).withColumnRenamed(
        "t_q12", "poly_q12"
    )
    return (
        lin.join(poly, ["label_a", "label_b", "n_a", "n_b"])
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            (F.col("lin_q12").cast("double") / F.expr(TQ)).alias("mmd2_linear"),
            (F.col("poly_q12").cast("double") / F.expr(TQ)).alias("mmd2_poly2"),
        )
        .orderBy("label_a", "label_b")
    )


MMD_ORACLE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, i AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {float(Q)}) AS BIGINT) AS q
  FROM (SELECT vec_id, label, embedding, unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
), counts AS (
  SELECT label, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM e GROUP BY 1
), means AS (
  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s FROM e GROUP BY 1, 2
), moments AS (
  SELECT a.label, a.dim AS i, b.dim AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS s2
  FROM e a JOIN e b ON a.vec_id = b.vec_id
  GROUP BY 1, 2, 3
), lin AS (
  SELECT a.label AS label_a, b.label AS label_b, ca.n AS n_a, cb.n AS n_b,
         CAST(SUM(CAST(floor(
           ((CAST(a.s AS DOUBLE) * CAST(cb.n AS DOUBLE)
              - CAST(b.s AS DOUBLE) * CAST(ca.n AS DOUBLE))
              / ({float(Q)} * CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)))
           * ((CAST(a.s AS DOUBLE) * CAST(cb.n AS DOUBLE)
              - CAST(b.s AS DOUBLE) * CAST(ca.n AS DOUBLE))
              / ({float(Q)} * CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)))
           * {TQ} + 0.5e0) AS BIGINT)) AS BIGINT) AS lin_q12
  FROM means a JOIN means b ON a.dim = b.dim AND a.label < b.label
  JOIN counts ca ON ca.label = a.label
  JOIN counts cb ON cb.label = b.label
  GROUP BY 1, 2, 3, 4
), poly AS (
  SELECT a.label AS label_a, b.label AS label_b, ca.n AS n_a, cb.n AS n_b,
         CAST(SUM(CAST(floor(
           ((CAST(a.s2 AS DOUBLE) * CAST(cb.n AS DOUBLE)
              - CAST(b.s2 AS DOUBLE) * CAST(ca.n AS DOUBLE))
              / ({float(Q * Q)} * CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)))
           * ((CAST(a.s2 AS DOUBLE) * CAST(cb.n AS DOUBLE)
              - CAST(b.s2 AS DOUBLE) * CAST(ca.n AS DOUBLE))
              / ({float(Q * Q)} * CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)))
           * {TQ} + 0.5e0) AS BIGINT)) AS BIGINT) AS poly_q12
  FROM moments a JOIN moments b ON a.i = b.i AND a.j = b.j AND a.label < b.label
  JOIN counts ca ON ca.label = a.label
  JOIN counts cb ON cb.label = b.label
  GROUP BY 1, 2, 3, 4
)
SELECT lin.label_a, lin.label_b, lin.n_a, lin.n_b,
       CAST(lin.lin_q12 AS DOUBLE) / {TQ} AS mmd2_linear,
       CAST(poly.poly_q12 AS DOUBLE) / {TQ} AS mmd2_poly2
FROM lin JOIN poly ON lin.label_a = poly.label_a AND lin.label_b = poly.label_b
ORDER BY lin.label_a, lin.label_b
"""
