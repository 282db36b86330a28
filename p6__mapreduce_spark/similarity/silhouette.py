"""Centroid-based (simplified) silhouette score per cluster.

The clustering-quality metric that answers "are these clusters real?"
before a trained quantizer/partitioner ships: for each point,
``a`` = squared distance to its OWN centroid, ``b`` = squared distance
to the nearest OTHER centroid, ``s = (b − a) / max(a, b)`` ∈ [−1, 1].
The centroid-based form (a.k.a. simplified silhouette, Hruschka 2004)
replaces the classic O(n²) pairwise definition with O(n·k) distance
evaluations — the only silhouette computable at 100 TB, and the one
sklearn's ``silhouette_score(..., metric='euclidean')`` approximates
when subsampling.

Plan shape: points × k-row centroid LITERAL grid (the IVF discipline —
centroids are plan constants, so this is a bounded explode, not a
join), one window over the 16-row per-point partition to rank the two
nearest centroids, one groupBy cluster. Everything is corpus-linear
with constant factors k.

Exactness: squared distances via the proven (v·v − 2 v·c) + c·c fold
quantized to int64 at 1e12; per-point silhouettes quantized to 1e9
ints BEFORE the cluster mean (float sums are partition-order
dependent; integer sums aren't); ONE final division per cluster."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.functions.vectors import dot_product

Q12 = 1_000_000_000_000
Q9 = 1_000_000_000


def silhouette_by_cluster(
    embeddings: DataFrame, centroids: list[list[float]], *, vec_col: str = "embedding"
) -> DataFrame:
    """(cluster, n_points, sum_s_q9, mean_silhouette) per assigned
    cluster, ordered by cluster id. Ties in nearest-centroid break by
    centroid index (lowest wins); a point equidistant to two centroids
    scores s = 0 (b = a) — visible, not dropped."""
    spark = embeddings.sparkSession
    cgrid = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cvec array<double>",
    )
    pts = embeddings.select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
    d2 = F.round(
        (
            (dot_product("v", "v") - F.lit(2.0) * dot_product("v", "cvec"))
            + dot_product("cvec", "cvec")
        )
        * F.lit(float(Q12))
    ).cast("long")
    scored = pts.crossJoin(
        F.broadcast(cgrid)  # k-row centroid-literal grid (bounded, labeled)
    ).select("vec_id", "cid", d2.alias("d2_q"))
    w = Window.partitionBy("vec_id").orderBy("d2_q", "cid")
    two = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d2_q"))).alias("a_q"),
            F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cluster"),
            F.max(F.when(F.col("rn") == 2, F.col("d2_q"))).alias("b_q"),
        )
    )
    s_q = F.when(
        F.greatest("a_q", "b_q") > 0,
        F.round(
            (F.col("b_q") - F.col("a_q")).cast("double")
            * F.lit(float(Q9))
            / F.greatest("a_q", "b_q").cast("double")
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        two.select("cluster", s_q.alias("s_q"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("s_q").alias("sum_s_q9"),
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_points",
            "sum_s_q9",
            (
                F.col("sum_s_q9").cast("double")
                / (F.col("n_points").cast("double") * F.lit(float(Q9)))
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )


def _sql_double_list(vals: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]"


def silhouette_oracle_sql(parquet_path: str, *, n_centroids: int = 16) -> str:
    """DuckDB replica with the SAME trained centroids embedded as
    literals (the knn_ivf oracle discipline)."""
    from p6__mapreduce_spark.similarity.ivf import train_centroids_from_parquet

    cents = train_centroids_from_parquet(parquet_path, n_centroids)
    rows = ", ".join(f"({i}, {_sql_double_list(c)}::DOUBLE[])" for i, c in enumerate(cents))
    return f"""
WITH cgrid(cid, cvec) AS (VALUES {rows}),
scored AS (
  SELECT e.vec_id, g.cid,
         CAST(round(((list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                      - 2.0 * list_inner_product(e.embedding::DOUBLE[], g.cvec))
                     + list_inner_product(g.cvec, g.cvec)) * 1000000000000.0) AS BIGINT) AS d2_q
  FROM embeddings e CROSS JOIN cgrid g
),
two AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN d2_q END) AS a_q,
         MAX(CASE WHEN rn = 1 THEN cid END) AS cluster,
         MAX(CASE WHEN rn = 2 THEN d2_q END) AS b_q
  FROM (SELECT vec_id, cid, d2_q,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2_q, cid) AS rn
        FROM scored)
  WHERE rn <= 2 GROUP BY vec_id
),
sil AS (
  SELECT cluster,
         CASE WHEN greatest(a_q, b_q) > 0
              THEN CAST(round(CAST(b_q - a_q AS DOUBLE) * 1000000000.0
                              / CAST(greatest(a_q, b_q) AS DOUBLE)) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS s_q
  FROM two
)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(s_q) AS BIGINT) AS sum_s_q9,
       CAST(SUM(s_q) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS mean_silhouette
FROM sil GROUP BY cluster ORDER BY cluster
"""
