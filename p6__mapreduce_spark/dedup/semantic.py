"""SemDeDup-style semantic deduplication over embedding vectors.

"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication" (Abbas et al., 2023) removes semantically redundant
training examples: cluster the embedding space coarsely, then compare
pairs ONLY within a cluster and drop one member of every pair whose
cosine similarity exceeds a threshold. The clustering bounds the
quadratic term — at corpus scale the within-cluster join touches
n²/n_clusters pairs instead of n², and n_clusters grows with the corpus
(√n is the usual choice), so per-cluster work stays constant.

Spark shape:

1. centroids trained once on a deterministic sample (reuses the IVF
   trainer — a few KB, folded into the plan as ONE nested-array
   literal, same Janino-compile-collapse trick as knn_ivf);
2. cluster assignment is map-side (no shuffle): argmin over the
   centroid scores array;
3. the candidate join is an equi-join on list_id — Spark shuffles both
   sides by cluster id once; AQE splits skewed clusters. id1 < id2
   halves the pair count; cosine in codegen'd float64 (bit-identical to
   DuckDB's list_inner_product, so the op is exactly oracle-checkable);
4. keep policy: the LOWER vec_id of every duplicate pair survives —
   deterministic and join-free to express (losers = distinct id2).

The oracle generator mirrors the exact same centroids via the Spark-free
trainer replica, so Spark and DuckDB agree bit-for-bit.

Reference scope: the reference engine (mapreduce.c) has no embedding
operators; this extends the training-data-curation surface per the
brief, alongside dedup/embedding.py's raw-cosine variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.functions.vectors import dot_product, l2_norm
from p6__mapreduce_spark.similarity.ivf import (
    _sql_double_list,
    ivf_assign,
    train_centroids,
    train_centroids_from_parquet,
)


def semantic_dedup(
    embeddings: DataFrame,
    *,
    n_centroids: int = 16,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, list_id, keep) — keep=false for the higher-id member of
    every within-cluster pair with cosine >= threshold."""
    cents = train_centroids(embeddings, n_centroids=n_centroids, vec_col=vec_col)
    # assigned feeds both pair sides AND the final keep join; pinned so
    # the corpus argmin projection runs once (plan audit r10: 3
    # embeddings scans unpinned — the guide-§8 "fingerprint once" shape)
    assigned = pin(ivf_assign(embeddings, cents, vec_col=vec_col))
    a = assigned.select(
        F.col(id_col).alias("id1"),
        "list_id",
        F.col(vec_col).alias("v1"),
        l2_norm(vec_col).alias("n1"),
    )
    b = assigned.select(
        F.col(id_col).alias("id2"),
        "list_id",
        F.col(vec_col).alias("v2"),
        l2_norm(vec_col).alias("n2"),
    )
    losers = (
        a.join(b, "list_id")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", dot_product("v1", "v2") / (F.col("n1") * F.col("n2")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id2").alias(id_col))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        assigned.join(losers, id_col, "left")
        .select(
            id_col,
            F.col("list_id").cast("int").alias("list_id"),
            F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"),
        )
        .orderBy(id_col)
    )


def semantic_dedup_oracle_sql(
    parquet_path: str,
    *,
    n_centroids: int = 16,
    threshold: float = 0.4,
) -> str:
    """DuckDB SQL computing the identical result: same centroids (the
    Spark-free trainer replica), same map-side argmin, same
    within-cluster cosine pairs. Valid for the parquet it was
    generated against."""
    centroids = train_centroids_from_parquet(parquet_path, n_centroids)
    from p6__mapreduce_spark.similarity.ivf import _cc

    scores = "[" + ", ".join(
        f"{{'s': {_cc(c):.17e} - 2.0e0 * list_inner_product(v, {_sql_double_list(c)}), 'i': {i}}}"
        for i, c in enumerate(centroids)
    ) + "]"
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {scores} AS scores
      FROM embeddings
    ), asg AS (
      SELECT vec_id, v, list_min(scores).i AS list_id FROM b
    ), losers AS (
      SELECT DISTINCT y.vec_id
      FROM asg x JOIN asg y ON x.list_id = y.list_id AND x.vec_id < y.vec_id
      WHERE list_inner_product(x.v, y.v) /
            (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v)))
            >= {threshold}
    )
    SELECT a.vec_id, CAST(a.list_id AS INTEGER) AS list_id,
           (l.vec_id IS NULL) AS keep
    FROM asg a LEFT JOIN losers l ON a.vec_id = l.vec_id
    ORDER BY a.vec_id
    """


def cluster_medoids(
    embeddings: DataFrame,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(list_id, medoid_id, n_members, score_q9): the MEDOID of every
    coarse cluster — the actual member maximizing total cosine
    similarity to its cluster, i.e. the best real representative
    document (centroids are synthetic averages; medoids are things you
    can actually read, label, or ship as few-shot exemplars).

    Same bounded within-cluster pair space as SemDeDup (n²/n_clusters,
    never n²). Per-pair cosines quantize to 1e-9 fixed point BEFORE
    the per-member integer sum, so the argmax is exact on any
    partitioning; ties break by member id. Single-member clusters
    yield their member with score 0 (no pairs)."""
    cents = train_centroids(embeddings, n_centroids=n_centroids, vec_col=vec_col)
    # same 3-consumer pin as semantic_dedup (pair sides + member join)
    assigned = pin(ivf_assign(embeddings, cents, vec_col=vec_col))
    a = assigned.select(
        F.col(id_col).alias("id1"),
        "list_id",
        F.col(vec_col).alias("v1"),
        l2_norm(vec_col).alias("m1"),
    )
    b = assigned.select(
        F.col(id_col).alias("id2"),
        "list_id",
        F.col(vec_col).alias("v2"),
        l2_norm(vec_col).alias("m2"),
    )
    cos_q9 = F.floor(
        dot_product("v1", "v2") / (F.col("m1") * F.col("m2")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    sums = (
        a.join(b, "list_id")
        .filter(F.col("id1") != F.col("id2"))
        .select("list_id", F.col("id1").alias(id_col), cos_q9.alias("c"))
        .groupBy("list_id", id_col)
        .agg(F.sum("c").alias("score_q9"))
    )
    from pyspark.sql import Window

    members = assigned.select("list_id", id_col).join(
        sums, ["list_id", id_col], "left"
    ).select(
        "list_id", id_col, F.coalesce("score_q9", F.lit(0).cast("long")).alias("score_q9")
    )
    w = Window.partitionBy("list_id").orderBy(F.desc("score_q9"), id_col)
    wc = Window.partitionBy("list_id")
    return (
        members.select(
            F.col("list_id").cast("int").alias("list_id"),
            F.col(id_col).alias("medoid_id"),
            "score_q9",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select("list_id", "medoid_id", "n_members", "score_q9")
        .orderBy("list_id")
    )


def cluster_medoids_oracle_sql(parquet_path: str, *, n_centroids: int = 16) -> str:
    """DuckDB replica of :func:`cluster_medoids` (same centroids, same
    quantized sums, same tie-break)."""
    centroids = train_centroids_from_parquet(parquet_path, n_centroids)
    from p6__mapreduce_spark.similarity.ivf import _cc

    scores = "[" + ", ".join(
        f"{{'s': {_cc(c):.17e} - 2.0e0 * list_inner_product(v, {_sql_double_list(c)}), 'i': {i}}}"
        for i, c in enumerate(centroids)
    ) + "]"
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {scores} AS scores
      FROM embeddings
    ), asg AS (
      SELECT vec_id, v, list_min(scores).i AS list_id FROM b
    ), sums AS (
      SELECT x.list_id, x.vec_id,
             CAST(SUM(CAST(floor(list_inner_product(x.v, y.v) /
                   (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v)))
                   * 1000000000 + 5.0e-1) AS BIGINT)) AS BIGINT) AS score_q9
      FROM asg x JOIN asg y ON x.list_id = y.list_id AND x.vec_id != y.vec_id
      GROUP BY 1, 2
    ), members AS (
      SELECT asg.list_id, asg.vec_id, COALESCE(sums.score_q9, 0) AS score_q9
      FROM asg LEFT JOIN sums ON asg.list_id = sums.list_id AND asg.vec_id = sums.vec_id
    )
    SELECT CAST(list_id AS INTEGER) AS list_id, vec_id AS medoid_id, n_members, score_q9
    FROM (
      SELECT list_id, vec_id, score_q9,
             row_number() OVER (PARTITION BY list_id ORDER BY score_q9 DESC, vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY list_id) AS n_members
      FROM members
    ) WHERE rn = 1 ORDER BY list_id
    """
