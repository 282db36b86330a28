"""Embedding-cosine near-duplicate pairs.

Two paths:

``cosine_neardup_pairs_lsh`` (DEFAULT) — the scale path. Vectors are
bucketed by random-hyperplane LSH (``similarity.lsh``); each vector
probes its own bucket plus all Hamming-distance-1 neighbors, and the
pairwise cosine runs only on bucket-colliding pairs. The pair join is
an equi-join on bucket id — candidates per vector ≈ n / 2^planes ×
(1 + planes), never O(n²), and no CartesianProduct /
BroadcastNestedLoopJoin appears in the plan (pinned in
tests/test_plans.py). The probe radius makes the operator approximate
for mid-similarity pairs; because the hyperplanes are plan literals,
the *same* bucketed pair space is expressible in DuckDB
(``cosine_neardup_lsh_oracle_sql``), so the operator is still exactly
oracle-checked.

``cosine_neardup_pairs`` (opt-in) — the exact brute-force baseline:
all (id1 < id2) pairs. Correct at small n and the ground truth for
recall tests; the O(n²) join is the wrong tool past ~10^6 vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.functions.vectors import dot_product, l2_norm


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id1, id2, cosine) for id1 < id2 and cosine >= threshold — exact,
    brute-force (opt-in; the default engine path is the LSH variant).

    Norms are computed once per vector BEFORE the pair join (n rows,
    not n² pairs) — the join then evaluates only the dot product per
    pair. cosine = dot/(norm1*norm2) in float64, identical operation
    order to the oracle's list_inner_product/sqrt formula.
    """
    # cast float->double ONCE per input row: a per-pair cast would
    # allocate two fresh arrays for each of the O(n^2) join outputs
    with_norm = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        l2_norm(vec_col).alias("norm"),
    )
    a = with_norm.select(F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("norm").alias("n1"))
    b = with_norm.select(F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("norm").alias("n2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("cosine", dot_product("v1", "v2") / (F.col("n1") * F.col("n2")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id1", "id2", "cosine")
        .orderBy("id1", "id2")
    )


def cosine_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    *,
    dim: int = 64,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id1, id2, cosine >= threshold) over LSH-bucket-colliding pairs.

    Plan: map-side bucket assignment -> explode 1+num_planes probe
    buckets per vector -> equi-join probes to buckets (id1 < id2) ->
    dedup pairs (a pair can collide in several probed buckets) ->
    cosine + threshold. The only shuffles are the bucket equi-join and
    the pair dedup; nothing is quadratic in n.
    """
    from p6__mapreduce_spark.similarity.lsh import _bucket_expr, _planes

    planes = _planes(dim, num_planes)
    # bucketed feeds FOUR consumers (both probe sides, both vector
    # re-attach sides); unpinned, the bucket projection re-ran per
    # consumer (plan audit r10: 4 embeddings scans). One corpus pass
    # materializes it — the guide-§8 "fingerprint once" discipline.
    bucketed = pin(
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            l2_norm(vec_col).alias("n"),
            _bucket_expr(vec_col, planes).alias("bucket"),
        )
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
    )
    # candidate generation and dedup run on (id, bucket) rows ONLY —
    # shuffling the 64-double vectors through the pair-dedup exchange
    # would move ~1 KB per candidate instead of 16 bytes; the vectors
    # re-attach afterwards via two slim equi-joins on the n-row input
    ids = bucketed.select("id", "bucket")
    a = ids.select("id", F.explode(probes).alias("pb"))
    id_pairs = (
        a.alias("a")
        .join(ids.alias("b"), (F.col("a.pb") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    vecs = bucketed.select("id", "v", "n")
    pairs = (
        id_pairs.join(
            vecs.select(F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("n").alias("n1")),
            "id1",
        ).join(
            vecs.select(F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("n").alias("n2")),
            "id2",
        )
    )
    return (
        pairs.withColumn("cosine", dot_product("v1", "v2") / (F.col("n1") * F.col("n2")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id1", "id2", "cosine")
        .orderBy("id1", "id2")
    )


def cosine_neardup_lsh_oracle_sql(
    threshold: float = 0.4,
    *,
    dim: int = 64,
    num_planes: int = 6,
) -> str:
    """DuckDB SQL computing the identical LSH-bucketed pair set: same
    plane literals, same probes, same cosine arithmetic."""
    from p6__mapreduce_spark.similarity.lsh import _planes, bucket_sql_expr, probe_sql_list

    planes = _planes(dim, num_planes)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket_sql_expr(planes)}) AS bucket
      FROM embeddings
    ), probes AS (
      SELECT vec_id, v, unnest({probe_sql_list(num_planes)}) AS pb
      FROM b
    ), pairs AS (
      SELECT DISTINCT p.vec_id AS id1, c.vec_id AS id2, p.v AS v1, c.v AS v2
      FROM probes p JOIN b c ON p.pb = c.bucket AND p.vec_id < c.vec_id
    )
    SELECT id1, id2, cosine FROM (
      SELECT id1, id2,
             list_inner_product(v1, v2) /
             (sqrt(list_inner_product(v1, v1)) * sqrt(list_inner_product(v2, v2))) AS cosine
      FROM pairs
    ) WHERE cosine >= {threshold}
    ORDER BY 1, 2
    """
