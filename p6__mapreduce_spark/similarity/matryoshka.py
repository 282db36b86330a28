"""Matryoshka truncation recall audit (Kusupati et al. 2022, MRL).

Matryoshka-trained embeddings keep most of their retrieval power in a
prefix of the dimensions, letting a 100 TB index store/scan only the
first 16 or 32 of 64 dims (2-4x less IO and compute). Whether THESE
vectors earn that discount is an empirical question — this audit
measures it: exact top-k neighbors by full-dimension distance vs
top-k by prefix-truncated distance, overlap counted per query.

Everything runs in the repo's 1e-6-quantized integer space (distances
are exact int64 sums, ties broken by neighbor id), so the whole audit
— including the deliberate brute-force baseline, the same shape as
``knn_bruteforce``/``ann_recall_audit`` — replays exactly in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.similarity.kmeans import quantized_expr


def matryoshka_recall_audit(
    embeddings: DataFrame,
    *,
    n_queries: int = 16,
    topk: int = 5,
    trunc_dims: tuple[int, ...] = (16, 32),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(trunc_d, query_id, n_overlap): for each query (the n_queries
    smallest ids) and each prefix length, how many of the exact
    full-dimension top-k survive when distances use only the first
    trunc_d dims.

    Plan: ONE labeled brute-force pass (broadcast query rows x corpus
    — the deliberate exact baseline, as in knn_bruteforce) computing
    every prefix distance in the same projection, one explode to
    (prefix, distance) rows, one rank window per (trunc_d, query),
    then a tiny self-join of the <= |prefixes|·n_queries·topk winners
    against the full-dim winners. Corpus is scanned once regardless of
    how many prefixes are audited."""
    from pyspark.sql import Window

    _row = embeddings.select(F.size(vec_col).alias("d")).first()
    if _row is None:
        raise ValueError("Matryoshka audit requires a non-empty embeddings table")
    d_full = int(_row["d"])
    quant = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized_expr(vec_col).alias("e")
    )
    q = quant.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )

    def dist(nd: int) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("qe"), 1, nd),
                F.slice(F.col("e"), 1, nd),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # audit dims plus the ground-truth full dim, deduplicated so a
    # trunc_dims containing d_full doesn't double the exploded rows
    dims = list(dict.fromkeys(list(trunc_dims) + [d_full]))
    pairs = F.array(
        *[
            F.struct(F.lit(nd).cast("long").alias("trunc_d"), dist(nd).alias("dist"))
            for nd in dims
        ]
    )
    scored = (
        F.broadcast(q)
        .crossJoin(quant)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", F.explode(pairs).alias("td"))
        .select("query_id", "vec_id", F.col("td.trunc_d").alias("trunc_d"), F.col("td.dist").alias("dist"))
    )
    w = Window.partitionBy("trunc_d", "query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    # |prefixes| x n_queries x topk rows; feeds both the truth slice
    # and the audited slice — pinned so the brute-force pass + rank
    # window run ONCE (unpinned they re-ran per consumer, making the
    # "corpus is scanned once" contract above false: plan audit r10
    # counted 4 embeddings scans)
    top = pin(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("trunc_d", "query_id", "vec_id")
    )
    truth = top.filter(F.col("trunc_d") == d_full).select("query_id", "vec_id")
    audited = [int(nd) for nd in dict.fromkeys(trunc_dims)]
    return (
        top.filter(F.col("trunc_d").isin(audited))
        .join(truth.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("trunc_d", "query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"))
        .orderBy("trunc_d", "query_id")
    )


def matryoshka_oracle_sql(
    *,
    n_queries: int = 16,
    topk: int = 5,
    trunc_dims: tuple[int, ...] = (16, 32),
    d_full: int = 64,
) -> str:
    """DuckDB replica of :func:`matryoshka_recall_audit` (identical
    quantization, prefix distances, tie-breaks and overlap count)."""
    from p6__mapreduce_spark.similarity.kmeans import QUANT

    dims = list(dict.fromkeys(list(trunc_dims) + [d_full]))
    audited = ", ".join(str(int(nd)) for nd in dict.fromkeys(trunc_dims))
    dist_rows = " UNION ALL ".join(
        f"""SELECT query_id, vec_id, CAST({nd} AS BIGINT) AS trunc_d,
       CAST(list_sum(list_transform(list_zip(qe[1:{nd}], e[1:{nd}]),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
FROM pairs"""
        for nd in dims
    )
    return f"""
    WITH qq AS (
      SELECT vec_id,
             [CAST(round(CAST(x AS DOUBLE) * {QUANT}.0) AS BIGINT) for x in embedding] AS e
      FROM embeddings
    ), pairs AS (
      SELECT q.vec_id AS query_id, q.e AS qe, c.vec_id, c.e
      FROM (SELECT * FROM qq WHERE vec_id < {n_queries}) q
      CROSS JOIN qq c WHERE q.vec_id <> c.vec_id
    ), scored AS ({dist_rows}),
    top AS (
      SELECT trunc_d, query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY trunc_d, query_id
                                ORDER BY dist, vec_id) AS rank
      FROM scored
    ), winners AS (
      SELECT trunc_d, query_id, vec_id FROM top WHERE rank <= {topk}
    ), truth AS (
      SELECT query_id, vec_id FROM winners WHERE trunc_d = {d_full}
    )
    SELECT w.trunc_d, w.query_id AS query_id,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap
    FROM winners w
    LEFT JOIN truth t ON t.query_id = w.query_id AND t.vec_id = w.vec_id
    WHERE w.trunc_d IN ({audited})
    GROUP BY 1, 2 ORDER BY trunc_d, query_id
    """
