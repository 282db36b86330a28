"""Johnson-Lindenstrauss sign-projection recall audit.

Matryoshka truncation (similarity/matryoshka.py) only pays off for
embeddings TRAINED to front-load information; generic embeddings need
a data-independent projection. The JL lemma (Achlioptas 2003 database-
friendly variant) says a ±1 sign projection to O(log n / ε²) dims
preserves pairwise distances within (1±ε) — no training, no corpus
statistics, just a fixed sign matrix. This audit measures what that
costs HERE: exact full-dimension top-k vs top-k under 8- and 16-dim
sign projections, overlap per query — the evidence needed before
shrinking a 100 TB vector index 4-8x.

Determinism/exactness: the sign matrix derives from a Knuth
multiplicative hash of (row, col) — a pure arithmetic formula both
engines evaluate identically — and is embedded as a plan literal in
BOTH the Spark plan and the DuckDB oracle (the knn_lsh "planes are
plan literals" discipline). Projections of 1e-6-quantized coordinates
are exact int64 sums; projected distances are exact int64; ties break
by neighbor id. A proj_d=8 audit is the 8-row PREFIX of the 16-row
matrix, so one 16-dim projection pass serves every audited width —
the corpus is scanned and projected exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.similarity.kmeans import QUANT, quantized_expr

#: Knuth multiplicative hash → sign. Pure integer arithmetic both
#: engines agree on; quality is irrelevant for JL beyond balance.
_KNUTH = 2654435761


def sign_matrix(proj_d: int, d: int) -> list[list[int]]:
    return [
        [1 if ((m * d + j) * _KNUTH) % (2**32) < 2**31 else -1 for j in range(d)]
        for m in range(proj_d)
    ]


def jl_projection_audit(
    embeddings: DataFrame,
    *,
    n_queries: int = 16,
    topk: int = 5,
    proj_dims: tuple[int, ...] = (8, 16),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(proj_d, query_id, n_overlap): per query (the n_queries smallest
    ids) and projection width, how many exact full-dim top-k neighbors
    survive under the sign projection. Same labeled brute-force
    baseline shape as matryoshka_recall_audit (broadcast query rows ×
    corpus)."""
    from pyspark.sql import Window

    _row = embeddings.select(F.size(vec_col).alias("d")).first()
    if _row is None:
        raise ValueError("JL projection audit requires a non-empty embeddings table")
    d_full = int(_row["d"])
    p_max = max(proj_dims)
    signs = sign_matrix(p_max, d_full)

    quant = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized_expr(vec_col).alias("e")
    )
    # ONE parsed SQL expression instead of ~2100 Py4J builder calls
    # (16 projections x 64 sign literals) — DataFrame construction was
    # most of this query's cold time; the parsed tree (sign rows as
    # foldable array literals, same zip_with/aggregate fold) is
    # node-for-node the old one. See kmeans._best_sql (r10).
    y_sql = "array(" + ",".join(
        "aggregate(zip_with(array("
        + ",".join(f"{int(s)}L" for s in signs[m])
        + "), e, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
        for m in range(p_max)
    ) + ")"
    proj = quant.selectExpr("vec_id", "e", f"{y_sql} AS y")
    q = proj.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("y").alias("qy")
    )

    def sqdist(a: str, b: str, nd: int) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(a), 1, nd),
                F.slice(F.col(b), 1, nd),
                lambda x, z: (x - z) * (x - z),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    variants = [
        F.struct(F.lit(int(nd)).cast("long").alias("proj_d"), sqdist("qy", "y", nd).alias("dist"))
        for nd in dict.fromkeys(proj_dims)
    ] + [
        F.struct(
            F.lit(d_full).cast("long").alias("proj_d"), sqdist("qe", "e", d_full).alias("dist")
        )
    ]
    scored = (
        F.broadcast(q)
        .crossJoin(proj)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", F.explode(F.array(*variants)).alias("v"))
        .select(
            "query_id", "vec_id", F.col("v.proj_d").alias("proj_d"), F.col("v.dist").alias("dist")
        )
    )
    w = Window.partitionBy("proj_d", "query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    # pinned for the same reason as matryoshka_recall_audit: top feeds
    # the truth slice AND the audited slice; unpinned, the projection
    # pass + rank window re-ran per consumer (plan audit r10: 4
    # embeddings scans, violating the "scanned exactly once" contract
    # in the module docstring)
    # cut: pin measured 1.86 -> 2.12 s at sf0.1 (jl_projection_audit, 1/5 pin wins)
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("proj_d", "query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    truth = top.filter(F.col("proj_d") == d_full).select("query_id", "vec_id")
    audited = [int(nd) for nd in dict.fromkeys(proj_dims)]
    return (
        top.filter(F.col("proj_d").isin(audited))
        .join(truth.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("proj_d", "query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"))
        .orderBy("proj_d", "query_id")
    )


def jl_oracle_sql(
    *,
    n_queries: int = 16,
    topk: int = 5,
    proj_dims: tuple[int, ...] = (8, 16),
    d_full: int = 64,
) -> str:
    """DuckDB replica: identical quantization, sign literals,
    prefix-projected distances, tie-breaks and overlap count."""
    p_max = max(proj_dims)
    signs = sign_matrix(p_max, d_full)
    y_exprs = ", ".join(
        "CAST(list_sum(list_transform(list_zip(e, ["
        + ", ".join(str(s) for s in signs[m])
        + "]), z -> z[1] * z[2])) AS BIGINT)"
        for m in range(p_max)
    )
    dims = list(dict.fromkeys(proj_dims))
    audited = ", ".join(str(int(nd)) for nd in dims)
    dist_rows = " UNION ALL ".join(
        f"""SELECT query_id, vec_id, CAST({nd} AS BIGINT) AS proj_d,
       CAST(list_sum(list_transform(list_zip(qy[1:{nd}], y[1:{nd}]),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
FROM pairs"""
        for nd in dims
    ) + f""" UNION ALL SELECT query_id, vec_id, CAST({d_full} AS BIGINT) AS proj_d,
       CAST(list_sum(list_transform(list_zip(qe, e),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
FROM pairs"""
    return f"""
    WITH qq0 AS (
      SELECT vec_id,
             [CAST(round(CAST(x AS DOUBLE) * {QUANT}.0) AS BIGINT) for x in embedding] AS e
      FROM embeddings
    ), qq AS (
      SELECT vec_id, e, [{y_exprs}] AS y FROM qq0
    ), pairs AS (
      SELECT q.vec_id AS query_id, q.e AS qe, q.y AS qy, c.vec_id, c.e, c.y
      FROM (SELECT * FROM qq WHERE vec_id < {n_queries}) q
      CROSS JOIN qq c WHERE q.vec_id <> c.vec_id
    ), scored AS ({dist_rows}),
    top AS (
      SELECT proj_d, query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY proj_d, query_id
                                ORDER BY dist, vec_id) AS rank
      FROM scored
    ), winners AS (
      SELECT proj_d, query_id, vec_id FROM top WHERE rank <= {topk}
    ), truth AS (
      SELECT query_id, vec_id FROM winners WHERE proj_d = {d_full}
    )
    SELECT w.proj_d, w.query_id AS query_id,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap
    FROM winners w
    LEFT JOIN truth t ON t.query_id = w.query_id AND t.vec_id = w.vec_id
    WHERE w.proj_d IN ({audited})
    GROUP BY 1, 2 ORDER BY proj_d, query_id
    """
