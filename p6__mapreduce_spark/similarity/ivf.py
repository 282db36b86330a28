"""IVF (inverted-file) approximate nearest neighbors.

The second ANN scale path (alongside random-hyperplane LSH): a small
set of coarse centroids partitions the vector space; every vector is
assigned map-side to its nearest centroid (the "inverted list"), and a
query probes only the ``nprobe`` nearest lists.

Centroid training runs driver-side on a bounded deterministic sample
(k-means on at most ``sample_size`` vectors, fixed seed) — the trained
centroids are a few KB and fold into the plan as literals, so
assignment is a pure codegen expression: no MLlib dependency, no
broadcast variable, no shuffle for assignment. Cost per query ≈
n * nprobe / n_centroids candidates instead of n.

The sample is the ``sample_size`` rows with the smallest
``sha256(id)`` — Spark plans ``orderBy(hash).limit(n)`` as
TakeOrderedAndProject (a per-partition top-k heap plus a single k-row
merge: bounded driver memory, no shuffle), and the hash order is
independent of partition layout, so the sample is unbiased even when
the files are physically clustered by the very structure k-means is
trying to find. A plain ``limit(n)`` reads the first partitions only
(one file's worth at 100 TB) and can collapse the inverted lists; a
``pmod(hash) == 0`` filter is layout-independent too but its output
size scales with the table, not with ``sample_size``.

Because the sample and the k-means loop are replicable outside Spark
(sha256 + numpy), the trained centroids can be embedded as literals in
a DuckDB oracle — ``knn_ivf_oracle_sql`` does exactly that, making the
approximate operator exactly checkable.

Distances use the expanded form ``|v-c|^2 - |v|^2 = c·c - 2 v·c`` (the
``v·v`` term is constant per row and cannot change the argmin): the
only data-dependent op is a dot product, which Spark's ``aggregate``
fold and DuckDB's ``list_inner_product`` compute bit-identically.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.vectors import dot_product, l2_norm

SEED = 42
SAMPLE_SIZE = 2048


def _kmeans(X: np.ndarray, n_centroids: int, iters: int, seed: int) -> list[list[float]]:
    """Plain Lloyd iterations, shared verbatim by the Spark path and the
    oracle generator so both produce bit-identical centroids."""
    rng = np.random.default_rng(seed)
    centroids = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            members = X[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids.tolist()


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = SAMPLE_SIZE,
    iters: int = 10,
    seed: int = SEED,
) -> list[list[float]]:
    """Driver-side mini k-means on a bounded deterministic hash-sample.

    ``orderBy(sha256(id)).limit(n)`` -> TakeOrderedAndProject: each task
    keeps an n-row heap, the driver merges n rows — NOT a global sort,
    and the result is independent of file/partition order.
    """
    pdf = (
        embeddings.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.sha2(F.col("i").cast("string"), 256), F.col("i"))
        .limit(sample_size)
        .toPandas()  # Arrow transfer: ~5x faster than row collect here
    )
    if not len(pdf):
        # explicit precondition (the PQ/IVF-PQ family contract): a
        # trained model is undefined on an empty table — raise the
        # documented error, not a bare numpy IndexError (r9 audit)
        raise ValueError("centroid training requires a non-empty embeddings table")
    X = np.array([np.asarray(v) for v in pdf["v"]], dtype=np.float64)
    return _kmeans(X, n_centroids, iters, seed)


def train_centroids_from_parquet(
    parquet_path: str,
    n_centroids: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = SAMPLE_SIZE,
    iters: int = 10,
    seed: int = SEED,
) -> list[list[float]]:
    """Spark-free replica of ``train_centroids`` (same sample order,
    same k-means) for oracle-SQL generation."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda j: (hashlib.sha256(str(ids[j]).encode()).hexdigest(), ids[j]),
    )[:sample_size]
    if not order:
        raise ValueError("centroid training requires a non-empty embeddings table")
    X = np.array([vecs[j] for j in order], dtype=np.float64)
    return _kmeans(X, n_centroids, iters, seed)


def _cc(center: list[float]) -> float:
    return float(np.dot(np.asarray(center), np.asarray(center)))


def _scores_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """array<struct<s: c·c - 2 v·c, i: centroid index>> — argmin and
    probe selection both reduce to ONE ordering of this array (struct
    comparison is lexicographic: score, then index — deterministic on
    ties, and no duplicate index can ever be selected). The score is
    ordered identically to squared distance (the v·v term is constant
    per row), and its only data-dependent float op is the dot product,
    which DuckDB's list_inner_product reproduces bit-for-bit.

    Codegen shape matters here: unrolling per-centroid expressions with
    inline literal arrays generates ~16x64 literals x consumers of
    Janino source and cost multiple SECONDS of compilation per plan
    (measured on knn_ivf at sf0.1). Passing the centroid matrix as ONE
    nested-array literal and looping with transform() makes the
    constants data instead of code: compile time collapses, runtime
    arithmetic is identical."""
    return F.expr(_scores_sql(vec_col, centroids))


def _scores_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """SQL text of :func:`_scores_expr`'s tree (r10: one parse call
    instead of ~10 Py4J round trips per centroid — DataFrame
    construction cost, see kmeans._best_sql). Double literals carry
    the ``D`` suffix (bare ``2.0`` parses as DECIMAL in Spark SQL) and
    render via ``repr``, whose shortest-round-trip decimal re-parses
    to the identical IEEE-754 double — values, fold order and the
    (s, i) struct shape are exactly the old tree's."""

    def dl(x: float) -> str:
        return f"{float(x)!r}D"

    matrix = (
        "array("
        + ",".join("array(" + ",".join(dl(x) for x in c) + ")" for c in centroids)
        + ")"
    )
    ccs = "array(" + ",".join(dl(_cc(c)) for c in centroids) + ")"
    return (
        f"transform({matrix}, (c, i) -> named_struct("
        f"'s', element_at({ccs}, i + 1) - 2.0D * "
        f"aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), c, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x), "
        f"'i', i))"
    )


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]], *, vec_col: str = "embedding") -> DataFrame:
    """Attach the inverted-list id (map-side, no shuffle)."""
    return embeddings.withColumn(
        "list_id", F.array_min(_scores_expr(vec_col, centroids)).getField("i")
    )


def _with_probes(queries: DataFrame, vec_col: str, centroids: list[list[float]], nprobe: int) -> DataFrame:
    """Attach ``probes``: the nprobe nearest (distinct by construction)
    list ids in score order."""
    probes = F.transform(
        F.slice(F.array_sort(_scores_expr(vec_col, centroids)), 1, nprobe),
        lambda x: x.getField("i"),
    )
    return queries.withColumn("probes", probes)


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    *,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest inverted lists, rank
    exactly within the probed candidates."""
    if queries is None:
        queries = embeddings
    centroids = train_centroids(embeddings, n_centroids, id_col=id_col, vec_col=vec_col)
    cand = ivf_assign(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            l2_norm(vec_col).alias("cn"),
        ),
        centroids,
        vec_col="cv",
    )
    q = _with_probes(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(vec_col).alias("qn"),
        ),
        "qv",
        centroids,
        nprobe,
    ).select("query_id", "qv", "qn", F.explode("probes").alias("list_id"))
    scored = (
        F.broadcast(q)
        .join(cand, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot_product("qv", "cv") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Oracle generation: the centroids are plan literals, so the exact same
# probe + rank computation is expressible in DuckDB SQL.
# ---------------------------------------------------------------------------


def _sql_double_list(vals: list[float]) -> str:
    # .17e scientific literals parse as DOUBLE (not DECIMAL) in DuckDB
    # and round-trip bit-exactly at 17 significant digits.
    return "[" + ", ".join(f"{v:.17e}" for v in vals) + "]"


def knn_ivf_oracle_sql(
    parquet_path: str,
    k: int = 5,
    *,
    n_centroids: int = 16,
    nprobe: int = 4,
    query_filter: str = "vec_id < 16",
) -> str:
    """DuckDB SQL computing the identical IVF result: same centroids
    (trained by the Spark-free replica), same scores, same probes, same
    exact rank. Valid for the parquet file it was generated against."""
    centroids = train_centroids_from_parquet(parquet_path, n_centroids)
    scores = "[" + ", ".join(
        f"{{'s': {_cc(c):.17e} - 2.0e0 * list_inner_product(v, {_sql_double_list(c)}), 'i': {i}}}"
        for i, c in enumerate(centroids)
    ) + "]"
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {scores} AS scores
      FROM embeddings
    ), asg AS (
      SELECT vec_id, v, list_min(scores).i AS list_id, scores
      FROM b
    ), probes AS (
      SELECT vec_id AS query_id, v AS qv,
             unnest(list_transform(
               list_slice(list_sort(scores), 1, {nprobe}), x -> x.i)) AS plist
      FROM asg WHERE {query_filter}
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_inner_product(p.qv, c.v) /
             (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) AS cosine
      FROM probes p JOIN asg c ON p.plist = c.list_id
      WHERE p.query_id != c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY query_id, rank
    """
