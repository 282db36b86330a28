"""Distributed Lloyd k-means over the full embeddings table, exactly
cross-engine reproducible.

`similarity/ivf.py` trains centroids driver-side on a bounded sample;
this module is the complementary *distributed* trainer: every Lloyd
iteration scans the whole table, the per-cluster statistics (count +
per-dimension coordinate sums) are computed by Spark, and only k×d
integers return to the driver to form the next round's centroids —
exactly how Spark MLlib's KMeans iterates (collect-and-rebroadcast of
a few KB per round), so the shape survives 100 TB unchanged: per
iteration one map-side assignment pass (nested-array centroid literal,
same Janino-safe pattern as ``ivf._scores_expr``) and one shuffle
whose payload is the k×d partial sums per map task, never the vectors.

What makes it *exactly* oracle-checkable — normally impossible for
float k-means because per-cluster mean is a float sum whose value
depends on addition order — is coordinate quantization: embeddings are
scaled by 1e6 and rounded to int64 up front, so distances and cluster
sums are exact integer arithmetic (order-independent), and the single
rounding in the centroid update (round(sum/count), half away from
zero) is applied to a ratio of exact integers, which every engine's
double division computes bit-identically. The algorithm is honestly
"k-means on 1e-6-quantized coordinates": same clustering behavior
(quantization error 5e-7 per coordinate vs. embedding scale ~0.3),
deterministic everywhere.

Init = the embeddings of the k smallest ids (deterministic,
data-defined, no RNG); an empty cluster keeps its previous centroid
(standard Lloyd fallback), mirrored by the oracle's LEFT JOIN +
COALESCE.

Sample training (``sample_mod``): at 100 TB the centroids don't need
the whole corpus — pass ``sample_mod=N`` to train on the deterministic
sha256 bucket-0 sample (1/N of rows, the same engine-portable bucket
every sampler in this repo uses, see ``dedup/geometry.py``). Only the
small TRAINING SAMPLE is materialized (localCheckpoint); the full
corpus is touched exactly once, by the final un-checkpointed map-side
assignment pass fused with quantization. Default ``None`` keeps the
bit-exact full-corpus training the DuckDB oracles replay; the sampled
path is equally deterministic (the bucket predicate is a pure function
of vec_id) and since round 5 has its OWN registered oracle
(``kmeans_lloyd_sampled`` via ``kmeans_oracle_sql(sample_mod=N)``), so
the 100 TB two-phase shape is driver-checkable, not just argued.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame

QUANT = 1_000_000


def quantized_expr(vec_col: str) -> Column:
    """array<bigint>: round(coord * 1e6), half away from zero — Spark's
    BigDecimal HALF_UP on the exact double equals DuckDB's std::round."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(QUANT))).cast("long"),
    )


def _matrix_sql(cents: list[list[int]]) -> str:
    """The centroid matrix as ONE SQL nested-array literal. Parsed as
    ``CreateArray`` of foldable rows, it constant-folds to a single
    array<array<bigint>> Literal — a codegen *reference object*, i.e.
    data, never unrolled Janino source (the same values-as-data
    discipline as the old ``F.lit`` path; see ivf._scores_expr)."""
    return (
        "array("
        + ",".join("array(" + ",".join(f"{int(x)}L" for x in c) + ")" for c in cents)
        + ")"
    )


def _best_sql(e_col: str, cents: list[list[int]]) -> str:
    """SQL text of struct<d: squared L2 distance (exact bigint), i:
    cluster id> of the nearest centroid; ``array_min`` over (d, i)
    structs breaks distance ties toward the lowest cluster id.

    Emitted as ONE SQL string instead of a py4j-built Column tree
    (r10 optimization, guide §1/§4 "driver does no data work"): the
    old ``_best_expr`` paid one Py4J round trip per Column node —
    ~10 per centroid — and profiling showed DataFrame CONSTRUCTION,
    not execution, dominated every Lloyd iteration (build 1.4-2.9 s
    vs 0.11 s steady execution at sf0.1). One ``F.expr`` call parses
    the whole expression JVM-side in ~ms. The parsed tree is
    node-for-node the tree ``_best_expr`` built: same zip_with/
    aggregate fold order, same exact integer arithmetic, same
    (d, i) tie-break — oracle hashes unchanged."""
    return (
        f"array_min(transform({_matrix_sql(cents)}, (c, i) -> "
        f"named_struct('d', aggregate(zip_with({e_col}, c, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), "
        f"'i', CAST(i AS BIGINT))))"
    )


def _best_expr(e_col: str, cents: list[list[int]]) -> Column:
    """Column form of :func:`_best_sql` (one Py4J call)."""
    return F.expr(_best_sql(e_col, cents))


def _round_half_away(v: float) -> int:
    """round-half-away-from-zero on the exact double value — matches
    DuckDB round(DOUBLE) and Spark round(); Python's built-in round()
    is banker's rounding and math.floor(v + 0.5) misrounds doubles just
    below .5, so go through exact Decimal."""
    return int(Decimal(v).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def sampled_train_set(q: DataFrame, sample_mod: int) -> DataFrame:
    """Deterministic 1/sample_mod training sample: sha256-nibble bucket
    0 of vec_id — the identical engine-portable bucket used by
    ``dedup/geometry.py`` and ``operators/pipeline.py``, so which rows
    train is a pure function of the data, never of partitioning or RNG
    state."""
    nib8 = F.substring(F.sha2(F.col("vec_id").cast("string"), 256), 1, 8)
    return q.filter((F.conv(nib8, 16, 10).cast("long") % F.lit(sample_mod)) == 0)


def lloyd_train(
    q: DataFrame,
    k: int,
    iters: int,
    *,
    init_smallest_k: bool = False,
    seeds: list | None = None,
) -> list[list[int]]:
    """The driver-coordinated Lloyd loop over a (vec_id, e) DataFrame
    of quantized int64 vectors: init = the k smallest ids' vectors,
    per round one map-side assignment + one k-row partial-agg shuffle,
    k*d ints back to the driver. Shared by kmeans_lloyd and the
    product quantizer (which trains one codebook per subspace).

    ``init_smallest_k`` switches init from ``vec_id < k`` (the oracle-
    pinned default — assumes contiguous ids from 0) to the k smallest
    ids PRESENT (orderBy + limit), which a hash-sampled training set
    needs because bucket 0 has no reason to contain ids 0..k-1.

    ``seeds``: pre-collected init rows (vec_id-ordered, the same rows
    the collect below would fetch, possibly more — the first k are
    used). Callers that already hold a seed collect (the knn_* family
    shares ONE collect between dimension inference, k-means init, PQ
    init and the ADC query vectors) pass it here to skip this
    function's init job — r10 job-count optimization, arithmetic
    unchanged."""
    if seeds is not None:
        init = seeds
    elif init_smallest_k:
        init = q.orderBy("vec_id").limit(k).select("vec_id", "e").collect()
    else:
        init = q.filter(F.col("vec_id") < k).orderBy("vec_id").select("vec_id", "e").collect()
    if len(init) < k:
        if init_smallest_k:
            raise ValueError(f"training set has {len(init)} vectors, need k={k}")
        # same explicit precondition as the sampled path: training
        # k centroids needs k seed vectors (ids 0..k-1 here) — an
        # empty/sparse table raised a bare IndexError before (r9)
        raise ValueError(
            f"training set has {len(init)} vectors with vec_id < {k}, "
            f"need k={k} (contiguous ids 0..k-1)"
        )
    cents: list[list[int]] = [list(r.e) for r in init[:k]]
    d = len(cents[0])
    # the d per-dimension sums as pre-rendered SQL (one Py4J call per
    # column instead of two nested builder calls; the assignment argmin
    # is one selectExpr) — same aggregates, same exact integer sums
    sum_exprs = [f"sum(element_at(e, {i + 1})) AS s{i}" for i in range(d)]
    for _ in range(iters):
        assigned = q.selectExpr(
            f"{_best_sql('e', cents)}.i AS cluster_id", "e"
        )
        stats = (
            assigned.groupBy("cluster_id")
            .agg(F.expr("count(1) AS n"), *[F.expr(s) for s in sum_exprs])
            .collect()
        )
        by_cluster = {int(r.cluster_id): r for r in stats}
        cents = [
            [
                _round_half_away(by_cluster[c][f"s{i}"] * 1.0 / by_cluster[c]["n"])
                for i in range(d)
            ]
            if c in by_cluster
            else cents[c]  # empty cluster: keep previous centroid
            for c in range(k)
        ]
    return cents


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """`iters` Lloyd rounds then a final assignment; returns one row per
    (cluster_id, dim): the final centroid coordinate plus the cluster's
    point count and total inertia (exploded layout so every output cell
    is a scalar integer — hash-stable across engines, no array-
    rendering ambiguity).

    Driver memory is k×d int64 per round regardless of table size; the
    per-round Spark job is scan → map-side assignment → partial-agg
    shuffle of k rows × (d+1) columns.

    ``sample_mod=N``: train on the deterministic sha256 bucket-0
    1/N-sample (only the SAMPLE is checkpointed); the full corpus is
    read exactly once by the final assignment pass, never materialized
    — the 100 TB shape SCALE.md promises. Init becomes the k smallest
    sampled ids. Default None = bit-exact oracle-pinned full training.
    """
    spark = embeddings.sparkSession
    quant = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized_expr(vec_col).alias("e")
    )
    if sample_mod is None:
        # one materialization feeds init + every iteration + the final
        # stats (2*iters + 2 separate jobs otherwise re-scan the source
        # and re-quantize each time — measured ~40% of wall at sf0.1)
        q = quant.localCheckpoint(eager=True)  # cut: every Lloyd round re-reads it
        cents = lloyd_train(q, k, iters)
        full = q
    else:
        # cut: every Lloyd round re-reads it
        train = sampled_train_set(quant, sample_mod).localCheckpoint(eager=True)
        cents = lloyd_train(train, k, iters, init_smallest_k=True)
        full = quant  # single streaming pass below, no checkpoint
    best = _best_expr("e", cents)
    final_stats = (
        full.select(
            best.getField("i").alias("cluster_id"), best.getField("d").alias("dist")
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_points"), F.sum("dist").alias("inertia_q"))
    )
    cent_rows = [
        (c, dim + 1, int(coord))
        for c, cent in enumerate(cents)
        for dim, coord in enumerate(cent)
    ]
    cent_df = local_frame(spark, cent_rows, "cluster_id long, dim long, coord_q long")
    return (
        cent_df.join(F.broadcast(final_stats), "cluster_id", "left")
        .select(
            "cluster_id",
            "dim",
            "coord_q",
            F.coalesce("n_points", F.lit(0).cast("long")).alias("n_points"),
            F.coalesce("inertia_q", F.lit(0).cast("long")).alias("inertia_q"),
        )
        .orderBy("cluster_id", "dim")
    )


def _iteration_sql(prev: str, nxt: str, step: int, k: int, *, src: str = "q", pre: str = "") -> str:
    """One unrolled Lloyd round: assignment (window argmin with the
    same (distance, cluster_id) tie-break), per-(cluster, dim) integer
    sums, centroid update with empty-cluster COALESCE. ``src`` names
    the quantized-vectors CTE and ``pre`` prefixes the working CTE
    names so multiple chains (one per PQ subspace) can coexist in a
    single WITH."""
    return f"""
{pre}a{step} AS (
  SELECT vec_id, e, cluster_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM (
    SELECT q.vec_id, q.e, c.cluster_id,
           CAST(list_sum(list_transform(list_zip(q.e, c.c),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
    FROM {src} q CROSS JOIN {prev} c
  )
),
{pre}s{step} AS (
  SELECT cluster_id, dim, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n
  FROM (SELECT cluster_id, generate_subscripts(e, 1) AS dim, unnest(e) AS v
        FROM {pre}a{step} WHERE rn = 1)
  GROUP BY 1, 2
),
{nxt}x AS (
  SELECT p.cluster_id, p.dim,
         COALESCE(CAST(round(s.s * 1.0 / s.n) AS BIGINT), p.coord) AS coord
  FROM (SELECT cluster_id, generate_subscripts(c, 1) AS dim, unnest(c) AS coord
        FROM {prev}) p
  LEFT JOIN {pre}s{step} s USING (cluster_id, dim)
),
{nxt} AS (
  SELECT cluster_id, list(coord ORDER BY dim) AS c FROM {nxt}x GROUP BY 1
)"""


def kmeans_oracle_sql(k: int = 8, iters: int = 2, sample_mod: int | None = None) -> str:
    """The identical computation as straight DuckDB SQL (no literals:
    init, every iteration, and the final stats all run in-query).

    ``sample_mod=N`` replays the SAMPLED-training path: rounds and
    init run over the sha256 bucket-0 1/N sample (init = the k
    smallest ids PRESENT in the sample, numbered in id order — exactly
    ``lloyd_train(init_smallest_k=True)``), while the final assignment
    + stats still scan the full table. The sample predicate is a pure
    function of vec_id, so even the 100 TB two-phase shape is
    bit-exactly cross-engine checkable."""
    src = "q" if sample_mod is None else "tr"
    rounds = ",".join(
        _iteration_sql(f"c{i}", f"c{i + 1}", i + 1, k, src=src) for i in range(iters)
    )
    if sample_mod is None:
        train_ctes = f"c0 AS (SELECT vec_id AS cluster_id, e AS c FROM q WHERE vec_id < {k})"
    else:
        train_ctes = f"""tr AS (
  SELECT vec_id, e FROM q
  WHERE CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % {sample_mod} = 0
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster_id, e AS c
  FROM (SELECT vec_id, e FROM tr ORDER BY vec_id LIMIT {k})
)"""
    fin = iters
    return f"""
WITH q AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {QUANT}.0) AS BIGINT) for x in embedding] AS e
  FROM embeddings
),
{train_ctes},
{rounds},
af AS (
  SELECT vec_id, cluster_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM (
    SELECT q.vec_id, c.cluster_id,
           CAST(list_sum(list_transform(list_zip(q.e, c.c),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
    FROM q CROSS JOIN c{fin} c
  )
),
st AS (
  SELECT cluster_id, COUNT(*) AS n_points, CAST(SUM(dist) AS BIGINT) AS inertia_q
  FROM af WHERE rn = 1 GROUP BY 1
)
SELECT cx.cluster_id, cx.dim, cx.coord AS coord_q,
       COALESCE(st.n_points, 0) AS n_points,
       COALESCE(st.inertia_q, 0) AS inertia_q
FROM (SELECT cluster_id, generate_subscripts(c, 1) AS dim, unnest(c) AS coord
      FROM c{fin}) cx
LEFT JOIN st USING (cluster_id)
ORDER BY cluster_id, dim
"""
