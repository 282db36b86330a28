"""IVF-PQ: the composite ANN index behind billion-scale search
(Jégou et al. 2011; the FAISS `IndexIVFPQ` architecture), built from
this repo's exactly-reproducible integer pieces:

1. a COARSE quantizer (`kmeans.lloyd_train`, k_coarse cells) partitions
   the corpus into inverted lists;
2. each vector's RESIDUAL (vector - its cell centroid, exact int64
   subtraction) is product-quantized (`pq._train_all`, m subspaces ×
   k codes) — residuals have far less energy than raw vectors, which
   is why IVF-PQ beats flat PQ at equal code budget;
3. a query scans only its ``nprobe`` nearest cells, computing ONE
   m×k ADC lookup table per probed cell from ITS residual against the
   shared codebooks, then sums m lookups per candidate.

Because every step is integer arithmetic on 1e-6-quantized
coordinates, the ENTIRE index build + search — coarse training, cell
assignment, residuals, codebook training, encoding, probing, ADC —
is replayed bit-for-bit by one DuckDB oracle (queries.py), something
float ANN implementations cannot offer.

Scale shape: training is the lloyd/PQ collect-k×d loop (driver
traffic bounded by k_coarse×d + m×k×dsub ints per round;
``sample_mod`` trains on the sha256 bucket-0 sample like the
siblings); the corpus pass is ONE map-side assign+residual+encode
projection (the index is (vec_id, cell, m codes) ≈ 10 B/vector);
search joins a broadcast of n_queries×nprobe×m×k lookup ints against
the code table with the CELL key pruning the candidate space to the
probed inverted lists — the corpus-side work is |probed lists|, not
|corpus|, exactly the IVF point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.similarity.kmeans import (
    _best_sql,
    _matrix_sql,
    lloyd_train,
    quantized_expr,
    sampled_train_set,
)
from p6__mapreduce_spark.similarity.pq import _dim_and_seeds, _encode_sql, _train_all


def _nearest_cell(e: list[int], coarse: list[list[int]]) -> int:
    """Driver-side replica of ``_best_expr``'s argmin for a single
    vector: exact integer squared L2 with the same (distance, cell)
    tie-break. Python ints are exact, so this matches the Spark
    expression bit-for-bit — used to derive the PQ init residuals from
    the already-collected seed vectors instead of running a separate
    collect job over the residual DataFrame (r10)."""
    return min(
        (sum((a - b) * (a - b) for a, b in zip(e, cent)), ci)
        for ci, cent in enumerate(coarse)
    )[1]


def _residual_vec(e: list[int], coarse: list[list[int]]) -> list[int]:
    cent = coarse[_nearest_cell(e, coarse)]
    return [a - b for a, b in zip(e, cent)]


def _residual_df(q: DataFrame, coarse: list[list[int]]) -> DataFrame:
    """(vec_id, cell, e): nearest coarse cell + exact integer residual,
    one map-side projection (centroid matrix is a plan literal; both
    projections are parsed SQL — see kmeans._best_sql)."""
    return q.selectExpr(
        "vec_id", "e", f"{_best_sql('e', coarse)}.i AS cell"
    ).selectExpr(
        "vec_id",
        "cell",
        f"zip_with(e, element_at({_matrix_sql(coarse)}, CAST(cell + 1 AS INT)), "
        f"(a, b) -> a - b) AS e",
    )


def knn_ivfpq(
    embeddings: DataFrame,
    n_queries: int = 16,
    topk: int = 5,
    k_coarse: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """(query_id, rank, vec_id, cell, adc_dist_q): top-k candidates per
    query by residual-ADC distance over the ``nprobe`` probed cells.
    Queries are the ``n_queries`` smallest vec_ids (deterministic,
    data-defined, like the sibling knn_* entries); candidates outside
    every probed cell are never scored — a query CAN miss its true
    neighbor, which is the recall/cost dial IVF exposes (audited for
    the plain IVF path by `ann_recall_audit`).
    """
    from pyspark.sql import Window

    quant = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized_expr(vec_col).alias("e")
    )
    if sample_mod is None:
        # ONE seed collect serves d-inference, the coarse k-means init
        # (vec_id < k_coarse), the PQ codebook init (residuals of
        # vec_id < k, computed driver-side with the exact same integer
        # argmin/subtraction as _residual_df) and the ADC query vectors
        # (vec_id < n_queries) — the old shape paid four separate jobs
        # for these (r10 job-count optimization, arithmetic unchanged).
        q = quant.localCheckpoint(eager=True)  # cut: every training round re-reads it
        d, seeds = _dim_and_seeds(
            q, quant, max(k_coarse, k, n_queries), smallest=False, who="IVF-PQ"
        )
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        dsub = d // m
        coarse = lloyd_train(
            q, k_coarse, iters, seeds=[r for r in seeds if r.vec_id < k_coarse]
        )
        # materialize the residuals ONCE: they feed every PQ round plus
        # the final encode, and un-checkpointed each consumer re-ran the
        # coarse argmin + subtraction over the corpus (r10; this is the
        # full-table ORACLE path — the 100 TB shape is sample_mod, which
        # only ever streams the full corpus once, un-materialized)
        res = _residual_df(q, coarse).localCheckpoint(eager=True)  # cut: every PQ round re-reads it
        codebooks = _train_all(
            res,
            m,
            k,
            iters,
            dsub,
            seeds=[_residual_vec(list(r.e), coarse) for r in seeds if r.vec_id < k],
        )
        queries = [r for r in seeds if r.vec_id < n_queries]
    else:
        # cut: every training round re-reads it
        train = sampled_train_set(quant, sample_mod).localCheckpoint(eager=True)
        # seed collect over the SAMPLE: first k_coarse rows seed the
        # coarse trainer, first k rows' residuals seed the PQ trainer
        # (both are "the n smallest sampled ids" — limit(max) collects
        # them once); queries still come from the full corpus below.
        d, seeds = _dim_and_seeds(
            train, quant, max(k_coarse, k), smallest=True, who="IVF-PQ"
        )
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        dsub = d // m
        coarse = lloyd_train(
            train, k_coarse, iters, init_smallest_k=True, seeds=seeds
        )
        codebooks = _train_all(
            # bounded (sample-sized) — checkpointing it keeps each PQ
            # round's plan a leaf scan instead of re-deriving residuals
            _residual_df(train, coarse).localCheckpoint(eager=True),
            m,
            k,
            iters,
            dsub,
            init_smallest_k=True,
            seeds=[_residual_vec(list(r.e), coarse) for r in seeds],
        )
        q = quant  # full corpus: single streaming pass below
        res = _residual_df(q, coarse)
        queries = q.filter(F.col("vec_id") < n_queries).orderBy("vec_id").collect()

    # corpus index: (vec_id, cell, subspace, code) — one map-side pass
    codes = res.select(
        "vec_id", "cell", F.explode(F.expr(_encode_sql(m, dsub, codebooks))).alias("ps")
    ).select(
        "vec_id",
        "cell",
        F.col("ps.subspace").alias("subspace"),
        F.col("ps.b.i").alias("code"),
    )

    # query side, driver-built and broadcast (bounded:
    # n_queries * nprobe * m * k ints): probed cells by exact integer
    # L2 to the coarse centroids, ADC table from each probed cell's
    # query RESIDUAL vs the shared codebooks. ``queries`` was already
    # fetched above (seed collect / full-corpus collect per mode).
    rows = []
    for qr in queries:
        qe = list(qr.e)
        cell_d = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qe, cent)), ci)
            for ci, cent in enumerate(coarse)
        )
        for dist_c, ci in cell_d[:nprobe]:
            qres = [a - b for a, b in zip(qe, coarse[ci])]
            for s in range(m):
                sub = qres[s * dsub : (s + 1) * dsub]
                for c, cent in enumerate(codebooks[s]):
                    dq = sum((a - b) * (a - b) for a, b in zip(sub, cent))
                    rows.append((int(qr.vec_id), ci, s, c, int(dq)))
    spark = embeddings.sparkSession
    tables = local_frame(
        spark, rows, "query_id long, cell long, subspace long, code long, dq long"
    )

    scored = (
        codes.join(F.broadcast(tables), ["cell", "subspace", "code"])
        .groupBy("query_id", "vec_id", "cell")
        .agg(F.sum("dq").alias("adc_dist_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist_q").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "vec_id", "cell", "adc_dist_q")
        .orderBy("query_id", "rank")
    )


def ivfpq_oracle_sql(
    n_queries: int = 16,
    topk: int = 5,
    k_coarse: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dsub: int = 8,
    sample_mod: int | None = None,
) -> str:
    """The ENTIRE IVF-PQ pipeline as one DuckDB query, no literals:
    coarse Lloyd chain, cell assignment, integer residuals, m residual
    PQ chains, probed cells, per-(query, cell) ADC tables, summed
    lookups, top-k. Every intermediate is exact integer arithmetic, so
    this replays the Spark plan bit-for-bit.

    ``sample_mod=N`` replays the sampled-training path: coarse init
    and rounds run over the sha256 bucket-0 1/N sample, the PQ chains
    over the SAMPLE's residuals (inits = k smallest sampled ids,
    row-numbered); assignment, residuals, encoding and search still
    scan the full table."""
    from p6__mapreduce_spark.similarity.kmeans import QUANT, _iteration_sql

    l2 = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    parts = [
        f"""qq AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {QUANT}.0) AS BIGINT) for x in embedding] AS e
  FROM embeddings
)"""
    ]
    if sample_mod is None:
        coarse_src = "qq"
        parts.append(
            f"cc0 AS (SELECT vec_id AS cluster_id, e AS c FROM qq WHERE vec_id < {k_coarse})"
        )
    else:
        coarse_src = "tr"
        parts.append(
            f"""tr AS (
  SELECT vec_id, e FROM qq
  WHERE CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % {sample_mod} = 0
)"""
        )
        parts.append(
            f"""cc0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster_id, e AS c
  FROM (SELECT vec_id, e FROM tr ORDER BY vec_id LIMIT {k_coarse})
)"""
        )
    for i in range(iters):
        parts.append(
            _iteration_sql(
                f"cc{i}", f"cc{i + 1}", i + 1, k_coarse, src=coarse_src, pre="cc"
            ).lstrip()
        )
    fin = f"cc{iters}"
    parts.append(
        f"""asgc AS (
  SELECT vec_id, cluster_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM (SELECT q.vec_id, c.cluster_id, {l2.format(a="q.e", b="c.c")} AS dist
        FROM qq q CROSS JOIN {fin} c)
)"""
    )
    parts.append(
        f"""res AS (
  SELECT q.vec_id, a.cluster_id AS cell,
         list_transform(list_zip(q.e, c.c), z -> z[1] - z[2]) AS e
  FROM asgc a JOIN qq q USING (vec_id) JOIN {fin} c ON c.cluster_id = a.cluster_id
  WHERE a.rn = 1
)"""
    )
    if sample_mod is not None:
        parts.append(
            "rtr AS (SELECT r.vec_id, r.e FROM res r JOIN tr USING (vec_id))"
        )
    code_selects, table_selects = [], []
    for s in range(m):
        pre, lo, hi = f"p{s}", s * dsub + 1, (s + 1) * dsub
        parts.append(f"{pre}q AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM res)")
        if sample_mod is None:
            train_src = f"{pre}q"
            parts.append(
                f"{pre}c0 AS (SELECT vec_id AS cluster_id, e AS c FROM {pre}q WHERE vec_id < {k})"
            )
        else:
            train_src = f"{pre}t"
            parts.append(f"{pre}t AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM rtr)")
            parts.append(
                f"""{pre}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster_id, e AS c
  FROM (SELECT vec_id, e FROM {pre}t ORDER BY vec_id LIMIT {k})
)"""
            )
        for i in range(iters):
            parts.append(
                _iteration_sql(
                    f"{pre}c{i}", f"{pre}c{i + 1}", i + 1, k, src=train_src, pre=pre
                ).lstrip()
            )
        parts.append(
            f"""{pre}asg AS (
  SELECT vec_id, cluster_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM (SELECT q.vec_id, c.cluster_id, {l2.format(a="q.e", b="c.c")} AS dist
        FROM {pre}q q CROSS JOIN {pre}c{iters} c)
)"""
        )
        code_selects.append(
            f"SELECT a.vec_id, r.cell, CAST({s} AS BIGINT) AS subspace, "
            f"a.cluster_id AS code FROM {pre}asg a JOIN res r USING (vec_id) WHERE a.rn = 1"
        )
        table_selects.append(
            f"""SELECT r.query_id, r.cell, CAST({s} AS BIGINT) AS subspace,
       c.cluster_id AS code, {l2.format(a=f"r.e[{lo}:{hi}]", b="c.c")} AS dq
FROM qres r CROSS JOIN p{s}c{iters} c"""
        )
    parts.append(
        f"""qcells AS (
  SELECT vec_id AS query_id, cluster_id AS cell, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM (SELECT q.vec_id, c.cluster_id, {l2.format(a="q.e", b="c.c")} AS dist
        FROM qq q CROSS JOIN {fin} c WHERE q.vec_id < {n_queries})
)"""
    )
    parts.append(
        f"""qres AS (
  SELECT p.query_id, p.cell, list_transform(list_zip(q.e, c.c), z -> z[1] - z[2]) AS e
  FROM qcells p JOIN qq q ON q.vec_id = p.query_id JOIN {fin} c ON c.cluster_id = p.cell
  WHERE p.rn <= {nprobe}
)"""
    )
    parts.append("codes AS (" + "\nUNION ALL\n".join(code_selects) + ")")
    parts.append("tables AS (" + "\nUNION ALL\n".join(table_selects) + ")")
    parts.append(
        """scored AS (
  SELECT t.query_id, codes.vec_id, codes.cell, CAST(SUM(t.dq) AS BIGINT) AS adc_dist_q
  FROM codes JOIN tables t USING (cell, subspace, code)
  GROUP BY 1, 2, 3
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, rank, vec_id, cell, adc_dist_q FROM (
  SELECT query_id, vec_id, cell, adc_dist_q,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist_q ASC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {topk}
ORDER BY query_id, rank"""
    )
