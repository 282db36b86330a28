"""Product quantization (Jégou et al. 2011) — the compression behind
billion-scale ANN indexes (FAISS IVF-PQ): split each d-dim vector
into ``m`` subvectors, train an independent small codebook (k-means,
k codes) per subspace, and store each vector as m one-byte code ids.
64-dim float32 (256 B) becomes 8 B with distance computation reduced
to m table lookups per candidate.

Built entirely from this repo's exactly-reproducible integer k-means
(``kmeans.lloyd_train``): coordinates quantize to 1e-6 int64 once,
every subspace codebook trains with exact integer arithmetic, and the
final code assignment is a map-side nested-array-literal argmin — so
the WHOLE PIPELINE (8 trainings + encoding + per-vector quantization
error) is reproduced bit-for-bit by an unrolled DuckDB oracle, which
is normally impossible for float k-means.

Scale shape: one quantize+checkpoint pass, then per subspace
``iters`` rounds of (map-side assignment + k-row partial-agg shuffle)
— driver traffic m*k*dsub ints total; encoding is a single map-side
pass over the checkpointed vectors. At 100 TB pass ``sample_mod=N``:
codebooks train on the deterministic sha256 bucket-0 1/N-sample (only
the sample is checkpointed) and the encode pass STREAMS over the full
corpus exactly once, un-materialized — the two-phase shape the default
full-table path (kept for the bit-exact DuckDB oracles) collapses at
local scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.similarity.kmeans import (
    QUANT,
    _iteration_sql,
    _matrix_sql,
    quantized_expr,
    sampled_train_set,
)



def _pq_best_sql(s: int, dsub: int, codebook: list[list[int]], *, e_col: str = "e") -> str:
    """SQL text of the per-subspace argmin struct<d, i> — the exact
    tree ``_pq_best`` built via Py4J, emitted as one parseable string
    (r10: DataFrame construction, not execution, dominated every PQ
    trainer iteration — see kmeans._best_sql). Same slice bounds, same
    zip_with/aggregate fold, same (d, i) tie-break."""
    return (
        f"array_min(transform({_matrix_sql(codebook)}, (c, i) -> "
        f"named_struct('d', aggregate(zip_with(slice({e_col}, {s * dsub + 1}, {dsub}), c, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), "
        f"'i', CAST(i AS BIGINT))))"
    )


def _encode_sql(m: int, dsub: int, codebooks: list[list[list[int]]]) -> str:
    """SQL text of the m-subspace encode array: one struct per
    subspace with its code id and quantization error — the explode
    input ``pq_codes``/``knn_pq``/``knn_ivfpq`` share."""
    structs = [
        f"named_struct('subspace', {s}L, 'b', {_pq_best_sql(s, dsub, codebooks[s])})"
        for s in range(m)
    ]
    return "array(" + ",".join(structs) + ")"


def _dim_and_seeds(
    train: DataFrame, quant: DataFrame, n: int, *, smallest: bool, who: str
) -> tuple[int, list]:
    """ONE bounded collect serving dimension inference AND the Lloyd
    seed vectors (r10 job-count optimization: the old shape paid a
    separate ``first()`` job for d plus a second collect for init).
    ``smallest=False`` fetches rows with vec_id < n (the oracle-pinned
    contiguous init); ``smallest=True`` the n smallest ids present
    (sampled path). Degenerate inputs keep the r9-pinned error
    precedence — an empty TABLE raises the family's non-empty contract
    error; the extra emptiness probe job runs only on that path."""
    base = (
        train.orderBy("vec_id").limit(n)
        if smallest
        else train.filter(F.col("vec_id") < n).orderBy("vec_id")
    )
    rows = base.select("vec_id", "e").collect()
    if rows:
        return len(rows[0].e), rows
    first = quant.select("e").first()
    if first is None:
        raise ValueError(f"{who} requires a non-empty embeddings table")
    return len(first.e), rows


def pq_codes(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """(vec_id, subspace, code, err_q): each vector's code id per
    subspace plus the exact squared quantization error to its chosen
    code — m rows per vector (the exploded layout keeps every cell a
    scalar integer, hash-stable cross-engine).

    ``sample_mod=N``: codebooks train on the sha256 bucket-0 1/N
    sample (only the sample checkpointed); encoding streams over the
    full corpus once, un-materialized. Default None = oracle-pinned
    full-corpus training."""
    quant = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized_expr(vec_col).alias("e")
    )
    if sample_mod is None:
        q = quant.localCheckpoint(eager=True)  # cut: every PQ round re-reads it
        train, smallest = q, False
    else:
        # cut: every PQ round re-reads it
        train = sampled_train_set(quant, sample_mod).localCheckpoint(eager=True)
        q, smallest = quant, True
    d, seeds = _dim_and_seeds(train, quant, k, smallest=smallest, who="PQ training")
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    codebooks = _train_all(
        train, m, k, iters, dsub, init_smallest_k=smallest, seeds=[r.e for r in seeds]
    )

    return (
        q.select(
            "vec_id", F.explode(F.expr(_encode_sql(m, dsub, codebooks))).alias("ps")
        )
        .select(
            "vec_id",
            F.col("ps.subspace").alias("subspace"),
            F.col("ps.b.i").alias("code"),
            F.col("ps.b.d").alias("err_q"),
        )
        .orderBy("vec_id", "subspace")
    )


def _train_all(
    q: DataFrame,
    m: int,
    k: int,
    iters: int,
    dsub: int,
    *,
    init_smallest_k: bool = False,
    seeds: list | None = None,
) -> list[list[list[int]]]:
    """All m subspace codebooks trained together: per Lloyd round ONE
    Spark job computes every subspace's per-code sums (explode the m
    (subspace, code, subvector) assignments, one groupBy(s, code)
    shuffle of m*k rows after partial agg) — 2 jobs total for iters=2
    instead of m*iters, and the per-round cost is independent of m.
    The arithmetic is identical to running lloyd_train per subspace
    (same integer sums, same rounding), which the oracle relies on.

    ``seeds``: pre-collected full-dimension seed VECTORS in vec_id
    order (exactly the rows the collect below would fetch, possibly
    more — the first k are used), letting callers that already hold a
    seed collect skip this function's init job (r10)."""
    from p6__mapreduce_spark.similarity.kmeans import _round_half_away

    if seeds is not None:
        init = seeds
    elif init_smallest_k:
        init = [r.e for r in q.orderBy("vec_id").limit(k).select("e").collect()]
    else:
        init = [
            r.e
            for r in q.filter(F.col("vec_id") < k).orderBy("vec_id").select("e").collect()
        ]
    if len(init) < k:
        if init_smallest_k:
            raise ValueError(f"training set has {len(init)} vectors, need k={k}")
        # same explicit precondition as the sampled path — a table
        # with fewer than k seed vectors raised a bare IndexError
        # at codebook indexing before (r9 degenerate-input audit)
        raise ValueError(
            f"training set has {len(init)} vectors with vec_id < {k}, "
            f"need k={k} (contiguous ids 0..k-1)"
        )
    codebooks = [
        [list(e[s * dsub : (s + 1) * dsub]) for e in init[:k]] for s in range(m)
    ]
    # per-round plan built as ONE parsed SQL expression + pre-rendered
    # aggregate strings: the old per-Column Py4J construction was ~60%
    # of each round's wall time at sf0.1 (see kmeans._best_sql); the
    # parsed tree and its exact integer arithmetic are unchanged
    sum_exprs = [f"sum(element_at(v, {j + 1})) AS s{j}" for j in range(dsub)]
    for _ in range(iters):
        structs = [
            f"named_struct('s', {s}L, "
            f"'code', {_pq_best_sql(s, dsub, codebooks[s])}.i, "
            f"'v', slice(e, {s * dsub + 1}, {dsub}))"
            for s in range(m)
        ]
        stats = (
            q.select(F.explode(F.expr("array(" + ",".join(structs) + ")")).alias("x"))
            .select("x.s", "x.code", "x.v")
            .groupBy("s", "code")
            .agg(F.expr("count(1) AS n"), *[F.expr(e) for e in sum_exprs])
            .collect()
        )
        by_key = {(int(r.s), int(r.code)): r for r in stats}
        codebooks = [
            [
                [
                    _round_half_away(by_key[(s, c)][f"s{j}"] * 1.0 / by_key[(s, c)]["n"])
                    for j in range(dsub)
                ]
                if (s, c) in by_key
                else codebooks[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return codebooks



def pq_oracle_sql(
    m: int = 8, k: int = 16, iters: int = 2, dsub: int = 8, sample_mod: int | None = None
) -> str:
    """The full PQ pipeline — m independent unrolled Lloyd chains over
    sliced vectors plus the final per-subspace assignments — as ONE
    DuckDB query (the per-subspace CTE chains share the WITH via name
    prefixes).

    ``sample_mod=N`` replays the sampled-training path: every chain's
    init and rounds run over the sha256 bucket-0 1/N sample (init =
    the k smallest sampled ids' subvectors, numbered in id order —
    ``_train_all(init_smallest_k=True)``); the per-subspace ENCODE
    still scans the full table."""
    parts = [
        f"""qq AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {QUANT}.0) AS BIGINT) for x in embedding] AS e
  FROM embeddings
)"""
    ]
    if sample_mod is not None:
        parts.append(
            f"""tr AS (
  SELECT vec_id, e FROM qq
  WHERE CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % {sample_mod} = 0
)"""
        )
    selects = []
    for s in range(m):
        pre = f"p{s}"
        parts.append(
            f"{pre}q AS (SELECT vec_id, e[{s * dsub + 1}:{(s + 1) * dsub}] AS e FROM qq)"
        )
        if sample_mod is None:
            train_src = f"{pre}q"
            parts.append(
                f"{pre}c0 AS (SELECT vec_id AS cluster_id, e AS c FROM {pre}q WHERE vec_id < {k})"
            )
        else:
            train_src = f"{pre}t"
            parts.append(
                f"{pre}t AS (SELECT vec_id, e[{s * dsub + 1}:{(s + 1) * dsub}] AS e FROM tr)"
            )
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
  FROM (
    SELECT q.vec_id, c.cluster_id,
           CAST(list_sum(list_transform(list_zip(q.e, c.c),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
    FROM {pre}q q CROSS JOIN {pre}c{iters} c
  )
)"""
        )
        selects.append(
            f"SELECT vec_id, CAST({s} AS BIGINT) AS subspace, cluster_id AS code, dist AS err_q "
            f"FROM {pre}asg WHERE rn = 1"
        )
    union = "\nUNION ALL\n".join(selects)
    return "WITH " + ",\n".join(parts) + f"\n{union}\nORDER BY vec_id, subspace"


def knn_pq(
    embeddings: DataFrame,
    n_queries: int = 16,
    topk: int = 5,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int | None = None,
) -> DataFrame:
    """ANN search over the PQ codes via Asymmetric Distance
    Computation (the FAISS search path): per query, ONE m*k
    distance-to-code table replaces all vector arithmetic — a
    candidate's approximate distance is m table lookups summed. Here
    the lookup tables join against the (vec_id, subspace, code) rows
    and one groupBy(query, candidate) sums the m partial distances;
    top-k per query via the rank window. All distances are exact
    integers in quantized space, so the whole search — training,
    encoding, tables, ranking — is reproduced by the SQL oracle.

    Scale shape: the code table is the 8-byte-per-vector compressed
    corpus; the ADC join shuffles codes (m rows/vector), the lookup
    tables are a broadcast of n_queries*m*k ints, and the final agg is
    keyed by (query, candidate). 100 TB of raw vectors becomes ~3% as
    many bytes of codes — the point of PQ."""
    from pyspark.sql import Window

    quant = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized_expr(vec_col).alias("e")
    )
    if sample_mod is None:
        # ONE seed collect serves d-inference, codebook init (vec_id<k)
        # and the ADC query vectors (vec_id<n_queries) — the old shape
        # paid three separate jobs (r10)
        q = quant.localCheckpoint(eager=True)  # cut: every PQ round re-reads it
        d, seeds = _dim_and_seeds(
            q, quant, max(k, n_queries), smallest=False, who="PQ encoding"
        )
        dsub = d // m
        codebooks = _train_all(
            q, m, k, iters, dsub, seeds=[r.e for r in seeds if r.vec_id < k]
        )
        queries = [r for r in seeds if r.vec_id < n_queries]
    else:
        # cut: every PQ round re-reads it
        train = sampled_train_set(quant, sample_mod).localCheckpoint(eager=True)
        d, seeds = _dim_and_seeds(train, quant, k, smallest=True, who="PQ encoding")
        dsub = d // m
        codebooks = _train_all(
            train, m, k, iters, dsub, init_smallest_k=True, seeds=[r.e for r in seeds]
        )
        q = quant  # full corpus: single streaming encode pass below
        queries = q.filter(F.col("vec_id") < n_queries).orderBy("vec_id").collect()

    # corpus codes: (vec_id, subspace, code)
    codes = q.select(
        "vec_id", F.explode(F.expr(_encode_sql(m, dsub, codebooks))).alias("ps")
    ).select(
        "vec_id", F.col("ps.subspace").alias("subspace"), F.col("ps.b.i").alias("code")
    )

    # query-side ADC tables: exact integer distance from each query's
    # subvector to every code of every subspace (driver computes
    # n_queries*m*k ints from the collected query vectors — bounded)
    rows = []
    for qr in queries:
        qe = list(qr.e)
        for s in range(m):
            sub = qe[s * dsub : (s + 1) * dsub]
            for c, cent in enumerate(codebooks[s]):
                dist = sum((a - b) * (a - b) for a, b in zip(sub, cent))
                rows.append((int(qr.vec_id), s, c, int(dist)))
    spark = embeddings.sparkSession
    tables = local_frame(
        spark, rows, "query_id long, subspace long, code long, dq long"
    )

    scored = (
        codes.join(F.broadcast(tables), ["subspace", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dq").alias("adc_dist_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist_q").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "vec_id", "adc_dist_q")
        .orderBy("query_id", "rank")
    )


def knn_pq_oracle_sql(
    n_queries: int = 16, topk: int = 5, m: int = 8, k: int = 16, iters: int = 2, dsub: int = 8
) -> str:
    """ADC search as SQL on top of the unrolled PQ chains: the lookup
    table is the cross join of query subvectors x trained codebooks
    (exact integer distances), joined to the per-subspace code
    assignments and summed."""
    base = pq_oracle_sql(m=m, k=k, iters=iters, dsub=dsub)
    with_body = base[len("WITH ") : base.index("\nSELECT vec_id, CAST(0 AS BIGINT)")]
    # rebuild: keep every CTE, discard the UNION tail; then add search
    ctes = [with_body]
    code_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, CAST({s} AS BIGINT) AS subspace, cluster_id AS code "
        f"FROM p{s}asg WHERE rn = 1"
        for s in range(m)
    )
    table_union = "\nUNION ALL\n".join(
        f"""SELECT q.vec_id AS query_id, CAST({s} AS BIGINT) AS subspace, c.cluster_id AS code,
       CAST(list_sum(list_transform(list_zip(q.e, c.c),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dq
FROM p{s}q q CROSS JOIN p{s}c{iters} c WHERE q.vec_id < {n_queries}"""
        for s in range(m)
    )
    return f"""WITH {ctes[0]},
codes AS ({code_union}),
tables AS ({table_union}),
scored AS (
  SELECT t.query_id, codes.vec_id, CAST(SUM(t.dq) AS BIGINT) AS adc_dist_q
  FROM codes JOIN tables t USING (subspace, code)
  GROUP BY 1, 2
)
SELECT query_id, rank, vec_id, adc_dist_q FROM (
  SELECT query_id, vec_id, adc_dist_q,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist_q ASC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {topk}
ORDER BY query_id, rank"""
