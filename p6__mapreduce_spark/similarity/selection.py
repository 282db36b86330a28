"""Diversity-aware data selection: MMR re-ranking and k-center coresets.

Two greedy selection primitives every curation/retrieval stack needs:

- **Maximal Marginal Relevance** (Carbonell & Goldstein 1998): re-rank
  a relevance-ordered candidate pool so each pick balances relevance
  against redundancy with what's already picked —
  ``argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)``. The standard
  diversifier for RAG context windows and eval-set construction.
- **k-center coreset** (Gonzalez 1985 greedy, 2-approximation): pick k
  points so the max distance from any point to its nearest pick is
  (near-)minimal — farthest-point traversal. The geometry-coverage
  sampler for "small but representative" training subsets (Sener &
  Savarese 2018 use exactly this for active learning).

Scale shape: MMR pools to ``pool_size`` candidates via TakeOrdered
(parallel partial top-k, no global sort); everything after is bounded
by the pool, and the greedy loop's driver traffic is ONE (id, score)
row per pick. k-center keeps a distributed per-point min-distance
column updated map-side against one broadcast center per round (the
Lloyd-iteration discipline from similarity/kmeans.py — driver traffic
is k·d floats total); the argmax per round is a 1-row TakeOrdered.
No full pairwise matrix ever materializes: cost is k scans, each
embarrassingly parallel — the right shape at 100 TB where n² is
impossible but k·n is one pipeline pass per pick.

Exactness discipline: cosines / squared distances are computed from
the proven bit-reproducible dot-product fold (functions/vectors.py ↔
DuckDB ``list_inner_product``), quantized to int64 at 1e12 BEFORE any
comparison, and the greedy arithmetic is pure integer
(λ = lam_num/10 → score = lam_num·rel_q − (10−lam_num)·max_sim_q), so
argmax ties break identically in both engines (score desc, id asc).
The DuckDB oracles replay the ENTIRE greedy loop as recursive CTEs
with LATERAL argmax — the selection sequence itself is verified, not
just the final set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.functions.vectors import dot_product, l2_norm

Q = 1_000_000_000_000  # 1e12 fixed-point scale for cosines / distances


def _rel_pool(embeddings: DataFrame, query_vec_id: int, pool_size: int) -> DataFrame:
    """Top-``pool_size`` candidates by quantized cosine relevance to
    the query vector (excluded from its own pool). TakeOrdered — no
    global sort."""
    qv = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv"), l2_norm("embedding").alias("qn")
    )
    return (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))  # 1-row query-vector broadcast (labeled)
        .select(
            "vec_id",
            "embedding",
            F.round(
                (dot_product("embedding", "qv") / (l2_norm("embedding") * F.col("qn")))
                * F.lit(float(Q))
            )
            .cast("long")
            .alias("rel_q"),
        )
        .orderBy(F.desc("rel_q"), "vec_id")
        .limit(pool_size)
    )


def mmr_diversified_topk(
    embeddings: DataFrame,
    *,
    query_vec_id: int = 0,
    k: int = 8,
    pool_size: int = 30,
    lam_num: int = 7,
) -> DataFrame:
    """(step, doc_id, rel_q, mmr_q): the MMR selection sequence over
    the relevance pool, λ = lam_num/10. The first pick's redundancy
    term is 0 (empty selected set), so mmr_q(1) = lam_num·rel_q.

    Driver traffic: one (id, score) row per pick (k rows total) — the
    BPE-argmax discipline. The pool and its pairwise sim matrix are
    localCheckpointed once (≤ pool_size² rows) and every round is a
    bounded join + 1-row TakeOrdered over them."""
    spark = embeddings.sparkSession
    # cut: every pick re-reads it
    pool = _rel_pool(embeddings, query_vec_id, pool_size).localCheckpoint(eager=True)
    a = pool.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"), "rel_q")
    b = pool.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    sims = (
        a.join(b, F.col("ida") != F.col("idb"))  # bounded pool-grid (≤ pool² rows)
        .select(
            "ida",
            "idb",
            F.round(
                (dot_product("va", "vb") / (l2_norm("va") * l2_norm("vb"))) * F.lit(float(Q))
            )
            .cast("long")
            .alias("sim_q"),
        )
        .localCheckpoint(eager=True)  # cut: every pick re-reads it
    )
    schema = "step long, doc_id long, rel_q long, mmr_q long"
    chosen: list[tuple[int, int, int, int]] = []  # (step, id, rel_q, mmr_q)
    first = pool.orderBy(F.desc("rel_q"), "vec_id").select("vec_id", "rel_q").first()
    if first is None:  # empty pool — mirror the oracle's recursion, which
        return local_frame(spark, [], schema)  # simply never starts
    chosen.append((1, first["vec_id"], first["rel_q"], lam_num * first["rel_q"]))
    for step in range(2, k + 1):
        sel_ids = [c[1] for c in chosen]
        pick = (
            sims.filter(F.col("idb").isin(sel_ids) & ~F.col("ida").isin(sel_ids))
            .groupBy("ida")
            .agg(F.max("sim_q").alias("ms"))
            .join(pool.select(F.col("vec_id").alias("ida"), "rel_q"), "ida")
            .select(
                "ida",
                "rel_q",
                (F.lit(lam_num) * F.col("rel_q") - F.lit(10 - lam_num) * F.col("ms")).alias(
                    "score"
                ),
            )
            .orderBy(F.desc("score"), "ida")
            .first()  # 1-row driver round-trip per pick (bounded: k rows total)
        )
        if pick is None:  # pool exhausted before k picks — stop, return
            break  # the shorter selection (oracle's step < k recursion stops too)
        chosen.append((step, pick["ida"], pick["rel_q"], pick["score"]))
    return local_frame(spark, chosen, schema).orderBy("step")


def mmr_oracle_sql(
    *, query_vec_id: int = 0, k: int = 8, pool_size: int = 30, lam_num: int = 7
) -> str:
    """DuckDB replica: the WHOLE greedy loop as a recursive CTE with a
    LATERAL argmax per step — verifies the selection SEQUENCE."""
    return f"""
WITH RECURSIVE
qv AS (
  SELECT embedding::DOUBLE[] AS v, sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM embeddings WHERE vec_id = {query_vec_id}
),
pool AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
         CAST(round(list_inner_product(e.embedding::DOUBLE[], q.v)
                    / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * q.n)
                    * 1000000000000.0) AS BIGINT) AS rel_q
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> {query_vec_id}
  ORDER BY rel_q DESC, e.vec_id LIMIT {pool_size}
),
sims AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         CAST(round(list_inner_product(a.emb, b.emb)
                    / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb)))
                    * 1000000000000.0) AS BIGINT) AS sim_q
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
),
sel AS (
  SELECT CAST(1 AS BIGINT) AS step, vec_id AS doc_id, rel_q,
         CAST({lam_num} * rel_q AS BIGINT) AS mmr_q, [vec_id] AS chosen
  FROM (SELECT vec_id, rel_q FROM pool ORDER BY rel_q DESC, vec_id LIMIT 1)
  UNION ALL
  SELECT s.step + 1, p.doc_id, p.rel_q, p.score, list_append(s.chosen, p.doc_id)
  FROM sel s, LATERAL (
    SELECT c.vec_id AS doc_id, c.rel_q,
           CAST({lam_num} * c.rel_q - {10 - lam_num} * (
             SELECT MAX(m.sim_q) FROM sims m
             WHERE m.ida = c.vec_id AND list_contains(s.chosen, m.idb)
           ) AS BIGINT) AS score
    FROM pool c WHERE NOT list_contains(s.chosen, c.vec_id)
    ORDER BY score DESC, c.vec_id LIMIT 1
  ) p
  WHERE s.step < {k}
)
SELECT step, doc_id, rel_q, mmr_q FROM sel ORDER BY step
"""


def _d2_q(vec_col, center_lit):
    """Quantized squared L2 distance ||a − c||² via the proven dot
    fold: (dot(a,a) − 2·dot(a,c)) + dot(c,c), one fixed-shape double
    expression over three bit-reproducible folds."""
    aa = dot_product(vec_col, vec_col)
    ac = dot_product(vec_col, center_lit)
    cc = dot_product(center_lit, center_lit)
    return F.round(((aa - F.lit(2.0) * ac) + cc) * F.lit(float(Q))).cast("long")


def kcenter_coreset(embeddings: DataFrame, *, k: int = 8) -> DataFrame:
    """(step, center_id, radius_q): Gonzalez farthest-point traversal.
    Seed = min vec_id; each subsequent center is the point FARTHEST
    from the selected set (max over points of min distance to any
    center — the maximin), with radius_q = that point's quantized
    squared distance at selection time (a certified lower bound on the
    optimal k-center radius; the greedy is a 2-approximation).

    Distributed state: one (vec_id, mind_q) column updated map-side
    per round against the single new broadcast center — k scans total,
    each embarrassingly parallel; driver traffic k·d floats (the
    kmeans.py Lloyd discipline). localCheckpoint per round keeps the
    plan linear in k."""
    spark = embeddings.sparkSession
    schema = "step long, center_id long, radius_q long"
    seed = embeddings.orderBy("vec_id").select("vec_id", "embedding").first()
    if seed is None:  # empty table — the oracle's recursion never seeds
        return local_frame(spark, [], schema)
    centers: list[tuple[int, int, int]] = [(1, seed["vec_id"], 0)]
    center_vec = [float(x) for x in seed["embedding"]]

    pts = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    state = pts.select(
        "vec_id",
        "v",
        _d2_q("v", F.lit(center_vec).cast("array<double>")).alias("mind_q"),
    ).localCheckpoint(eager=True)  # cut: round-0 maximin state
    for step in range(2, k + 1):
        far = (
            state.filter(~F.col("vec_id").isin([c[1] for c in centers]))
            .orderBy(F.desc("mind_q"), "vec_id")
            .select("vec_id", "mind_q", "v")
            .first()  # 1-row maximin round-trip (k rows total)
        )
        if far is None:  # fewer than k points — return the shorter
            break  # traversal (oracle's step < k recursion stops too)
        centers.append((step, far["vec_id"], far["mind_q"]))
        cvec = [float(x) for x in far["v"]]
        state = state.select(
            "vec_id",
            "v",
            F.least(
                F.col("mind_q"), _d2_q("v", F.lit(cvec).cast("array<double>"))
            ).alias("mind_q"),
        ).localCheckpoint(eager=True)  # cut: rebuilt every pick
    return local_frame(spark, centers, schema).orderBy("step")


def kcenter_oracle_sql(*, k: int = 8) -> str:
    """DuckDB replica: recursive farthest-point traversal; min-over-
    chosen recomputed per step via the same (aa − 2ac) + cc quantized
    expression."""
    return f"""
WITH RECURSIVE
pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sel AS (
  SELECT CAST(1 AS BIGINT) AS step, vec_id AS center_id, CAST(0 AS BIGINT) AS radius_q,
         [vec_id] AS chosen
  FROM (SELECT vec_id FROM pts ORDER BY vec_id LIMIT 1)
  UNION ALL
  SELECT s.step + 1, far.center_id, far.radius_q, list_append(s.chosen, far.center_id)
  FROM sel s, LATERAL (
    SELECT p.vec_id AS center_id,
           (SELECT MIN(CAST(round(((list_inner_product(p.v, p.v)
                                    - 2.0 * list_inner_product(p.v, c.v))
                                   + list_inner_product(c.v, c.v)) * 1000000000000.0)
                       AS BIGINT))
            FROM pts c WHERE list_contains(s.chosen, c.vec_id)) AS radius_q
    FROM pts p WHERE NOT list_contains(s.chosen, p.vec_id)
    ORDER BY radius_q DESC, p.vec_id LIMIT 1
  ) far
  WHERE s.step < {k}
)
SELECT step, center_id, radius_q FROM sel ORDER BY step
"""
