"""TextRank keyword extraction (Mihalcea & Tarau 2004), exactly
oracle-checkable.

Weighted PageRank over the corpus token co-occurrence graph: nodes are
tokens, an undirected edge joins each adjacent token pair (window = 2,
the paper's default), edge weight = corpus-wide co-occurrence count.
The stationary ranking surfaces corpus keywords — the unsupervised
signal curation pipelines use for topic tagging and stop-list mining.

Exact cross-engine reproducibility uses the same trick as
``similarity/kmeans.py`` — all rank mass lives in integer micro-units
(UNIT = 1e6) and every damping/contribution step is integer
arithmetic:

    contrib(u->v) = rank_q(u) * w(u,v) div out_w(u)      (trunc div)
    rank_q'(v)    = (15 * UNIT) div 100 + (85 * sum contribs) div 100

All quantities are non-negative, so Spark's ``div`` (truncating) and
DuckDB's ``//`` (flooring) agree. The damping constant d = 0.85 of the
paper becomes the 85/100 integer scaling. Quantization error per
iteration is sub-ppm of UNIT — ranking behavior is standard TextRank.

Unlike k-means (driver collects k*d sums per round), the whole
iteration stays IN-PLAN: ranks is a DataFrame joined against the edge
list each round, so the pattern scales to graphs that never fit on the
driver. Per iteration: one equi-join shuffle (ranks x edges on the
source token) + one groupBy(target) shuffle. The token graph is
vocabulary-sized — orders of magnitude smaller than the corpus that
produced it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.text import tokens_expr

UNIT = 1_000_000
DAMP_NUM, DAMP_DEN = 85, 100
BASE_Q = 15 * UNIT // 100


def cooccurrence_edges(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Symmetric weighted edge list (src, dst, w): adjacent-token pairs
    corpus-wide, self-loops dropped, both directions materialized (the
    undirected graph as a directed adjacency, which makes out-weight =
    weighted degree). Map-side pair explosion + ONE groupBy shuffle."""
    toks = docs.select(tokens_expr(text_col).alias("w"))
    n_pairs = F.greatest(F.size("w") - F.lit(1), F.lit(0))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, n_pairs).alias("a"), F.slice("w", 2, n_pairs).alias("b")
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    directed = pairs.filter(F.col("a") != F.col("b"))
    sym = directed.union(directed.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return (
        sym.groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def textrank_keywords(
    docs: DataFrame, *, iters: int = 2, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Top-k tokens by quantized TextRank after ``iters`` in-plan
    power iterations (rank_q in 1e-6 units of the uniform init).

    The adjacency (edges + out-weight) is MATERIALIZED once
    (localCheckpoint — the written-intermediate every iterative graph
    job uses at cluster scale): every iteration and the rank init
    consume it, and without the checkpoint Spark re-runs the
    explode+aggregate subtree per consumer — measured 8.5x wall at 10x
    data versus ~2x with the checkpoint. Out-weight rides a window
    over the same shuffle as the edge aggregation's key instead of a
    separate join."""
    from pyspark.sql import Window

    edges = cooccurrence_edges(docs, text_col=text_col)
    # cut: pin measured 0.75 -> 0.84 s at sf0.1 (textrank_keywords, 0/5 pin wins)
    adj = edges.withColumn(
        "out_w", F.sum("w").over(Window.partitionBy("src"))
    ).localCheckpoint(eager=True)

    ranks = (
        adj.select(F.col("src").alias("token"))
        .distinct()
        .select("token", F.lit(UNIT).cast("long").alias("rank_q"))
    )
    for _ in range(iters):
        contrib = adj.join(
            ranks, adj["src"] == ranks["token"]
        ).select(
            F.col("dst"),
            F.expr("rank_q * w div out_w").alias("c"),
        )
        ranks = contrib.groupBy(F.col("dst").alias("token")).agg(
            (
                F.lit(BASE_Q).cast("long")
                + F.expr(f"{DAMP_NUM} * sum(c) div {DAMP_DEN}")
            ).alias("rank_q")
        )
    return ranks.orderBy(F.col("rank_q").desc(), "token").limit(top_k)


TEXTRANK_ORACLE_SQL = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), idx AS (
  SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2
), pairs AS (
  SELECT w[i] AS a, w[i+1] AS b FROM idx WHERE w[i] <> w[i+1]
), sym AS (
  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
), edges AS (
  SELECT a AS src, b AS dst, COUNT(*) AS w FROM sym GROUP BY 1, 2
), outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY 1
), adj AS (
  SELECT e.src, e.dst, e.w, o.out_w FROM edges e JOIN outw o USING (src)
), r0 AS (
  SELECT src AS token, CAST({unit} AS BIGINT) AS rank_q FROM outw
),
{rounds}
SELECT token, rank_q FROM r{iters}
ORDER BY rank_q DESC, token LIMIT {top_k}
"""

_ROUND_SQL = """r{n} AS (
  SELECT a.dst AS token,
         CAST({base_q} + {dnum} * SUM(r.rank_q * a.w // a.out_w) // {dden} AS BIGINT) AS rank_q
  FROM adj a JOIN r{p} r ON a.src = r.token
  GROUP BY 1
)"""


def textrank_oracle_sql(iters: int = 2, top_k: int = 20) -> str:
    rounds = ",\n".join(
        _ROUND_SQL.format(n=i + 1, p=i, base_q=BASE_Q, dnum=DAMP_NUM, dden=DAMP_DEN)
        for i in range(iters)
    )
    return TEXTRANK_ORACLE_SQL.format(
        unit=UNIT, rounds=rounds, iters=iters, top_k=top_k
    )
