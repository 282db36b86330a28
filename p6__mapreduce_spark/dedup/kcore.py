"""k-core decomposition of the near-duplicate graph.

The k-core (Seidman 1983) is the maximal subgraph where every node has
degree >= k INSIDE the subgraph — the standard "dense center" extract:
a near-dup component's 2-core is its actual duplication cluster, while
the degree-1 fringe hanging off it is borderline pairs that component
analysis would wrongly collapse. Combined with triangles
(`dedup/triangles.py`) and LPA (`dedup/communities.py`) this completes
the curation toolkit: components say what's connected, LPA says what
clusters, the core says what's DENSE.

Algorithm: synchronous peeling — drop every node with degree < k,
recompute degrees in the induced subgraph, repeat. Peeling is
confluent (the k-core is unique and independent of removal order), so
a fixed round count R reaches the exact core whenever the peel
converges within R rounds. Convergence IS checked: the operator runs
R rounds and raises if round R still removed nodes, so the
fixed-R DuckDB oracle (one chained CTE per round) is exact whenever
the operator returns at all — the run_streaming_late_drop
assert-your-assumption pattern.

Scale: rounds iterate over the bounded (edges, alive) relations; the
corpus builds the edge list once. Per round: one semi-join to the
alive set + one count aggregation, all node-keyed equi-joins,
O(|edges|) per round. Peel depth on near-dup graphs is tiny (cliques
peel in one round); R is a cap, not a search. The convergence check
reads ONE count per run (bounded driver traffic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kcore(pairs: DataFrame, k: int = 2, rounds: int = 6) -> DataFrame:
    """(doc_id, core_degree): nodes of the k-core of the undirected
    ``(id1, id2)`` edge list with their degree inside the core.
    Runs exactly ``rounds`` synchronous peel rounds and raises
    ValueError if the peel had not converged by then (making the
    fixed-round oracle exact for every value this returns)."""
    # cut: every in-plan peel round re-reads the edges; pin measured
    # 6.68 -> 17.87 s at sf0.1 (dedup_kcore, 0/5 pin wins)
    edges = pairs.select(
        F.col("id1").cast("long").alias("a"), F.col("id2").cast("long").alias("b")
    ).localCheckpoint(eager=True)
    sym = edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def survivors(alive: DataFrame) -> DataFrame:
        deg = (
            sym.join(alive.select(F.col("v").alias("a")), "a")
            .join(alive.select(F.col("v").alias("b")), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        return deg.filter(F.col("deg") >= k).select(F.col("a").alias("v"))

    alive = sym.select(F.col("a").alias("v")).distinct()
    for _ in range(rounds):
        alive = survivors(alive)
    # convergence check: one more peel must be a no-op (bounded driver
    # traffic: two counts). Confluence of peeling then guarantees
    # `alive` IS the k-core, so the R-round oracle replay is exact.
    # cut: the rounds-deep peel plan feeds two counts and the degree join
    alive = alive.localCheckpoint(eager=True)
    n_now = alive.count()
    n_next = survivors(alive).count()
    if n_next != n_now:
        raise ValueError(
            f"k-core peel did not converge in {rounds} rounds "
            f"({n_now} -> {n_next} nodes); raise `rounds`"
        )
    core_deg = (
        sym.join(alive.select(F.col("v").alias("a")), "a")
        .join(alive.select(F.col("v").alias("b")), "b")
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    return core_deg.select(F.col("a").alias("doc_id"), "core_degree").orderBy("doc_id")


def kcore_oracle_sql(k: int = 2, rounds: int = 6, shingle_k: int = 3, threshold: float = 0.8) -> str:
    """DuckDB replay: the exact-Jaccard edge set (shared prefix with
    the triangles/LPA oracles), then ``rounds`` peel CTEs.

    Every CTE here is MATERIALIZED: DuckDB inlines plain CTEs, and
    each peel round references ``sym`` twice and the previous round
    twice — un-materialized, the expansion re-evaluates the shingle
    self-join O(2^rounds) times (measured: 6 rounds at sf0.1 spilled
    >80 GB of temp storage before failing; materialized, the same
    query runs in seconds). The LPA/triangles siblings are linear
    chains, so inlining is harmless there."""
    from p6__mapreduce_spark.dedup.communities import _EDGE_PREFIX

    prefix = _EDGE_PREFIX.format(k=shingle_k, threshold=threshold).strip()
    prefix = prefix.replace("), sym AS (", "), sym AS MATERIALIZED (")
    parts = [prefix]
    parts.append(", alive0 AS MATERIALIZED (SELECT DISTINCT a AS v FROM sym)")
    for r in range(rounds):
        parts.append(
            f""", alive{r + 1} AS MATERIALIZED (
  SELECT a AS v FROM sym
  JOIN alive{r} x ON x.v = sym.a JOIN alive{r} y ON y.v = sym.b
  GROUP BY a HAVING COUNT(*) >= {k}
)"""
        )
    parts.append(
        f"""
SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM sym
JOIN alive{rounds} x ON x.v = sym.a JOIN alive{rounds} y ON y.v = sym.b
GROUP BY a ORDER BY doc_id"""
    )
    return "".join(parts)
