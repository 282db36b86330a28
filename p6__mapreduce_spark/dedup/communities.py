"""Label-propagation communities over the near-duplicate graph.

Connected components (`dedup/components.py`) answer "what merges if we
trust every edge transitively" — one borderline edge welds two big
clusters together. Label propagation (Raghavan et al. 2007) is the
standard refinement: each node repeatedly adopts the label most common
among its NEIGHBORS, so dense near-dup cliques agree on one label in a
round or two while a single bridge edge cannot drag a whole cluster
across — the community structure curation actually wants when deciding
what to collapse.

Determinism: classic LPA is famously order-dependent (async updates,
random tie-breaks). This implementation is the SYNCHRONOUS variant
with a total tie order — every node updates from the same labeled
snapshot, majority ties break to the SMALLEST label — for a fixed
number of rounds. That makes the whole evolution a pure function of
the edge list: the DuckDB oracle replays each round as a chained CTE
and must agree bit-for-bit, and partition layout cannot change the
result (property-tested like the rest of the registry).

Scale shape: the corpus never appears — rounds run over the bounded
(edges, labels) relations. Per round: one equi-join of the symmetrized
edge list against the label snapshot, one (node, label) count
aggregation, one node-partitioned window for the argmax. All shuffles
key on node id; cost per round is O(|edges|) independent of corpus
size, and `rounds` is a fixed small constant (dense dup-cliques
converge in 1-2 rounds; the parameter is the usual LPA cap, not a
convergence search).

Reference scope note: the reference engine (mapreduce.c) has no graph
operators; this extends the dedup family the driver mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def label_propagation(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """(doc_id, community, community_size) for every node of the
    near-dup graph (nodes with at least one edge — singletons have no
    neighbors to vote). ``community`` is the label after ``rounds``
    synchronous majority-update rounds from labels = own id; ties in
    the majority vote break to the smallest label, so the result is a
    pure deterministic function of the edge set."""
    # cut: pin measured 4.50 -> 5.21 s at sf0.1 (dedup_label_propagation, 0/5 pin wins)
    edges = pairs.select(
        F.col("id1").cast("long").alias("a"), F.col("id2").cast("long").alias("b")
    ).localCheckpoint(eager=True)  # pin: reused every round
    sym = edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = sym.select(F.col("a").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym["b"] == labels["v"])
            .groupBy(sym["a"].alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("node").alias("v"), "label")
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("community_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("v").alias("doc_id"),
            F.col("label").alias("community"),
            "community_size",
        )
        .orderBy("doc_id")
    )


# Shared exact-Jaccard edge prefix (identical to the triangles oracle:
# the LSH+verify pair set equals the full-threshold join on this
# corpus, test-asserted in tests/test_dedup.py).
_EDGE_PREFIX = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), idx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - {k} + 2)) AS i FROM toks WHERE len(w) >= {k}
), sh AS (
  SELECT DISTINCT doc_id, list_aggregate(w[i : i + {k} - 1], 'string_agg', ' ') AS shingle
  FROM idx
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT id1, id2 FROM inter
  JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
  WHERE n_inter * 1.0 / (s1.n + s2.n - n_inter) >= {threshold}
), sym AS (
  SELECT id1 AS a, id2 AS b FROM edges UNION ALL SELECT id2, id1 FROM edges
), lab0 AS (
  SELECT DISTINCT a AS v, a AS label FROM sym
)"""


def label_propagation_oracle_sql(
    rounds: int = 3, k: int = 3, threshold: float = 0.8
) -> str:
    """DuckDB replay: the exact-Jaccard edge set, then each synchronous
    majority round as its own (votes, argmax) CTE pair."""
    parts = [_EDGE_PREFIX.format(k=k, threshold=threshold).strip()]
    for r in range(rounds):
        parts.append(
            f""", cnt{r + 1} AS (
  SELECT s.a AS v, l.label, COUNT(*) AS c
  FROM sym s JOIN lab{r} l ON l.v = s.b GROUP BY 1, 2
), lab{r + 1} AS (
  SELECT v, label FROM (
    SELECT v, label, row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC) AS rn
    FROM cnt{r + 1}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f""", sizes_f AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size FROM lab{rounds} GROUP BY 1
)
SELECT l.v AS doc_id, l.label AS community, s.community_size
FROM lab{rounds} l JOIN sizes_f s USING (label)
ORDER BY doc_id"""
    )
    return "".join(parts)
