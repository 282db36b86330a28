"""Triangle counting / local clustering coefficients over the
near-duplicate graph — degree-oriented (Schank & Wagner 2005
"node-iterator++", the algorithm behind every distributed triangle
count since Suri & Vassilvitskii's MR-cohen paper).

Why it matters for a dedup pipeline: connected-component size alone
can't distinguish a CHAIN of borderline near-dups (A~B~C with A,C
unrelated — transitive-closure over-merging) from a CLIQUE of true
copies. Triangle density is exactly that signal: cliques are
triangle-saturated (local clustering coefficient 1), chains have none.
Curation policy can then collapse cliques aggressively and send chainy
components to review.

Scale shape: the naive wedge join explodes on hot nodes (a node of
degree d makes d² wedges). Orienting every edge from its lower-
(degree, id) endpoint to the higher caps out-degree at O(sqrt(m)), so
wedge volume is O(m^{3/2}) worst-case and data-proportional in
practice — three self-equi-joins on the edge list, no cartesian, no
driver state. Per-node counts come from exploding each triangle to its
3 corners (triangle volume is already bounded by the wedge volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected edge list
    ``(id1 < id2)``: degree, triangle count, and the local clustering
    coefficient 2T/(deg·(deg−1)) as an exact floor-quantized 1e6 int
    (micro-units) so both engines agree bit-for-bit.

    Every node that appears in an edge is output (isolated nodes have
    no edges to appear with), ordered by id.
    """
    # cut: the edges feed the degree count and every arc branch of one
    # action; pin measured 5.30 -> 19.40 s at sf0.1 (dedup_triangle_stats,
    # 0/5 pin wins), unmaterialized ran a 3 GB driver heap out of memory
    edges = pairs.select(
        F.col("id1").cast("long").alias("a"), F.col("id2").cast("long").alias("b")
    ).localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge from the endpoint lower in the (deg, id) total
    # order to the higher; with ids distinct the order is total, so
    # each undirected edge yields exactly one arc and max out-degree
    # is O(sqrt(m)).
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    ranked = edges.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    arcs = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # Wedges at the minimum-order corner; canonicalize the open pair
    # (x ≺ y in plain id order is NOT the arc order, so look the
    # closing arc up in both directions via a canonical key).
    w1 = arcs.select(F.col("src").alias("u"), F.col("dst").alias("x"))
    w2 = arcs.select(F.col("src").alias("u"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    # The closing edge, if present, is stored as exactly one arc whose
    # {src,dst} = {x,y}; match on the unordered pair.
    closing = arcs.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"])  # one row per triangle
    corners = (
        tris.select(F.col("u").alias("v"))
        .unionAll(tris.select(F.col("x").alias("v")))
        .unionAll(tris.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(corners, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.floor(
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    * F.lit(2_000_000)
                    / (F.col("deg") * (F.col("deg") - 1))
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_q6"),
        )
        .orderBy("doc_id")
    )


# Oracle: exact-Jaccard >= {threshold} k-shingle pair edges (the same
# pair set MinHash-LSH produces — recall argument in dedup/minhash.py),
# then the a<b<c triple join. Triangle identity needs no orientation in
# SQL; the Spark side's orientation is a pure execution strategy.
TRIANGLE_ORACLE_SQL = """
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
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT id1 AS v FROM edges UNION ALL SELECT id2 FROM edges
  ) GROUP BY 1
), tri AS (
  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
  FROM edges e1
  JOIN edges e2 ON e2.id1 = e1.id1 AND e2.id2 > e1.id2
  JOIN edges e3 ON e3.id1 = e1.id2 AND e3.id2 = e2.id2
), corners AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT deg.v AS doc_id, deg.degree,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.degree >= 2
            THEN floor(coalesce(c.n_triangles, 0) * 2000000 / (deg.degree * (deg.degree - 1)))
            ELSE 0 END AS BIGINT) AS lcc_q6
FROM deg LEFT JOIN corners c ON c.v = deg.v
ORDER BY doc_id
"""


def triangle_oracle_sql(k: int = 3, threshold: float = 0.8) -> str:
    return TRIANGLE_ORACLE_SQL.format(k=k, threshold=threshold)
