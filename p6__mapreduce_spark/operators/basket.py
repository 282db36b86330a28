"""Market-basket association rules over order line items — the
support/confidence/lift core of frequent-itemset mining (Agrawal &
Srikant 1994), specialized to pairs.

Full Apriori/FP-growth generality is unnecessary for the dominant
retail question ("which parts co-occur in orders beyond chance?") and
its generic-candidate explosion is exactly what kills naive ports at
scale. Pair mining has a tight distributed shape:

- collapse lineitem to DISTINCT (order, part) — one shuffle;
- self-join WITHIN the order key: the join is equi on l_orderkey, so
  pair fan-out is Σ k_o·(k_o−1)/2 over per-order item counts k_o —
  linear in orders for bounded basket sizes (TPC-H ~4, retail ~10),
  never corpus²; a pathological mega-basket is an input-data property
  surfaced by the basket-size profile, not a plan hazard;
- aggregate pair supports, join the two per-part support legs, and a
  1-row order-count scalar for lift.

Exactness: supports are integer counts; confidence and lift are each
ONE IEEE division of exact int64 products, so the DuckDB oracle
matches bit-for-bit. ``min_pair_support`` prunes the hapax-pair tail
(noise for rule purposes AND the bulk of the output) AFTER supports
are computed, so surviving statistics are unaffected by the cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin


def basket_part_pairs(lineitem: DataFrame, min_pair_support: int = 3) -> DataFrame:
    """(part1, part2, supp_pair, supp1, supp2, n_orders, confidence,
    lift): association statistics for part pairs co-occurring in at
    least ``min_pair_support`` orders. confidence = P(part2 | part1)
    with part1 < part2 (the symmetric direction is derivable);
    lift > 1 ⇔ co-occurrence beyond independence."""
    # The DISTINCT (order, part) basket relation feeds FOUR consumers
    # (per-part supports, both self-join sides, the order count); left
    # unpinned, per-branch column pruning makes the subtrees unequal so
    # the lineitem scan + distinct shuffle re-runs per consumer (plan
    # audit r10: 5 lineitem scans). Pin it once — the basket table is
    # the natural written intermediate of any market-basket pipeline
    # at 100 TB (one corpus pass, then vocabulary-bounded work).
    items = pin(lineitem.select("l_orderkey", "l_partkey").distinct())
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    a = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part1"))
    b = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part2"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("part1") < F.col("part2"))
        .groupBy("part1", "part2")
        .agg(F.count(F.lit(1)).alias("supp_pair"))
        .filter(F.col("supp_pair") >= min_pair_support)
    )
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    s1 = supp.select(F.col("l_partkey").alias("part1"), F.col("supp").alias("supp1"))
    s2 = supp.select(F.col("l_partkey").alias("part2"), F.col("supp").alias("supp2"))
    return (
        pairs.join(s1, "part1")
        .join(s2, "part2")
        .crossJoin(F.broadcast(n_orders))  # 1-row scalar broadcast (labeled)
        .select(
            "part1",
            "part2",
            "supp_pair",
            "supp1",
            "supp2",
            "n_orders",
            (F.col("supp_pair") * F.lit(1.0) / F.col("supp1")).alias("confidence"),
            (
                (F.col("supp_pair") * F.col("n_orders"))
                * F.lit(1.0)
                / (F.col("supp1") * F.col("supp2"))
            ).alias("lift"),
        )
        .orderBy("part1", "part2")
    )


BASKET_ORACLE_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS supp FROM items GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2,
         CAST(COUNT(*) AS BIGINT) AS supp_pair
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_pair_support}
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
)
SELECT p.part1, p.part2, p.supp_pair, s1.supp AS supp1, s2.supp AS supp2,
       n.n_orders,
       p.supp_pair * 1.0e0 / s1.supp AS confidence,
       (p.supp_pair * n.n_orders) * 1.0e0 / (s1.supp * s2.supp) AS lift
FROM pairs p
JOIN supp s1 ON s1.l_partkey = p.part1
JOIN supp s2 ON s2.l_partkey = p.part2
CROSS JOIN n
ORDER BY p.part1, p.part2
"""


def basket_oracle_sql(min_pair_support: int = 3) -> str:
    return BASKET_ORACLE_SQL.format(min_pair_support=min_pair_support)


def apriori_triples(lineitem: DataFrame, *, minsup: int = 2, k: int = 100) -> DataFrame:
    """Frequent 3-itemsets by the Apriori level-wise sweep (Agrawal &
    Srikant 1994) — the step past `basket_part_pairs`' pair counts,
    and the classic demonstration of ANTI-MONOTONE pruning at scale:
    a triple can only be frequent if all three of its pairs are, so
    each level's candidate space is cut by the level below BEFORE the
    expensive count.

    Plan: L1 (frequent items) prunes the baskets; L2 (frequent pairs)
    is counted on the pruned baskets; the triple count then
    semi-joins each of its three constituent pairs against L2 — the
    (a, b) prefix is pruned BEFORE the third explode, so the raw
    Sigma |basket|^3 space never materializes for prefixes the pair
    level already killed. The report is the top-``k`` candidate
    triples by exact support (a hard triple-support cut goes empty on
    sparse baskets at scale); all counts exact int64, lift3 =
    s * n_baskets^2 / (s_a * s_b * s_c) one final double ratio.

    Scale shape: every explode is bounded by the (pruned) basket size
    per order row; L1/L2/L3 relations are item-vocabulary bounded;
    the L2 semi-joins broadcast while small (AQE) — the textbook
    distributed Apriori (= the SON/PFP family's per-level shape)."""
    # Same multi-consumer pin as basket_part_pairs: op feeds n_baskets,
    # L1 and the pruned-basket build (plan audit r10: 7 lineitem scans
    # without it). One corpus pass materializes the basket relation —
    # the SON/PFP per-level discipline.
    op = pin(
        lineitem.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    )
    n_baskets = op.select(F.count_distinct("o").alias("nb"))
    l1 = (
        op.groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("s1"))
        .filter(F.col("s1") >= int(minsup))
    )
    # the pruned baskets feed five subtree consumers (a, b twice, c);
    # pin so the L1 semi-join runs once, not per consumer
    pruned = pin(op.join(l1, "p").select("o", "p", "s1"))
    a, b, c = (pruned.alias(x) for x in "abc")
    col = F.col
    # cut: pin measured 4.58 -> 5.96 s at sf0.1 (apriori_triples, 0/5 pin wins)
    l2 = (
        a.join(b, col("a.o") == col("b.o"))
        .filter(col("a.p") < col("b.p"))
        .groupBy(col("a.p").alias("x"), col("b.p").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("s2"))
        .filter(F.col("s2") >= int(minsup))
        .localCheckpoint(eager=True)  # three semi-joins fan out
    )
    # prune (a, b) against L2 BEFORE extending with c — the level-wise
    # point: the third explode only runs on surviving pair prefixes
    ab = (
        a.join(b, col("a.o") == col("b.o"))
        .filter(col("a.p") < col("b.p"))
        .select(
            col("a.o").alias("o"),
            col("a.p").alias("pa"),
            col("b.p").alias("pb"),
            col("a.s1").alias("sa"),
            col("b.s1").alias("sb"),
        )
        .join(
            l2.select(col("x").alias("pa"), col("y").alias("pb")),
            ["pa", "pb"],
            "left_semi",
        )
    )
    triples = (
        ab.alias("ab").join(c, col("ab.o") == col("c.o"))
        .filter(col("ab.pb") < col("c.p"))
        .select(
            "pa", "pb", col("c.p").alias("pc"), "sa", "sb", col("c.s1").alias("sc")
        )
    )
    for x, y in (("pa", "pc"), ("pb", "pc")):
        triples = triples.join(
            l2.select(col("x").alias(x), col("y").alias(y)), [x, y], "left_semi"
        )
    dd = lambda cc: F.col(cc).cast("double")  # noqa: E731
    return (
        triples.groupBy("pa", "pb", "pc", "sa", "sb", "sc")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "pa",
            "pb",
            "pc",
            "support",
            "sa",
            "sb",
            "sc",
            (
                dd("support")
                * dd("nb")
                * dd("nb")
                / (dd("sa") * dd("sb") * dd("sc"))
            ).alias("lift3"),
        )
        .orderBy(F.col("support").desc(), "pa", "pb", "pc")
        .limit(int(k))
    )


APRIORI_ORACLE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), nb AS (
  SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS nb FROM op
), l1 AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS s1 FROM op GROUP BY 1
  HAVING COUNT(*) >= {minsup}
), pruned AS (
  SELECT op.o, op.p, l1.s1 FROM op JOIN l1 ON l1.p = op.p
), l2 AS (
  SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS s2
  FROM pruned a JOIN pruned b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {minsup}
), tri AS (
  SELECT a.p AS pa, b.p AS pb, c.p AS pc, a.s1 AS sa, b.s1 AS sb, c.s1 AS sc
  FROM pruned a
  JOIN pruned b ON a.o = b.o AND a.p < b.p
  JOIN pruned c ON a.o = c.o AND b.p < c.p
  JOIN l2 ab ON ab.x = a.p AND ab.y = b.p
  JOIN l2 ac ON ac.x = a.p AND ac.y = c.p
  JOIN l2 bc ON bc.x = b.p AND bc.y = c.p
)
SELECT pa, pb, pc, CAST(COUNT(*) AS BIGINT) AS support, sa, sb, sc,
       CAST(COUNT(*) AS DOUBLE) * CAST(nb.nb AS DOUBLE) * CAST(nb.nb AS DOUBLE)
         / (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE)) AS lift3
FROM tri CROSS JOIN nb
GROUP BY pa, pb, pc, sa, sb, sc, nb.nb
ORDER BY support DESC, pa, pb, pc
LIMIT {k}
"""


def apriori_oracle_sql(minsup: int = 2, k: int = 100) -> str:
    return APRIORI_ORACLE_SQL.format(minsup=minsup, k=k)
