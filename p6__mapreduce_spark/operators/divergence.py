"""Jensen-Shannon divergence between per-source unigram distributions.

The corpus-mixing diagnostic: before blending N sources into a
training mix, you want the pairwise distributional distance between
them (is `web` basically `wiki`, or a different animal?). JSD is the
symmetric, bounded (≤ ln 2) choice; PSI (operators/… value_drift_psi)
covers the numeric-feature case, this covers vocabulary space.

Definition: JSD(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2, over the
unigram token distributions of two sources.

Scale shape: ONE explode+groupBy builds the (source, token, count)
table — vocabulary-sized, not corpus-sized; source totals are a
|sources|-row broadcast. Pair terms come from a single self-equi-join
on token (one shuffle); tokens present in only one source never
materialize a joined row — their KL contribution is exactly
c·ln 2, folded in closed form from (total − shared) counts, so the
join stays INNER and the plan has no null-handling outer join.

Exactness (house discipline, same as bigram_entropy): every
per-token log term quantizes to the 1e-6 fixed point —
floor((ln(p) − ln(m))·1e6 + 0.5) — BEFORE the count-weighted sum, so
the aggregation is an order-independent exact BIGINT sum in both
engines; only the two final ratios are float64 with mirrored
expression trees. ln(2) at the same fixed point is the literal
693147.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.text import tokens_expr

_LN2_Q6 = 693147  # floor(ln(2)*1e6 + 0.5)


def jsd_source_unigrams(docs: DataFrame) -> DataFrame:
    """Pairwise (source_a < source_b) Jensen-Shannon divergence over
    unigram token distributions, with shared-vocabulary size.

    DISJOINT-VOCAB POLICY (decided, by design of the INNER join): a
    pair of sources sharing ZERO tokens emits no row at all rather
    than the theoretical maximum jsd = ln 2. Rationale: (a) natural-
    language sources always share function words, so the case is
    degenerate in practice; (b) the missing row is unambiguous — every
    co-occurring pair IS present, so absence itself encodes
    "no overlap" losslessly (a consumer wanting the ln 2 convention
    can left-join the source-pair grid — |sources|² rows, tiny — and
    COALESCE jsd to ln 2 where n_shared_tokens is NULL); and (c) it
    keeps the corpus-scale plan outer-join-free. The oracle encodes
    the same inner-join semantics, so both engines agree row-for-row."""
    tokc = pin(
        docs.select("source", F.explode(tokens_expr("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # four consumers (self-join sides a/b + both total lookups):
        # materialize the vocab-sized count table once instead of
        # re-tokenizing the corpus per consumer (pq/kmeans discipline;
        # a written intermediate at cluster scale)
    )
    tot = tokc.groupBy("source").agg(F.sum("c").cast("long").alias("t"))

    a = tokc.alias("a").join(F.broadcast(tot.alias("ta")), F.col("a.source") == F.col("ta.source"))
    b = tokc.alias("b").join(F.broadcast(tot.alias("tb")), F.col("b.source") == F.col("tb.source"))
    joined = a.join(
        b,
        (F.col("a.token") == F.col("b.token"))
        & (F.col("a.source") < F.col("b.source")),
    )
    p = F.col("a.c") * F.lit(1.0) / F.col("ta.t")
    q = F.col("b.c") * F.lit(1.0) / F.col("tb.t")
    m = (p + q) / F.lit(2.0)
    l_p = F.floor((F.log(p) - F.log(m)) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    l_q = F.floor((F.log(q) - F.log(m)) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    shared = (
        joined.groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("ta.t").alias("t_a"),
            F.col("tb.t").alias("t_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_tokens"),
            F.sum(F.col("a.c") * l_p).cast("long").alias("s_a"),
            F.sum(F.col("b.c") * l_q).cast("long").alias("s_b"),
            F.sum(F.col("a.c")).cast("long").alias("sh_a"),
            F.sum(F.col("b.c")).cast("long").alias("sh_b"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    kl_a = (d("s_a") + F.lit(float(_LN2_Q6)) * (d("t_a") - d("sh_a"))) / (
        d("t_a") * F.lit(1000000.0)
    )
    kl_b = (d("s_b") + F.lit(float(_LN2_Q6)) * (d("t_b") - d("sh_b"))) / (
        d("t_b") * F.lit(1000000.0)
    )
    return (
        shared.select(
            "source_a",
            "source_b",
            "n_shared_tokens",
            (F.lit(0.5) * kl_a + F.lit(0.5) * kl_b).alias("jsd"),
        )
        .orderBy("source_a", "source_b")
    )


JSD_ORACLE_SQL = """
WITH tokc AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({toks}) AS token FROM documents)
  GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM tokc GROUP BY 1
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, ta.t AS t_a, tb.t AS t_b,
         COUNT(*) AS n_shared_tokens,
         CAST(SUM(a.c * CAST(floor((ln(a.c * 1.0e0 / ta.t)
                - ln((a.c * 1.0e0 / ta.t + b.c * 1.0e0 / tb.t) / 2.0e0)) * 1000000.0e0 + 5.0e-1) AS BIGINT)) AS BIGINT) AS s_a,
         CAST(SUM(b.c * CAST(floor((ln(b.c * 1.0e0 / tb.t)
                - ln((a.c * 1.0e0 / ta.t + b.c * 1.0e0 / tb.t) / 2.0e0)) * 1000000.0e0 + 5.0e-1) AS BIGINT)) AS BIGINT) AS s_b,
         CAST(SUM(a.c) AS BIGINT) AS sh_a,
         CAST(SUM(b.c) AS BIGINT) AS sh_b
  FROM tokc a JOIN tokc b ON a.token = b.token AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
  GROUP BY 1, 2, 3, 4
)
SELECT source_a, source_b, n_shared_tokens,
       0.5e0 * (CAST(s_a AS DOUBLE) + 693147.0e0 * (CAST(t_a AS DOUBLE) - CAST(sh_a AS DOUBLE)))
             / (CAST(t_a AS DOUBLE) * 1000000.0e0)
     + 0.5e0 * (CAST(s_b AS DOUBLE) + 693147.0e0 * (CAST(t_b AS DOUBLE) - CAST(sh_b AS DOUBLE)))
             / (CAST(t_b AS DOUBLE) * 1000000.0e0) AS jsd
FROM shared ORDER BY 1, 2
"""
