"""Skip-gram (windowed-context) collocation mining.

``operators/features.ngram_pmi`` scores ADJACENT token pairs; the
word2vec/GloVe-style statistic uses a context WINDOW — pairs
(w_i, w_{i+d}) for 1 <= d <= W — which surfaces collocations that
straddle function words ("new ... york" through "new in york" noise
aside, "machine ... learning" with an adjective between). Same
log-free scaled-lift discipline: lift_q6 = floor(1e6 * c_xy * N /
(c1 * c2)) from exact int64 counts, monotone in PMI, no libm.

Plan: pair construction is entirely MAP-SIDE — one nested array
transform per document (outer over positions, inner over distances
1..W), flattened and exploded; NO self-join touches the corpus (the
oracle uses a positions x distances join because DuckDB lacks the
nested-lambda ergonomics — same multiset). Then one pair agg, one
unigram agg, two bounded posting joins against the surviving
(>= min_count) pair table, a 1-row total broadcast and a TakeOrdered
top-k. Pair volume is W * tokens — linear in the corpus with a small
constant, the same scale shape as the bigram version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.text import tokens_expr


def skipgram_pmi(
    docs: DataFrame, *, window: int = 3, min_count: int = 5, top_k: int = 50
) -> DataFrame:
    """(w1, w2, c_xy, c1, c2, lift_q6): the ``top_k`` windowed-context
    collocations by scaled lift over ordered pairs within ``window``
    tokens, seen >= ``min_count`` times."""
    tok_df = docs.select(tokens_expr("text").alias("w"))
    w = F.col("w")
    cnt = F.size(w)
    idx = F.when(cnt >= 2, F.sequence(F.lit(0), cnt - F.lit(2))).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(window), cnt - F.lit(1) - i)),
                lambda d: F.struct(
                    F.element_at(w, i + 1).alias("w1"),
                    F.element_at(w, i + 1 + d).alias("w2"),
                ),
            ),
        )
    )
    bi = (
        tok_df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= F.lit(min_count))
    )
    # vocab-bounded; feeds both PMI join legs AND the total — unpinned,
    # the corpus tokenize+explode re-ran per consumer (plan audit r10:
    # 4 documents scans; now 2 — the pair pass and the unigram pass)
    uni = pin(
        tok_df.select(F.explode(w).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_tokens"))
    lift = F.floor(
        F.col("c_xy") * F.lit(1.0) * F.col("n_tokens") / F.col("c1") / F.col("c2")
        * F.lit(1000000.0)
    ).cast("long")
    return (
        bi.join(uni.select(F.col("token").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c_xy", "c1", "c2", lift.alias("lift_q6"))
        .orderBy(F.desc("lift_q6"), "w1", "w2")
        .limit(top_k)
    )


def skipgram_pmi_oracle_sql(
    *, window: int = 3, min_count: int = 5, top_k: int = 50
) -> str:
    """DuckDB replica: the positions x distances join generates the
    identical ordered-pair multiset the Spark nested transform builds
    map-side; counts and the fixed-shape lift expression match."""
    from p6__mapreduce_spark.operators.text_analysis import TOKENS_ORACLE

    toks = TOKENS_ORACLE.format(col="text")
    dists = ", ".join(str(d) for d in range(1, window + 1))
    return f"""
    WITH toks AS (SELECT {toks} AS w FROM documents),
    idx AS (
      SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2
    ),
    pairs AS (
      SELECT w[i] AS w1, w[i + d.d] AS w2
      FROM idx CROSS JOIN (SELECT unnest([{dists}]) AS d) AS d
      WHERE i + d.d <= len(w)
    ),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}
    ), uni AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(w) AS token FROM toks) GROUP BY 1
    ), total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni)
    SELECT b.w1, b.w2, b.c_xy, u1.c AS c1, u2.c AS c2,
           CAST(floor(b.c_xy * 1.0e0 * t.n_tokens / u1.c / u2.c * 1000000.0e0)
                AS BIGINT) AS lift_q6
    FROM bi b
    JOIN uni u1 ON u1.token = b.w1
    JOIN uni u2 ON u2.token = b.w2
    CROSS JOIN total t
    ORDER BY lift_q6 DESC, w1, w2
    LIMIT {top_k}
    """
