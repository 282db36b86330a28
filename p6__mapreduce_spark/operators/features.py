"""Feature extraction for ML training pipelines: the hashing trick
and PMI collocation mining.

``feature_hash_vectors`` is the Vowpal-Wabbit-style hashing trick
(Weinberger et al. 2009): token → bucket via a hash mod 2^b with a
second sign hash so collision noise cancels in expectation — the
fixed-width featurizer that needs NO vocabulary pass, which is what
makes it the one-scan choice at 100 TB (a learned vocab is a second
full scan plus a giant broadcast; the hash is a plan literal). Output
is the sparse (doc, bucket, weight) triple layout — exactly-summed
signed integer term frequencies, so the whole matrix replays
cross-engine.

``ngram_pmi`` mines collocations by pointwise mutual information,
reported as the scaled LIFT ratio p(xy)/(p(x)p(y)) rather than its
log: the ranking is identical (log is monotone) and the ratio stays
one fixed-shape double expression over exact integer counts —
log-free, so no cross-engine libm divergence can touch the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.hashing import poly_hash_expr
from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.text import tokens_expr


def feature_hash_vectors(docs: DataFrame, *, nbuckets: int = 256) -> DataFrame:
    """(doc_id, bucket, weight): signed hashed term-frequency vectors,
    sparse rows only (zero weights — colliding tokens whose signs
    cancelled — are dropped in both engines).

    ONE pass: map-side explode + hash, one (doc_id, bucket)-keyed
    partially-aggregated shuffle; output <= docs x nbuckets rows."""
    sign = F.when(poly_hash_expr("token", seed=2) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("token"))
        .select(
            "doc_id",
            (poly_hash_expr("token", seed=1) % F.lit(nbuckets)).alias("bucket"),
            sign.alias("s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("weight"))
        .filter(F.col("weight") != 0)
        .orderBy("doc_id", "bucket")
    )


def feature_hash_oracle_sql(*, nbuckets: int = 256) -> str:
    """DuckDB replica of :func:`feature_hash_vectors` (same poly
    hashes, same sign rule, same zero-drop)."""
    from p6__mapreduce_spark.operators.text_analysis import (
        TOKENS_ORACLE,
        poly_hash_oracle_sql,
    )

    toks = TOKENS_ORACLE.format(col="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({toks}) AS token FROM documents
    ), h AS (
      SELECT doc_id,
             {poly_hash_oracle_sql("token", seed=1)} % {nbuckets} AS bucket,
             CASE WHEN {poly_hash_oracle_sql("token", seed=2)} % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM toks
    )
    SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS weight
    FROM h GROUP BY 1, 2 HAVING SUM(s) <> 0
    ORDER BY doc_id, bucket
    """


def ngram_pmi(docs: DataFrame, *, min_count: int = 5, top_k: int = 50) -> DataFrame:
    """(w1, w2, c_xy, c1, c2, lift_q6): the ``top_k`` adjacent-token
    collocations by scaled lift = 1e6 * c_xy*N / (c1*c2) (monotone in
    PMI), over pairs seen >= ``min_count`` times.

    Plan: map-side pair construction (index transform, no self-join),
    one bigram agg + one unigram agg, two token-keyed posting joins of
    the bigram table against the unigram counts, a 1-row total-tokens
    broadcast, and a TakeOrdered top-k — no global sort, no float
    reduction (the lift is computed per surviving row from exact int64
    counts).

    The token array is materialized into a column BEFORE the pair
    lambda: ``element_at`` on the raw tokenizer expression re-expands
    the whole tokenizer per element (the anti-pattern documented at
    dedup/jaccard.py:shingle_postings) — measured ~4x slower at sf0.1
    (15.2s -> 4.0s steady) than this shape."""
    tok_df = docs.select(tokens_expr("text").alias("w"))
    w = F.col("w")
    cnt = F.size(w)
    idx = F.when(cnt >= 2, F.sequence(F.lit(0), cnt - F.lit(2))).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(w, i + 1).alias("w1"), F.element_at(w, i + 2).alias("w2")
        ),
    )
    bi = (
        tok_df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= F.lit(min_count))
    )
    # vocab-bounded; feeds both PMI join legs AND the total — same
    # 3-consumer pin as skipgram_pmi (plan audit r10: 4 documents
    # scans unpinned; now 2 — pair pass + unigram pass)
    # cut: pin measured 1.14 -> 1.24 s at sf0.1 (ngram_pmi, 1/5 pin wins)
    uni = (
        tok_df.select(F.explode(w).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
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


def ngram_pmi_oracle_sql(*, min_count: int = 5, top_k: int = 50) -> str:
    """DuckDB replica of :func:`ngram_pmi` (identical counts and the
    identical fixed-shape lift expression)."""
    from p6__mapreduce_spark.operators.text_analysis import TOKENS_ORACLE

    toks = TOKENS_ORACLE.format(col="text")
    return f"""
    WITH toks AS (SELECT {toks} AS w FROM documents),
    idx AS (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2),
    bi AS (
      SELECT w[i] AS w1, w[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM idx GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}
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


def target_encode_loo(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against the order-price target: each order's feature value is the
    mean target of all OTHER orders in its segment —
    (Σ_segment − own) / (n_segment − 1).

    The standard high-cardinality-categorical encoder for tree/linear
    models, in its leakage-safe form: plain mean encoding leaks each
    row's own label into its feature (a regression target memorized
    through the encoder); LOO removes the row's own contribution. A
    single-member segment has no "others", so it falls back to the
    leave-one-out GLOBAL mean (same formula over the whole table) —
    both branches exact-integer sums with ONE final division. On a
    degenerate one-row table even the global fallback has no
    "others": that branch is guarded to NULL on both engines (Spark
    non-ANSI x/0.0 yields NULL but DuckDB double division yields inf
    — the exact cross-engine mismatch causal.py guards against).

    Plan shape: the encoder table is a groupBy over the categorical
    (|segments| rows — tiny) broadcast-joined back; the global
    fallback is a 1-row scalar broadcast (Q22 shape). No window over
    the raw table, no shuffle of the fact table beyond the dimension
    join. At 100 TB the encoder table is still |distinct categories|
    rows: this is the canonical map-side-join feature transform.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
                       orders["o_custkey"] == F.col("c_custkey")).select(
        "o_orderkey", "c_mktsegment", cents.alias("cents")
    )
    # |segments|-bounded; pinned so the fact-dimension join runs once
    # for the model (plan audit r10: 3 orders + 3 customer scans
    # unpinned; now 2 passes — encoder build + encode). The global
    # fallback folds out of the segment sums exactly (integer sums).
    seg = pin(
        base.groupBy("c_mktsegment").agg(
            F.sum("cents").alias("seg_sum"), F.count(F.lit(1)).cast("long").alias("seg_n")
        )
    )
    glob = seg.agg(
        F.sum("seg_sum").alias("g_sum"), F.sum("seg_n").cast("long").alias("g_n")
    )
    return (
        base.join(F.broadcast(seg), "c_mktsegment")
        .crossJoin(F.broadcast(glob))  # 1-row scalar broadcast (labeled)
        .select(
            "o_orderkey",
            "c_mktsegment",
            F.when(
                F.col("seg_n") > 1,
                (F.col("seg_sum") - F.col("cents")).cast("double")
                / (F.col("seg_n") - 1).cast("double"),
            )
            .when(
                F.col("g_n") > 1,
                (F.col("g_sum") - F.col("cents")).cast("double")
                / (F.col("g_n") - 1).cast("double"),
            )
            .alias("loo_mean_cents"),  # one-row table: NULL on both engines
        )
        .orderBy("o_orderkey")
    )


TARGET_ENCODE_ORACLE_SQL = """
WITH base AS (
  SELECT o_orderkey, c_mktsegment,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
), seg AS (
  SELECT c_mktsegment, CAST(SUM(cents) AS BIGINT) AS seg_sum,
         CAST(COUNT(*) AS BIGINT) AS seg_n
  FROM base GROUP BY 1
), gtot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS g_sum, CAST(COUNT(*) AS BIGINT) AS g_n FROM base
)
SELECT b.o_orderkey, b.c_mktsegment,
       CASE WHEN s.seg_n > 1
            THEN CAST(s.seg_sum - b.cents AS DOUBLE) / CAST(s.seg_n - 1 AS DOUBLE)
            WHEN g.g_n > 1
            THEN CAST(g.g_sum - b.cents AS DOUBLE) / CAST(g.g_n - 1 AS DOUBLE)
       END AS loo_mean_cents
FROM base b JOIN seg s USING (c_mktsegment) CROSS JOIN gtot g
ORDER BY b.o_orderkey
"""
