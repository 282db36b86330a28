"""Data Selection via Importance Resampling (DSIR) weights.

The published recipe (Xie et al., "Data Selection for Language Models
via Importance Resampling", 2023): score every raw document by the
log-likelihood ratio of a *target* bag-of-hashed-n-grams model over
the *source* (whole-corpus) model, then resample the corpus with
probability proportional to the importance weight. It is the standard
way to tilt a 100 TB crawl toward a high-quality target domain without
training a classifier — two multinomial models and one weighted pass.

Spark-first decomposition (everything exact until the final display
division):

1. ONE explode pass produces hashed uni+bigram instances per doc
   (portable polynomial hash -> ``num_buckets`` buckets, so the
   feature space is bounded and the oracle can reproduce it bit-wise).
2. ``groupBy(doc_id, bucket)`` with map-side partial counts — the only
   data-sized shuffle; hot buckets collapse to one row per doc first.
3. The bucket model is a SECOND-level aggregate over step 2's output
   (never a rescan of the corpus; the exchange is byte-identical in
   both consuming branches, so AQE materializes it once), with the
   target/source split carried as a conditional sum — one pass, not
   one scan per model. Laplace-smoothed log ratios quantize to exact
   1e-6 fixed point per bucket.
4. Per-doc weight = integer dot product of the doc's bucket counts
   with the <= num_buckets broadcast ratio table — partition-layout
   independent by construction.

At 100 TB: the corpus is touched once, shuffled once (keyed by
(doc_id, bucket), which is near-unique -> no skew), and every
model-side relation is bounded by ``num_buckets`` rows. No driver
state, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.functions.hashing import poly_hash_expr
from p6__mapreduce_spark.functions.text import tokens_expr


def _gram_instances(docs: DataFrame, num_buckets: int) -> DataFrame:
    """(doc_id, lang, bucket) per unigram AND bigram instance.

    One scan, one explode (r11): the retired UNION of a unigram branch
    and a bigram branch read the corpus twice — visible as two parquet
    scans inside the pinned subtree once pin made the
    materialization pass part of the plan. ``concat`` of the token
    array with the bigram array feeds a single explode; the instance
    MULTISET is identical (per doc: all unigrams then all bigrams),
    and every consumer aggregates, so row order is immaterial."""
    toks = docs.select("doc_id", "lang", tokens_expr("text").alias("w")).filter(
        F.size("w") > 0
    )
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat(
                F.element_at("w", i), F.lit(" "), F.element_at("w", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "doc_id", "lang", F.explode(F.concat("w", bigrams)).alias("gram")
    ).select(
        "doc_id", "lang", (poly_hash_expr("gram") % F.lit(num_buckets)).alias("bucket")
    )


def dsir_weights(
    docs: DataFrame, *, target_lang: str = "en", num_buckets: int = 1024
) -> DataFrame:
    """(doc_id, n_grams, logweight_q6, avg_logratio) per tokenizable doc.

    ``logweight_q6`` is the importance log-weight in exact 1e-6 fixed
    point: sum over the doc's hashed-gram instances of
    ln(p_target(bucket)) - ln(p_source(bucket)), each bucket ratio
    Laplace-smoothed ((c+1)/(n+B)) and quantized BEFORE the per-doc
    sum, so the result is an integer — identical on any partitioning
    and any engine. ``avg_logratio`` (per-gram average, back in nats)
    is the scale-free score to threshold or to exponentiate for
    resampling."""
    grams = _gram_instances(docs, num_buckets)
    # Materialize the per-(doc, bucket) counts ONCE: three branches
    # consume them (the bucket model, its totals, and the final per-doc
    # dot product), and the optimizer does NOT recognize the post-
    # pruning subtrees as one exchange (r10 plan audit: the tokenize +
    # explode + poly-hash pipeline — the only corpus-sized stage —
    # appeared 3x in the physical plan; ReusedExchange never fired).
    # At 100 TB this is the standard written intermediate: the counts
    # relation is |docs| x <= num_buckets rows, far smaller than the
    # gram instances it collapses.
    per_doc_bucket = pin(
        grams.groupBy("doc_id", "lang", "bucket").agg(F.count(F.lit(1)).alias("c"))
    )
    bucket_counts = per_doc_bucket.groupBy("bucket").agg(
        F.sum("c").alias("c_s"),
        F.sum(F.when(F.col("lang") == target_lang, F.col("c")).otherwise(F.lit(0))).alias(
            "c_t"
        ),
    )
    totals = bucket_counts.agg(
        F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
    )
    b = F.lit(num_buckets).cast("long")
    lam_q6 = F.floor(
        (
            F.log((F.col("c_t") + 1) * F.lit(1.0) / (F.col("n_t") + b))
            - F.log((F.col("c_s") + 1) * F.lit(1.0) / (F.col("n_s") + b))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    ratios = bucket_counts.join(F.broadcast(totals)).select(
        "bucket", lam_q6.alias("lam_q6")
    )
    return (
        per_doc_bucket.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("lam_q6")).cast("long").alias("logweight_q6"),
        )
        .select(
            "doc_id",
            "n_grams",
            "logweight_q6",
            (
                F.col("logweight_q6") * F.lit(1.0) / (F.col("n_grams") * F.lit(1_000_000))
            ).alias("avg_logratio"),
        )
        .orderBy("doc_id")
    )


def dsir_oracle_sql(*, target_lang: str = "en", num_buckets: int = 1024) -> str:
    """DuckDB replica of :func:`dsir_weights` (same hash, same
    quantization, same smoothing)."""
    from p6__mapreduce_spark.operators.text_analysis import (
        TOKENS_ORACLE,
        poly_hash_oracle_sql,
    )

    toks = TOKENS_ORACLE.format(col="text")
    ph = poly_hash_oracle_sql("g")
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {toks} AS w FROM documents
    ), grams AS (
      SELECT doc_id, lang, unnest(w) AS g FROM toks WHERE len(w) > 0
      UNION ALL
      SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS g
      FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
            FROM toks WHERE len(w) >= 2)
    ), inst AS (
      SELECT doc_id, lang, {ph} % {num_buckets} AS bucket FROM grams
    ), pdb AS (
      SELECT doc_id, lang, bucket, COUNT(*) AS c FROM inst GROUP BY 1, 2, 3
    ), bc AS (
      SELECT bucket, CAST(SUM(c) AS BIGINT) AS c_s,
             CAST(SUM(CASE WHEN lang = '{target_lang}' THEN c ELSE 0 END) AS BIGINT) AS c_t
      FROM pdb GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c_s) AS BIGINT) AS n_s, CAST(SUM(c_t) AS BIGINT) AS n_t FROM bc
    ), ratios AS (
      SELECT bucket,
             CAST(floor((ln((c_t + 1) * 1.0e0 / (n_t + {num_buckets}))
                       - ln((c_s + 1) * 1.0e0 / (n_s + {num_buckets}))) * 1000000 + 5.0e-1)
                  AS BIGINT) AS lam_q6
      FROM bc CROSS JOIN tot
    )
    SELECT pdb.doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(c * lam_q6) AS BIGINT) AS logweight_q6,
           CAST(SUM(c * lam_q6) AS BIGINT) * 1.0e0
             / (CAST(SUM(c) AS BIGINT) * 1000000) AS avg_logratio
    FROM pdb JOIN ratios USING (bucket)
    GROUP BY 1 ORDER BY 1
    """
