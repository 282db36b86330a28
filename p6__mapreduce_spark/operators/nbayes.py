"""In-engine multinomial Naive Bayes: train on (token, source) counts,
classify every document, emit the source confusion matrix.

The classic "can the corpus predict its own metadata" probe of a
training-data pipeline: a high-accuracy source classifier means the
sources are lexically distinctive (near-duplicate sources show up as
off-diagonal mass), and per-source confusion directly feeds mixing /
dedup decisions. Training and inference are both single-pass
DataFrame aggregations — no MLlib, no iterative fitting — because
multinomial NB's sufficient statistics ARE a groupBy.

Model (Laplace-smoothed): score(d, s) = ln P(s) + Σ_t m_dt ·
ln((c_ts + 1)/(N_s + V)). The unseen-token problem is handled without
densifying the (token × source) matrix: with q0_s = ln(1/(N_s + V))
the score decomposes as

    prior_s + n_d · q0_s + Σ_{t present in BOTH d and s} m_dt · (q_ts − q0_s)

so only OBSERVED (token, source) count cells are ever joined — the
sparse decomposition every production NB uses, here expressed as one
token-keyed equi-join plus a bounded (docs × |sources|) grid for the
base term.

Exactness discipline (registry standard): every log-probability is
floor(ln(ratio)·1e6 + 0.5) — an int64 micro-unit — BEFORE any
summation, so all reductions are integer and partition-order
independent; the argmax tie-breaks on source name. The DuckDB oracle
replays training and inference from the same parquet and must agree
bit-for-bit.

Scale: token-keyed join is the corpus-sized work (linear, shuffle on
token); the model tables are bounded by |vocab| × |sources|; the
docs × sources grid is linear in docs with a tiny broadcast side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.functions.text import tokens_expr


def _q6(col):
    return F.floor(F.log(col) * F.lit(1e6) + F.lit(0.5)).cast("long")


def nbayes_source_confusion(docs: DataFrame) -> DataFrame:
    """(actual, predicted, n_docs): confusion matrix of a
    Laplace-smoothed multinomial NB source classifier trained on the
    full corpus and applied to the same corpus (resubstitution — the
    lexical-distinctiveness probe, not a holdout eval)."""
    # r10: four branches (cts, ns, vocab, doc_tok) consume the token
    # instances and ReusedExchange never fires across their differently-
    # pruned subtrees — un-pinned, the corpus tokenize + explode ran
    # four times. One eager checkpoint = one corpus pass (the dsir
    # discipline; see OPTIMIZATION_r10.md).
    tok = pin(
        docs.select("doc_id", "source", F.explode(tokens_expr("text")).alias("token"))
    )
    cts = tok.groupBy("token", "source").agg(F.count(F.lit(1)).alias("c_ts"))
    ns = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    vocab = tok.select("token").distinct().agg(F.count(F.lit(1)).alias("v"))
    dsrc = docs.groupBy("source").agg(F.count(F.lit(1)).alias("d_s"))
    dtot = docs.agg(F.count(F.lit(1)).alias("d"))

    # per-source scalars: prior_q and the unseen-token base rate q0
    src = (
        dsrc.join(ns, "source")
        .crossJoin(F.broadcast(vocab))  # 1-row scalar broadcast (labeled)
        .crossJoin(F.broadcast(dtot))
        .select(
            "source",
            _q6(F.col("d_s") * F.lit(1.0) / F.col("d")).alias("prior_q"),
            _q6(F.lit(1.0) / (F.col("n_s") + F.col("v"))).alias("q0"),
        )
    )
    # observed-cell deltas vs the base rate (sparse model table)
    delta = (
        cts.join(ns, "source")
        .crossJoin(F.broadcast(vocab))
        .select(
            "token",
            "source",
            (
                _q6((F.col("c_ts") + F.lit(1.0)) / (F.col("n_s") + F.col("v")))
            ).alias("q_ts"),
            _q6(F.lit(1.0) / (F.col("n_s") + F.col("v"))).alias("q0_ts"),
        )
        .select("token", "source", (F.col("q_ts") - F.col("q0_ts")).alias("dq"))
    )

    doc_tok = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("m_dt"))
    doc_n = docs.select(
        "doc_id",
        F.col("source").alias("actual"),
        F.size(tokens_expr("text")).cast("long").alias("n_d"),
    )
    # sparse contribution term per (doc, candidate source)
    contrib = (
        doc_tok.join(delta, "token")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("m_dt") * F.col("dq")).alias("sparse_q"))
    )
    # bounded docs x |sources| grid for the base term (lang_source_chisq
    # class: broadcast nested-loop over the tiny source table by design)
    grid = doc_n.crossJoin(F.broadcast(src))
    scored = grid.join(contrib, ["doc_id", "source"], "left").select(
        "doc_id",
        "actual",
        "source",
        (
            F.col("prior_q")
            + F.col("n_d") * F.col("q0")
            + F.coalesce(F.col("sparse_q"), F.lit(0))
        ).alias("score_q"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("source"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("source").alias("predicted"))
    )
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


NBAYES_ORACLE_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), tok AS (
  SELECT doc_id, source, unnest(w) AS token FROM toks
), cts AS (
  SELECT token, source, COUNT(*) AS c_ts FROM tok GROUP BY 1, 2
), ns AS (
  SELECT source, COUNT(*) AS n_s FROM tok GROUP BY 1
), vocab AS (
  SELECT COUNT(DISTINCT token) AS v FROM tok
), dsrc AS (
  SELECT source, COUNT(*) AS d_s FROM documents GROUP BY 1
), dtot AS (
  SELECT COUNT(*) AS d FROM documents
), src AS (
  SELECT dsrc.source,
         CAST(floor(ln(d_s * 1.0e0 / d) * 1000000 + 5.0e-1) AS BIGINT) AS prior_q,
         CAST(floor(ln(1.0e0 / (n_s + v)) * 1000000 + 5.0e-1) AS BIGINT) AS q0
  FROM dsrc JOIN ns USING (source) CROSS JOIN vocab CROSS JOIN dtot
), delta AS (
  SELECT token, cts.source,
         CAST(floor(ln((c_ts + 1.0e0) / (n_s + v)) * 1000000 + 5.0e-1) AS BIGINT)
         - CAST(floor(ln(1.0e0 / (n_s + v)) * 1000000 + 5.0e-1) AS BIGINT) AS dq
  FROM cts JOIN ns USING (source) CROSS JOIN vocab
), doc_tok AS (
  SELECT doc_id, token, COUNT(*) AS m_dt FROM tok GROUP BY 1, 2
), doc_n AS (
  SELECT doc_id, source AS actual, CAST(len(w) AS BIGINT) AS n_d FROM toks
), contrib AS (
  SELECT doc_id, source, SUM(m_dt * dq) AS sparse_q
  FROM doc_tok JOIN delta USING (token) GROUP BY 1, 2
), scored AS (
  SELECT g.doc_id, g.actual, s.source,
         s.prior_q + g.n_d * s.q0 + COALESCE(c.sparse_q, 0) AS score_q
  FROM doc_n g CROSS JOIN src s
  LEFT JOIN contrib c ON c.doc_id = g.doc_id AND c.source = s.source
), pred AS (
  SELECT doc_id, actual, source AS predicted FROM (
    SELECT doc_id, actual, source,
           row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, source ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""
