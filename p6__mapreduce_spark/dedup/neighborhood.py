"""Blocked Sorted-Neighborhood dedup (Hernández & Stolfo, SIGMOD 1995).

The third classic candidate-generation strategy beside LSH banding
(``dedup/minhash.py``) and prefix filtering (``dedup/jaccard.py``):
sort records by a domain key, slide a window of size ``w``, and only
compare records that land within the same window. Where LSH trades
recall for a probabilistic guarantee and prefix filtering needs a
similarity threshold up front, SNM is the cheap deterministic
workhorse when near-duplicates share a sort-key prefix (crawl dumps
re-fetched with boilerplate edits, re-ingested batches, versioned
records).

This implementation is the BLOCKED variant — the one that actually
scales: a global total-order sort would funnel the corpus through a
single row_number partition, so records are first bucketed by a
blocking prefix of the sort key and the window slides only WITHIN a
block. Candidate pairs per block of size b are b·(w−1) — linear, not
quadratic — and blocks shuffle independently (one exchange on the
block key). The miss mode is explicit and measurable: near-dups whose
sort keys diverge in the first ``block_chars`` characters are never
compared (same recall contract as the published method; the
LSH/prefix-filter entries in this package cover the key-divergent
regime).

Verification: the window self-join is rank arithmetic on exact
integers; the pair similarity is exact distinct-token Jaccard via
``array_intersect``/``array_union`` sizes, mirrored in DuckDB as
``list_intersect``/``list_distinct`` lengths. No floats cross engines
except the final jaccard ratio (single division of two small ints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.functions.text import tokens_expr


def sorted_neighborhood_pairs(
    docs: DataFrame,
    *,
    window: int = 4,
    block_chars: int = 8,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Candidate pairs from a ``window``-wide slide over documents
    sorted by normalized text within ``block_chars``-prefix blocks,
    scored with exact distinct-token Jaccard and filtered at
    ``min_jaccard``. Output: (doc_a, doc_b, jaccard) with
    doc_a < doc_b, ordered.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9]+", " ")
    keyed = docs.select(
        "doc_id",
        norm.alias("sort_key"),
        F.array_distinct(tokens_expr("text")).alias("toks"),
    ).withColumn("block", F.substring("sort_key", 1, block_chars))
    w = Window.partitionBy("block").orderBy("sort_key", "doc_id")
    # both join sides consume the ranked table: materialize it once
    # instead of re-tokenizing + re-sorting the corpus per side
    ranked = pin(keyed.withColumn("rn", F.row_number().over(w)))
    # window pairing as a pure COMPOSITE-KEY equi-join: the anchor
    # side explodes the w-1 rank offsets and joins on (block, rn+off).
    # An equi-join on block alone with a rank-range predicate
    # materializes b^2 rows per block before the filter — measured
    # 22x wall at 10x data by tools/scale_probe.py; this shape is
    # exactly linear (b*(w-1) joined rows per block).
    a = ranked.select(
        F.col("block"),
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("rn"),
        F.explode(F.expr(f"sequence(1, {int(window) - 1})")).alias("off"),
    ).select(
        "block", "id_a", "toks_a", (F.col("rn") + F.col("off")).alias("rn_b")
    )
    b = ranked.select(
        F.col("block"),
        F.col("rn").alias("rn_b"),
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("long")
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, ["block", "rn_b"])
        # union > 0 guard: two empty-token docs would hit 0/0, where
        # Spark yields NULL but DuckDB's NaN compares HIGH — exclude
        # the degenerate pair identically in both engines
        .filter(union > 0)
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(min_jaccard)))
        .orderBy("doc_a", "doc_b")
    )


SNM_ORACLE_SQL = """
WITH keyed AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '[^a-z0-9]+', ' ', 'g') AS sort_key,
         list_distinct({toks}) AS toks
  FROM documents
), ranked AS (
  SELECT doc_id, sort_key, toks,
         substring(sort_key, 1, {block_chars}) AS block,
         ROW_NUMBER() OVER (PARTITION BY substring(sort_key, 1, {block_chars})
                            ORDER BY sort_key, doc_id) AS rn
  FROM keyed
), pairs AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jaccard
  FROM ranked a JOIN ranked b
    ON a.block = b.block AND b.rn > a.rn AND b.rn <= a.rn + {window} - 1
  WHERE len(list_distinct(a.toks || b.toks)) > 0
)
SELECT doc_a, doc_b, jaccard FROM pairs
WHERE jaccard >= {min_jaccard}
ORDER BY 1, 2
"""
