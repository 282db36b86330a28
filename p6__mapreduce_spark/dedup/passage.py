"""Passage-level exact dedup with document rewrite.

The CCNet/RefinedWeb-style curation pass one granularity below
document dedup: split every document into fixed-size token passages,
drop every passage that already occurred earlier in the corpus (strict
first-occurrence policy — (doc_id, position) order), and reassemble
each document from its surviving passages. Catches the boilerplate
document-level dedup can't touch (shared headers/footers/navigation
inside otherwise-distinct documents) without the pair explosion of
near-dup methods: cost is ONE aggregation over passages plus one join
back, both partial-aggregated and skew-safe — a passage repeated 10^9
times is one group row after the map-side combine, never a hot
reduce partition (this is why first-occurrence uses groupBy MIN of a
composite key instead of a row_number window partitioned by
seg_text).

Everything is deterministic and layout-independent: the keep decision
is MIN(doc_id * 2^20 + seg_idx) — exact integer order — and the
rewrite re-joins surviving passages in seg_idx order, reproduced in
the DuckDB oracle with string_agg(... ORDER BY seg_idx).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.text import tokens_expr
from p6__mapreduce_spark.operators.text_analysis import TOKENS_ORACLE

_SEG_SHIFT = 1 << 20  # doc_id * 2^20 + seg_idx: exact while seg_idx < 2^20


def passage_dedup_rewrite(docs: DataFrame, passage_tokens: int = 10) -> DataFrame:
    """(doc_id, n_passages, n_kept, clean_text) per tokenizable doc.

    A document whose every passage is a repeat survives with
    n_kept = 0 and clean_text = '' — the downstream filter decides
    whether to drop such husks (``clean_corpus`` composes this with
    the quality gate).
    """
    p = passage_tokens
    toks = docs.select("doc_id", tokens_expr("text").alias("w")).filter(
        F.size("w") > 0
    )
    n_seg = (F.size("w") + F.lit(p - 1)).cast("long") / F.lit(p)
    # toks feeds the passage explode (consumed by BOTH the first-
    # occurrence groupBy and the keep join) AND the final (doc_id,
    # n_passages) re-attach — unpinned, the corpus tokenize re-ran per
    # consumer (plan audit r10: 3 documents scans; now ONE — the
    # substring.py tokenize-once discipline; pinning segs instead
    # would materialize ~corpus-text bytes a second time).
    toks = pin(toks.withColumn("n_passages", F.floor(n_seg).cast("long")))
    segs = toks.select(
        "doc_id",
        "n_passages",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_passages") - 1).cast("int")),
                lambda i: F.array_join(F.slice("w", i * p + 1, p), " "),
            )
        ).alias("seg_idx", "seg_text"),
    ).withColumn("pos_key", F.col("doc_id") * F.lit(_SEG_SHIFT) + F.col("seg_idx"))
    firsts = segs.groupBy("seg_text").agg(F.min("pos_key").alias("first_key"))
    kept = segs.join(firsts, "seg_text").filter(F.col("pos_key") == F.col("first_key"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        toks.select("doc_id", "n_passages")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def passage_dedup_oracle_sql(passage_tokens: int = 10) -> str:
    p = passage_tokens
    toks = TOKENS_ORACLE.format(col="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, w, CAST((len(w) + {p - 1}) // {p} AS BIGINT) AS n_passages
      FROM (SELECT doc_id, {toks} AS w FROM documents)
      WHERE len(w) > 0
    ), segs AS (
      SELECT doc_id, n_passages, i AS seg_idx,
             array_to_string(w[i * {p} + 1 : i * {p} + {p}], ' ') AS seg_text,
             doc_id * {_SEG_SHIFT} + i AS pos_key
      FROM (SELECT doc_id, n_passages, w,
                   unnest(range(0, CAST(n_passages AS INTEGER))) AS i
            FROM toks)
    ), firsts AS (
      SELECT seg_text, MIN(pos_key) AS first_key FROM segs GROUP BY 1
    ), kept AS (
      SELECT s.* FROM segs s JOIN firsts f USING (seg_text)
      WHERE s.pos_key = f.first_key
    ), rebuilt AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(seg_text, ' ' ORDER BY seg_idx) AS clean_text
      FROM kept GROUP BY 1
    )
    SELECT t.doc_id, t.n_passages,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY t.doc_id
    """
