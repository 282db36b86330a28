"""Cross-document duplicated-substring coverage (exact-match dedup).

"Deduplicating Training Data Makes Language Models Better" (Lee et al.,
2021) removes exact substrings that recur across a corpus (boilerplate,
licenses, navigation chrome) rather than whole near-duplicate docs. The
suffix-array construction used there is inherently sequential; the
Spark-native equivalent fixes a shingle length k and computes, per
document, the fraction of token positions covered by some k-token
shingle that also occurs in at least one OTHER document. Curation then
drops or trims documents whose duplicated fraction exceeds a threshold.

Algorithm (all built-in expressions, no Python in the hot path):

1. tokenize -> per-doc token array (one narrow projection of the scan);
2. shingle: transform+slice builds the k-gram list per doc, posexplode
   emits (doc_id, start, shingle) rows — row count = total tokens;
3. global duplicate set: groupBy(shingle) keeping those seen in >= 2
   distinct docs. THE one big shuffle, keyed by shingle text here; at
   100 TB key by xxhash64(shingle) instead (8-byte keys, collision rate
   2^-64 per pair) and the shuffle carries ~1/20th the bytes;
4. coverage: each duplicated occurrence expands to its k covered
   positions (bounded k-times blowup of duplicated rows only), distinct
   per doc, count -> covered token count;
5. left join back to per-doc token counts; division of two exact ints
   is IEEE-deterministic, so the fraction is oracle-exact.

Scale notes: step 3's combiner (map-side partial distinct-doc count)
collapses hot boilerplate shingles before the wire; singleton shingles
— the vast majority — die in the HAVING. No driver state, no
collect, no cartesian. Skewed mega-shingles (the empty-page template)
are exactly the rows the >= 2 filter keeps, but the per-key payload
after the partial agg is one count, not the posting list.

Reference scope: the reference engine (mapreduce.c) has no cross-doc
text analysis; this extends the corpus-curation surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.text import tokens_expr

# \x01 cannot appear in [a-z0-9]+ tokens, so joined shingles are
# collision-free delimited strings in both engines.
_SEP = "\x01"


def _shingles(w: Column, k: int) -> Column:
    """List of k-token shingles of ``w`` (empty when len(w) < k).

    sequence(0, n-k) would DESCEND for n < k (Spark extends sequences
    toward the stop value), so the short-doc case must be guarded, not
    left to produce garbage slices.
    """
    return F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - F.lit(k)),
            lambda i: F.concat_ws(_SEP, F.slice(w, i + F.lit(1), k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_coverage(docs: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_fraction) per document.

    ``dup_tokens`` = number of token positions lying inside at least one
    k-shingle that occurs in >= 2 distinct documents; ``dup_fraction``
    is its share of the doc's tokens (0.0 for docs shorter than k).
    """
    # toks feeds the shingle explode (itself consumed by BOTH the
    # duplicate-set groupBy and the coverage join) AND the final
    # per-doc length join — unpinned, the corpus tokenize re-ran per
    # consumer (plan audit r10: 3 documents scans; now ONE — the
    # tokenize-once discipline, same as gopher_top_ngram_frac). The
    # shingle expansion still evaluates per occ consumer, but over the
    # pinned rows (CPU re-eval, no re-scan/re-tokenize); pinning occ
    # instead would materialize a ~k-times-corpus relation — rejected.
    toks = pin(docs.select("doc_id", tokens_expr(F.col("text")).alias("w")))
    occ = toks.select(
        "doc_id",
        F.posexplode(_shingles(F.col("w"), k)).alias("start", "shingle"),
    )
    dup = (
        occ.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("shingle")
    )
    covered = (
        occ.join(dup, "shingle")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    return (
        toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("int").alias("dup_tokens"),
            F.coalesce(
                F.coalesce("dup_tokens", F.lit(0)) * 1.0 / F.nullif(F.size("w"), F.lit(0)),
                F.lit(0.0),
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


def drop_high_dup_docs(docs: DataFrame, k: int = 8, max_fraction: float = 0.5) -> DataFrame:
    """Curation filter: keep documents whose cross-doc duplicated-span
    coverage is <= ``max_fraction`` (Lee et al. drop policy)."""
    cov = dup_ngram_coverage(docs, k=k).filter(F.col("dup_fraction") <= max_fraction)
    return docs.join(cov.select("doc_id"), "doc_id").orderBy("doc_id")
