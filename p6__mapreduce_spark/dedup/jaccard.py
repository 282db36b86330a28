"""Exact n-gram Jaccard near-duplicate pairs via an inverted index.

Never materializes the O(n²) pair space: documents are exploded to
(shingle, doc_id) postings, self-joined on shingle (co-occurrence =
candidate), and pair intersection counts come from one aggregation.
Pairs sharing zero shingles never appear anywhere in the plan — at
100 TB the cost is bounded by the posting-list join (hot shingles are
the skew risk; AQE skew-join splitting is on, and `max_doc_freq`
drops ubiquitous shingles the way IDF pruning does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin



def shingle_postings(
    docs: DataFrame,
    k: int = 3,
    *,
    max_doc_freq: int | None = None,
    distinct: bool = True,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, shingle) postings, one row per distinct shingle per doc
    (``distinct=False`` keeps every occurrence — the shape repetition
    analysis needs).

    Map-side shape: tokenize once per row, zip the token array with its
    own k-1 shifted slices (``arrays_zip``), concat each struct to a
    shingle string, dedup *within the row* via ``array_distinct``, then
    explode — distinctness is per-document, so NO shuffle is needed
    anywhere (a global ``.distinct()`` exchanged the full posting list;
    dropping it cut the sf0.1 build ~2x). Two other rejected shapes,
    both measured slower at sf0.1: a posexplode + lead()-window
    formulation adds a shuffle+sort per doc_id (~2x cold); a
    transform-over-index-range lambda re-expands the tokenizer
    expression inside every shingle element (~4x). Here the lambdas
    only touch struct fields, so the tokenizer runs exactly once per
    row (asserted in tests/test_plans.py).
    """
    from p6__mapreduce_spark.functions.text import tokens_expr

    # ``toks`` lets callers that build several shingle widths (gopher's
    # n = 2, 3, 4) share ONE tokenize pass: pass a pinned (doc_id, w)
    # relation and only the per-width zip/explode runs per call.
    if toks is None:
        toks = docs.select("doc_id", tokens_expr("text").alias("w"))
    n_shingles = F.greatest(F.size("w") - F.lit(k - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice("w", i + 1, n_shingles).alias(f"t{i}") for i in range(k)]
    )
    sh_arr = F.transform(zipped, lambda z: F.concat_ws(" ", *[z[f"t{i}"] for i in range(k)]))
    if distinct:
        sh_arr = F.array_distinct(sh_arr)
    postings = toks.select("doc_id", F.explode(sh_arr).alias("shingle"))
    if max_doc_freq is not None:
        keep = (
            postings.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        postings = postings.join(keep, "shingle")
    return postings


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    *,
    candidates: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """All (id1 < id2) pairs with shingle-set Jaccard >= threshold.

    jaccard = |A∩B| / (|A| + |B| - |A∩B|) — exact integer counts, so the
    final double division is bit-reproducible against the SQL oracle.

    ``candidates`` (optional, columns id1/id2) restricts the pair space;
    ``postings`` (optional, columns doc_id/shingle) supplies a — usually
    cached — precomputed posting list. Both are how MinHash-LSH shares
    work with this verifier.
    """
    # Join/shuffle on a 64-bit hash of the shingle, not the multi-word
    # string: ~4x smaller shuffle keys, same intersection counts up to a
    # 2^-64 collision bound (would need two distinct shingles of one
    # pair to collide; probability ~n_shingles^2/2^64 ≈ 1e-10 here).
    # postings feed 3 plan branches (two self-join sides + sizes)
    if postings is None:
        postings = pin(shingle_postings(docs, k))
    postings = postings.select("doc_id", F.xxhash64("shingle").alias("shingle"))

    if candidates is not None and {"n1", "n2"} <= set(candidates.columns):
        # candidates already carry both docs' set sizes (rode the
        # minhash partial aggregation) — verify needs zero size joins.
        # Any further per-pair candidate columns ride to the output.
        extra = [c for c in candidates.columns if c not in ("id1", "id2", "n1", "n2")]
        keys = ["id1", "id2", "n1", "n2", *extra]
        cand = candidates.select(*keys).distinct()
        pa = postings.select(F.col("doc_id").alias("id1"), "shingle")
        pb = postings.select(F.col("doc_id").alias("id2"), "shingle")
        inter = (
            cand.join(pa, "id1")
            .join(pb, ["id2", "shingle"])
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        jac = F.col("n_inter") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("n_inter"))
        return (
            inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select("id1", "id2", "jaccard", *extra)
            .orderBy("id1", "id2")
        )

    sizes = postings.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    if candidates is None:
        # full inverted-index self-join: every co-occurring pair
        a = postings.alias("a")
        b = postings.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # candidate-driven verify: expand each candidate pair with id1's
        # postings, match against id2's on (id2, shingle). Work is
        # O(|candidates| * shingles-per-doc), independent of corpus-wide
        # shingle co-occurrence — the LSH verify shape.
        #
        # No broadcast hint: the candidate set is data-dependent (it is
        # O(duplicates) — a high-dup corpus at 100 TB can make it far
        # larger than driver memory). The candidates come off a shuffle
        # (distinct), so AQE sees the REAL size at runtime and converts
        # the join to broadcast only when it actually fits.
        cand = candidates.select("id1", "id2").distinct()
        pa = postings.select(F.col("doc_id").alias("id1"), "shingle")
        pb = postings.select(F.col("doc_id").alias("id2"), "shingle")
        inter = (
            cand.join(pa, "id1")
            .join(pb, ["id2", "shingle"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )

    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n_shingles").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n_shingles").alias("n2"))
    jac = F.col("n_inter") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("n_inter"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id1", "id2", "jaccard")
        .orderBy("id1", "id2")
    )


JACCARD_ORACLE_SQL = """
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
), pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, n_inter * 1.0 / (s1.n + s2.n - n_inter) AS jaccard
FROM pairs JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
WHERE n_inter * 1.0 / (s1.n + s2.n - n_inter) >= {threshold}
ORDER BY 1, 2
"""


def prefix_filter_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (Chaudhuri et al. 2006 /
    Bayardo et al. AllPairs): same result set as ``ngram_jaccard_pairs``
    through a different — often far smaller — candidate space.

    Under one global shingle order (document frequency ascending, then
    shingle; rarest first), any two sets with J >= t must share a
    shingle within their first |X| - ceil(t*|X|) + 1 ordered elements,
    so only PREFIX postings enter the candidate self-join. Two scale
    effects fall out: (1) candidate volume is driven by RARE shingles
    (a 20% prefix at t=0.8), while the inverted-index join pays for hot
    shingles unless `max_doc_freq` truncates them — prefix filtering
    needs no such lossy cap; (2) the join input shrinks ~5x at t=0.8
    before any pair forms. Verification reuses the shared exact-Jaccard
    machinery on the candidate pairs; the pair set is IDENTICAL to the
    full join's (asserted in tests), so this registers against the same
    oracle.

    The per-doc prefix rank is a window partitioned BY DOC (bounded
    work per task); the global order needs no global rank — (df,
    shingle) is itself the order key, computed by one posting-list
    aggregation."""
    from pyspark.sql import Window

    postings = pin(shingle_postings(docs, k))
    doc_freq = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = postings.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        postings.join(doc_freq, "shingle")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("rk"),
            # ceil on raw doubles can round an exact integer product UP
            # past itself (e.g. t=3/17 at n=85 -> 15.000000000000002 ->
            # ceil 16), shortening the prefix below what the AllPairs
            # lemma requires and silently missing qualifying pairs.
            # Nudging down by 1e-9 makes the ceil err only LONGER
            # (a longer prefix admits extra candidates — safe; the exact
            # Jaccard verify step downstream filters them).
            (
                F.col("n") - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9)) + 1
            ).alias("plen"),
        )
    )
    prefix = ranked.filter(F.col("rk") <= F.col("plen")).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    return ngram_jaccard_pairs(
        docs, threshold, k, candidates=candidates, postings=postings
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.8, k: int = 3) -> DataFrame:
    """Directed CONTAINMENT pairs: (src, dst, containment) where
    |S(src) ∩ S(dst)| / |S(src)| >= threshold — "src's shingles are
    mostly inside dst". The asymmetric complement of Jaccard dedup: a
    200-token quote embedded in a 5k-token article has Jaccard ~0.04
    (invisible to every symmetric near-dup pass) but containment ~1.0.
    This is the primitive behind quote/boilerplate extraction and
    train-set decontamination against short eval items.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — one
    posting self-join bounded by shingle co-occurrence, never O(n²);
    both directions of each co-occurring pair are scored from the SAME
    undirected intersection count, so the directed output costs no
    second join. Exact integer counts; one final division per row.
    """
    postings = pin(shingle_postings(docs, k))
    hashed = postings.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    a = hashed.alias("a")
    b = hashed.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    scored = inter.join(s1, "id1").join(s2, "id2")
    fwd = scored.select(
        F.col("id1").alias("src"),
        F.col("id2").alias("dst"),
        (F.col("n_inter") * F.lit(1.0) / F.col("n1")).alias("containment"),
    )
    rev = scored.select(
        F.col("id2").alias("src"),
        F.col("id1").alias("dst"),
        (F.col("n_inter") * F.lit(1.0) / F.col("n2")).alias("containment"),
    )
    return (
        fwd.unionAll(rev)
        .filter(F.col("containment") >= F.lit(threshold))
        .orderBy("src", "dst")
    )


CONTAINMENT_ORACLE_SQL = """
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
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT id1, id2, n_inter, s1.n AS n1, s2.n AS n2
  FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
)
SELECT src, dst, containment FROM (
  SELECT id1 AS src, id2 AS dst, n_inter * 1.0e0 / n1 AS containment FROM scored
  UNION ALL
  SELECT id2 AS src, id1 AS dst, n_inter * 1.0e0 / n2 AS containment FROM scored
)
WHERE containment >= {threshold}
ORDER BY src, dst
"""


def containment_oracle_sql(k: int = 3, threshold: float = 0.8) -> str:
    return CONTAINMENT_ORACLE_SQL.format(k=k, threshold=threshold)
