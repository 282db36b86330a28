"""Corpus-statistics relevance scoring: TF-IDF vectors and BM25.

The two classic lexical scoring functions a retrieval / data-curation
pipeline needs (rank documents against a query, weight terms for
near-dup shingle pruning, feed features to a quality classifier).

Scale shape: everything is one explode + two hash aggregations — tf is
a (doc_id, token) groupBy (partial map-side), df reuses the tf rows
(one row per posting, so COUNT(*) per token == document frequency), and
the corpus constants (N, avgdl) ride a broadcast 1-row cross join.
Nothing is quadratic and no driver action is needed to build the plan.

Cross-engine float policy: scores involve ``ln``, whose last bit is not
guaranteed identical across libm implementations, so both engines
quantize scores to fixed-point 1e-4 BIGINTs (floor(x * 10000 + 0.5)).
A mismatch would need the two ``ln`` results to straddle a rounding
boundary — the functions agree to ~1 ulp (~1e-16 relative), so the
boundary-hit probability per row is ~1e-12.

Reference scope: the reference engine (mapreduce.c) has no scoring
operators; this extends the text-analysis surface per the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.text import tokens_expr
from p6__mapreduce_spark.operators.text_analysis import TOKENS_ORACLE

_Q4 = 10_000


def _q4(col: F.Column) -> F.Column:
    return F.floor(col * F.lit(float(_Q4)) + F.lit(0.5)).cast("long")


def tfidf_doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf, df, tfidf_q4) for every posting — the sparse
    TF-IDF matrix of the corpus, scores as fixed-point 1e-4.

    tfidf = tf * ln(N / df). One explode feeds BOTH aggregations: tf is
    the (doc_id, token) count, df counts tf's rows per token (one
    posting row per doc-token pair), and N arrives via a broadcast
    1-row aggregate — no ``.count()`` on the driver, the plan stays
    fully declarative/incremental.
    """
    # tf feeds the df rollup AND the final join — pinned so the corpus
    # tokenize+explode runs once (plan audit r10: 3 documents scans
    # unpinned; the char_bigram_entropy / tfidf_cosine_topk discipline)
    tf = pin(
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            _q4(F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df"))).alias("tfidf_q4"),
        )
        .orderBy("doc_id", "token")
    )


# float literals in e-notation: DuckDB parses plain `1.0`/`0.5` as
# DECIMAL (exact arithmetic, different results), `1.0e0` as DOUBLE
TFIDF_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_ORACLE.format(col="text")}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n FROM documents)
SELECT doc_id, token, tf, df,
       CAST(floor(tf * ln(n * 1.0e0 / df) * 10000 + 5.0e-1) AS BIGINT) AS tfidf_q4
FROM tf JOIN df USING (token) CROSS JOIN n
ORDER BY doc_id, token
"""


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, dl, score_q4): Okapi BM25 of each document against a
    fixed bag of query terms, fixed-point 1e-4.

    score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln((N - df + 0.5) / (df + 0.5)).

    Per-term tf is a map-side array count (``size(filter(toks, ...))``)
    — no explode, no shuffle on the document side. The corpus constants
    (N, avgdl, per-term df) collapse into ONE broadcast row built by a
    single conditional aggregation, so the whole operator costs one
    corpus scan for the stats + one map-side scoring pass. The term sum
    folds left-to-right in declaration order; the oracle mirrors the
    exact expression shape so both engines run the identical float ops.
    """
    if not query_terms:
        raise ValueError("bm25_scores requires at least one query term")
    toks = docs.select("doc_id", tokens_expr("text").alias("w")).select(
        "doc_id",
        F.size("w").alias("dl"),
        # NOTE: the lambda must be unary — a second (even defaulted)
        # parameter makes F.filter treat it as an (element, index)
        # lambda. It is evaluated eagerly per iteration, so closing
        # over the loop variable is safe.
        *[
            F.size(F.filter("w", lambda t: t == F.lit(term))).alias(f"tf_{i}")
            for i, term in enumerate(query_terms)
        ],
    )
    toks = pin(toks)
    # ^ feeds the corpus-stats aggregate AND the scoring pass —
    # unpinned, the tokenize + per-term array counts re-ran per
    # consumer (plan audit r10: 2 documents scans; now ONE)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = toks.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("sum_dl") * F.lit(1.0) / F.col("n")
    )
    term_score = [
        F.log((F.col("n") - F.col(f"df_{i}") + F.lit(0.5)) / (F.col(f"df_{i}") + F.lit(0.5)))
        * (F.col(f"tf_{i}") * F.lit(k1 + 1.0))
        / (
            F.col(f"tf_{i}")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        for i in range(len(query_terms))
    ]
    total = term_score[0]
    for t in term_score[1:]:
        total = total + t
    return scored.select("doc_id", "dl", _q4(total).alias("score_q4")).orderBy("doc_id")


def unigram_surprise(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, surprise_q6): total surprisal of each document
    under the corpus's own unigram language model — the cheap perplexity
    proxy quality filters use (gibberish scores high, boilerplate low).

    surprisal = -sum_t ln(cnt(t) / total_tokens), summed over token
    *occurrences*. The per-token log-probability is quantized to 1e-6
    fixed point BEFORE the per-doc sum, so the summation is exact
    integer arithmetic — float SUM() order varies across engines and
    partitionings, integer SUM() cannot.

    Plan: one explode feeds both the unigram counts and the per-doc
    join; the total rides a broadcast 1-row aggregate. Cost is two hash
    aggregations and one token-keyed join — O(postings) at any scale.
    """
    tok = docs.select("doc_id", F.explode(tokens_expr("text")).alias("token"))
    # vocab-bounded; feeds the total AND the scoring join — pinned so
    # the corpus explode runs once for the model (plan audit r10: 3
    # documents scans; now 2 — model pass + per-doc scoring pass)
    # cut: composed into tools/run_pipeline.py at sf0.001, pin's kept
    # lineage grew the driver past 15 GB (killed) vs 9.9 GB, 84 s, cut
    freq = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = freq.agg(F.sum("cnt").alias("total"))
    tokq = freq.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(F.log(F.col("cnt") * F.lit(1.0) / F.col("total")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("logp_q6"),
    )
    return (
        tok.join(tokq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("logp_q6")).cast("long").alias("surprise_q6"),
        )
        .orderBy("doc_id")
    )


UNIGRAM_SURPRISE_ORACLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_ORACLE.format(col="text")}) AS token FROM documents
), freq AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
), total AS (SELECT SUM(cnt) AS total FROM freq),
tokq AS (
  SELECT token,
         CAST(floor(ln(cnt * 1.0e0 / total) * 1000000 + 5.0e-1) AS BIGINT) AS logp_q6
  FROM freq CROSS JOIN total
)
SELECT doc_id, COUNT(*) AS n_tokens, CAST(-SUM(logp_q6) AS BIGINT) AS surprise_q6
FROM tok JOIN tokq USING (token)
GROUP BY 1 ORDER BY 1
"""


def bigram_entropy(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, entropy): Shannon entropy of each document's
    own bigram distribution — low entropy = repetitive/templated text,
    high = diverse. The third leg of the quality triad (repetition
    counts, corpus-LM surprisal, within-doc entropy).

    H = -sum_i (c_i/n) ln(c_i/n), computed as exact integers until the
    final division: per-bigram ln(c_i/n) quantizes to 1e-6 fixed point,
    multiplies by the integer count and integer-sums; entropy =
    -sum / (n * 1e6) is one correctly-rounded division of exact values,
    so the result is identical at any partitioning. Documents with < 2
    tokens have no bigram distribution and are absent (inner joins on
    both engines).
    """
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings

    # per-(doc, bigram) counts feed the per-doc totals AND the entropy
    # join — unpinned, the corpus bigram explode re-ran per consumer
    # (plan audit r10: 2 documents scans; now ONE — the
    # char_bigram_entropy pin discipline)
    cnt = pin(
        shingle_postings(docs, 2, distinct=False)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    q6 = F.floor(
        F.log(F.col("c") * F.lit(1.0) / F.col("n")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        cnt.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_bigrams"),
            (-F.sum(F.col("c") * q6)).cast("long").alias("neg_sum_q6"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "neg_sum_q6",
            (F.col("neg_sum_q6") * F.lit(1.0) / (F.col("n_bigrams") * F.lit(1_000_000))).alias(
                "entropy"
            ),
        )
        .orderBy("doc_id")
    )


BIGRAM_ENTROPY_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_ORACLE.format(col="text")} AS w FROM documents
), idx AS (
  SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2
), cnt AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram, COUNT(*) AS c
  FROM idx GROUP BY 1, 2
), n AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1
)
SELECT cnt.doc_id, MAX(n.n) AS n_bigrams,
       CAST(-SUM(c * CAST(floor(ln(c * 1.0e0 / n) * 1000000 + 5.0e-1) AS BIGINT)) AS BIGINT)
         AS neg_sum_q6,
       CAST(-SUM(c * CAST(floor(ln(c * 1.0e0 / n) * 1000000 + 5.0e-1) AS BIGINT)) AS BIGINT)
         * 1.0e0 / (MAX(n.n) * 1000000) AS entropy
FROM cnt JOIN n ON cnt.doc_id = n.doc_id
GROUP BY 1 ORDER BY 1
"""


def bigram_lm(docs: DataFrame, min_pair_count: int = 2) -> DataFrame:
    """(w1, w2, c_pair, c_ctx, p_q6): the corpus bigram language model —
    the conditional probability table P(w2 | w1) behind n-gram quality
    filters and cheap next-token baselines, exact to the last bit:
    p_q6 = floor(c_pair * 10^6 / c_ctx) is INTEGER division of exact
    counts, so no float enters the pipeline at all.

    c_ctx is the count of w1 *as a bigram context* (sum over its
    successors), derived from the pair counts themselves — one explode
    feeds everything, no separate unigram scan. ``min_pair_count``
    drops hapax pairs (noise for LM purposes AND the long tail of the
    output); the context sums are computed BEFORE the cut so the
    probabilities stay correctly normalized against the full corpus.

    Plan: explode bigrams -> partial-aggregated pair counts (shuffle on
    (w1, w2)) -> context sums (shuffle on w1, partial-agg absorbed) ->
    join back on w1 (AQE picks broadcast while the vocab is small,
    sort-merge at corpus scale). Hot contexts ("the") are one GROUP
    ROW after the pair aggregation, never a hot partition.
    """
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings

    arr = F.split("shingle", " ")
    # vocab²-bounded; feeds the context sums AND the final join —
    # unpinned, the corpus bigram explode re-ran per consumer (plan
    # audit r10: 2 documents scans; now ONE — the bigram_perplexity
    # pin, same relation)
    # cut: pin measured 0.96 -> 1.11 s at sf0.1 (bigram_lm, 1/5 pin wins)
    pairs = (
        shingle_postings(docs, 2, distinct=False)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .select(arr[0].alias("w1"), arr[1].alias("w2"), "c_pair")
        .localCheckpoint(eager=True)
    )
    ctx = pairs.groupBy("w1").agg(F.sum("c_pair").alias("c_ctx"))
    return (
        pairs.join(ctx, "w1")
        .filter(F.col("c_pair") >= min_pair_count)
        .select(
            "w1",
            "w2",
            "c_pair",
            "c_ctx",
            F.expr("c_pair * 1000000L div c_ctx").alias("p_q6"),
        )
        .orderBy("w1", "w2")
    )


BIGRAM_LM_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_ORACLE.format(col="text")} AS w FROM documents
), idx AS (
  SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2
), pc AS (
  SELECT w[i] AS w1, w[i+1] AS w2, COUNT(*) AS c_pair FROM idx GROUP BY 1, 2
), cc AS (
  SELECT w1, CAST(SUM(c_pair) AS BIGINT) AS c_ctx FROM pc GROUP BY 1
)
SELECT pc.w1, pc.w2, c_pair, c_ctx,
       CAST(c_pair * 1000000 // c_ctx AS BIGINT) AS p_q6
FROM pc JOIN cc USING (w1)
WHERE c_pair >= 2
ORDER BY 1, 2
"""


def _e(x: float) -> str:
    """Float literal that parses as DOUBLE in DuckDB (plain decimals
    parse as DECIMAL and run exact arithmetic instead of IEEE754)."""
    return f"{x:.17e}"


def bm25_oracle_sql(query_terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB mirror of ``bm25_scores``: identical tokenizer, identical
    per-term expression shape and left-to-right sum order."""
    if not query_terms:
        raise ValueError("bm25_oracle_sql requires at least one query term")
    toks = TOKENS_ORACLE.format(col="text")
    tf_cols = ", ".join(
        f"len(list_filter(w, t -> t = '{term}')) AS tf_{i}" for i, term in enumerate(query_terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(query_terms))
    )
    terms = " + ".join(
        f"(ln((n - df_{i} + {_e(0.5)}) / (df_{i} + {_e(0.5)}))"
        f" * (tf_{i} * {_e(k1 + 1.0)}) / (tf_{i} + {_e(k1)} * ({_e(1.0 - b)} + {_e(b)} * dl / avgdl)))"
        for i in range(len(query_terms))
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, len(w) AS dl, {tf_cols}
      FROM (SELECT doc_id, {toks} AS w FROM documents)
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sum_dl, {df_cols} FROM toks
    ), scored AS (
      SELECT doc_id, dl, ({terms}) AS score
      FROM (SELECT *, sum_dl * {_e(1.0)} / n AS avgdl FROM toks CROSS JOIN stats)
    )
    SELECT doc_id, dl, CAST(floor(score * 10000 + {_e(0.5)}) AS BIGINT) AS score_q4
    FROM scored ORDER BY doc_id
    """


def bigram_perplexity(docs: DataFrame, min_pair_count: int = 2) -> DataFrame:
    """(doc_id, n_bigrams, nll_q6, avg_nll): each document scored under
    the corpus's own bigram LM with stupid backoff — the standard
    perplexity quality filter (Wenzek et al. 2020 CCNet uses exactly
    this shape, with a KenLM instead of the self-corpus model).

    Per bigram: -ln P(w2|w1) from the pair/context counts when the
    pair clears ``min_pair_count``, else the backoff -ln(0.4 *
    cnt(w2)/total) from the unigram model. Log-probs quantize to 1e-6
    fixed point BEFORE the per-doc integer sum (partition-order-proof,
    same recipe as unigram_surprise); avg_nll = nll_q6 / (n * 1e6) is
    one exact-int division at the end. exp() is deliberately not
    applied — perplexity is monotone in avg_nll and exp adds nothing
    but float noise.

    Plan: one bigram explode feeds the pair counts, the context sums
    AND the per-doc join probe; the unigram backoff table joins on w2.
    Two token-keyed joins, all partial-aggregated — O(postings).
    """
    from p6__mapreduce_spark.functions.text import tokens_expr

    toks = docs.select("doc_id", tokens_expr("text").alias("w")).filter(F.size("w") >= 2)
    n_pairs = F.size("w") - F.lit(1)
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, n_pairs).alias("w1"), F.slice("w", 2, n_pairs).alias("w2")
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    # vocab²-bounded; feeds the context sums, the LM join AND (below)
    # the unigram backoff — pinned so the corpus bigram explode runs
    # once for the whole model build (plan audit r10: 5 documents
    # scans unpinned; now 2 — model build + per-doc scoring, the floor)
    pairs = pin(
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_pair"))
    )
    ctx = pairs.groupBy("w1").agg(F.sum("c_pair").alias("c_ctx"))
    lm = (
        pairs.join(ctx, "w1")
        .filter(F.col("c_pair") >= min_pair_count)
        .select(
            "w1",
            "w2",
            F.floor(F.log(F.col("c_pair") * F.lit(1.0) / F.col("c_ctx")) * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("lm_logp_q6"),
        )
    )
    # w2-occurrence counts fold out of the pinned pair counts exactly
    # (SUM of c_pair grouped by w2 = COUNT of w2 over big) — no third
    # corpus pass
    uni = pairs.groupBy(F.col("w2").alias("u_w2")).agg(
        F.sum("c_pair").cast("long").alias("cnt")
    )
    total = uni.agg(F.sum("cnt").alias("total"))
    backoff = uni.crossJoin(F.broadcast(total)).select(
        "u_w2",
        F.floor(
            F.log(F.lit(0.4) * F.col("cnt") / F.col("total")) * F.lit(1e6) + F.lit(0.5)
        )
        .cast("long")
        .alias("bo_logp_q6"),
    )
    scored = (
        big.join(lm, ["w1", "w2"], "left")
        .join(backoff, big["w2"] == F.col("u_w2"))
        .select("doc_id", F.coalesce("lm_logp_q6", "bo_logp_q6").alias("logp_q6"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("logp_q6")).cast("long").alias("nll_q6"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_q6",
            (F.col("nll_q6") * F.lit(1.0) / (F.col("n_bigrams") * F.lit(1e6))).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


BIGRAM_PERPLEXITY_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_ORACLE.format(col="text")} AS w FROM documents
), idx AS (
  SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2
), big AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM idx
), pc AS (
  SELECT w1, w2, COUNT(*) AS c_pair FROM big GROUP BY 1, 2
), cc AS (
  SELECT w1, CAST(SUM(c_pair) AS BIGINT) AS c_ctx FROM pc GROUP BY 1
), lm AS (
  SELECT pc.w1, pc.w2,
         CAST(floor(ln(c_pair * 1.0e0 / c_ctx) * 1000000 + 5.0e-1) AS BIGINT) AS lm_logp_q6
  FROM pc JOIN cc USING (w1) WHERE c_pair >= {{min_pair_count}}
), uni AS (
  SELECT w2 AS u_w2, COUNT(*) AS cnt FROM big GROUP BY 1
), total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uni),
backoff AS (
  SELECT u_w2,
         CAST(floor(ln(4.0e-1 * cnt / total) * 1000000 + 5.0e-1) AS BIGINT) AS bo_logp_q6
  FROM uni CROSS JOIN total
), scored AS (
  SELECT doc_id, COALESCE(lm_logp_q6, bo_logp_q6) AS logp_q6
  FROM big
  LEFT JOIN lm USING (w1, w2)
  JOIN backoff ON big.w2 = u_w2
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(-SUM(logp_q6) AS BIGINT) AS nll_q6,
       CAST(-SUM(logp_q6) AS BIGINT) * 1.0e0 / (COUNT(*) * 1000000) AS avg_nll
FROM scored GROUP BY 1 ORDER BY 1
"""


def tfidf_cosine_topk(
    docs: DataFrame, *, k: int = 5, max_df: int | None = None, max_df_den: int = 5
) -> DataFrame:
    """Sparse TF-IDF cosine k-nearest-neighbors via posting-list join —
    the lexical ANN that complements the embedding kNN family: no
    model, exact scores, candidates only where documents actually
    share a token.

    Pipeline: TF-IDF postings (tfidf_doc_terms weights, the same 1e-4
    fixed point) → drop stopword-ish terms (the unbounded posting
    lists that make naive all-pairs quadratic; candidate volume is
    Σ df² over the SURVIVING terms — the standard inverted-index
    bound) → one self-equi-join on token accumulating the dot product
    → top-``k`` per anchor doc.

    The cap is RELATIVE by default — ``df · max_df_den ≤ N`` (an
    exact integer predicate, df ≤ N/5 at the default), so the
    candidate geometry is scale-invariant: an absolute cap tuned at
    one sf silently empties the posting set at a larger corpus
    (measured: ``max_df=100`` yields 0 candidates at sf0.1). Pass
    ``max_df`` for the absolute bound when posting-list length itself
    must be capped (the 100 TB posture — then Σ df² ≤ |terms|·cap²
    regardless of corpus size).

    Exactness: weights are exact BIGINT fixed-point, so dot products
    and squared norms are exact integer sums (order-independent);
    cosine = dot / (sqrt(na)·sqrt(nb)) is the ONLY float — IEEE sqrt
    and division are correctly rounded, so both engines produce the
    identical double and the (cos DESC, doc_b) rank order matches.
    Overflow headroom is UNCONDITIONAL because tf clamps at 100 on
    both engines (a spam-bomb doc repeating one token 1e9 times would
    otherwise push w_q4 past int64 in the dot products; cosine already
    saturates long before tf=100, so the clamp only tames adversarial
    inputs — no test corpus reaches it, max observed tf=14): w_q4 ≤
    100·ln(N/df)·1e4 ≤ 2.8e7 at N=1e12, per-pair dot ≤
    shared_terms·7.8e14 — int64-safe to ~11 000 shared terms, far
    past any real doc at the df cap.
    """
    tf = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    cap = (
        (F.col("df") <= F.lit(int(max_df)))
        if max_df is not None
        else (F.col("df") * F.lit(int(max_df_den)) <= F.col("n"))
    )
    w = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .filter(cap)
        .select(
            "doc_id",
            "token",
            _q4(
                F.least(F.col("tf"), F.lit(100))
                * F.log(F.col("n") * F.lit(1.0) / F.col("df"))
            ).alias("wq"),
        )
    )
    # the weight table feeds FOUR consumers (join sides a/b + both
    # norm lookups); without materialization Catalyst re-plans the
    # tokenize+tf+df subtree once per consumer — 4 corpus scans.
    w = pin(w)
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).cast("long").alias("nrm2"))
    a = w.select(F.col("doc_id").alias("doc_a"), "token", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("token").alias("tok_b"), F.col("wq").alias("wb"))
    dots = (
        a.join(b, (F.col("token") == F.col("tok_b")) & (F.col("doc_a") != F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm2").alias("nb2"))
    cos = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w_rank = Window.partitionBy("doc_a").orderBy(F.col("cos_sim").desc(), F.col("doc_b"))
    return (
        cos.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= F.lit(int(k)))
        .orderBy("doc_a", "rank")
    )


TFIDF_COSINE_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_ORACLE.format(col="text")}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n FROM documents),
w AS (
  SELECT doc_id, token,
         CAST(floor(LEAST(tf, 100) * ln(n * 1.0e0 / df) * 10000 + 5.0e-1) AS BIGINT) AS wq
  FROM tf JOIN df USING (token) CROSS JOIN n
  WHERE {{cap_predicate}}
), norms AS (
  SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS nrm2 FROM w GROUP BY 1
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.wq * b.wq) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), cos AS (
  SELECT doc_a, doc_b,
         CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))) AS cos_sim
  FROM dots JOIN norms na ON na.doc_id = doc_a
            JOIN norms nb ON nb.doc_id = doc_b
), ranked AS (
  SELECT doc_a, doc_b, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY cos_sim DESC, doc_b) AS rank
  FROM cos
)
SELECT doc_a, doc_b, cos_sim, rank FROM ranked
WHERE rank <= {{k}} ORDER BY doc_a, rank
"""


def phrase_search(docs: DataFrame, phrase: tuple[str, ...] = ("big", "order", "scan")) -> DataFrame:
    """Exact-phrase retrieval via a positional index — the IR
    capability bag-of-words scoring (tfidf/bm25) cannot express:
    "these tokens, CONSECUTIVELY". The classic positional-postings
    plan (Manning-Raghavan-Schütze IR ch. 2): explode tokens WITH
    POSITIONS, filter the postings to the query terms FIRST (the
    selectivity step — at 100 TB only |postings(term)| rows survive
    the scan, never the corpus), group the survivors into per-doc
    position arrays, and verify adjacency inside the row. The oracle
    keeps the textbook (doc_id, pos + offset) equi-join formulation —
    same result, independent plan.

    Returns (doc_id, n_occurrences, first_pos) for matching docs,
    deterministically ordered (count desc, doc_id) and limited —
    integer-only output, trivially hash-stable.

    Scale shape: the corpus-sized stage is the single tokenize +
    posexplode projection; the term filter reduces it to the query
    terms' postings (pushdown-friendly: a lexicon-partitioned posting
    store would prune files here); joins run on those bounded lists
    keyed by (doc_id, pos), which AQE broadcasts when one side is a
    rare term — exactly how a distributed phrase query should run."""
    import functools

    from p6__mapreduce_spark.functions.text import tokens_expr

    pos = (
        docs.select("doc_id", F.posexplode(tokens_expr("text")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
        .filter(F.col("tok").isin(*phrase))
    )
    # one corpus scan, one shuffle of the FILTERED postings: per-doc
    # position arrays per term (collect_list drops the when()-nulls),
    # then adjacency matching runs inside the row with higher-order
    # functions — no n-way self-join re-tokenizing the corpus per leg
    arrs = pos.groupBy("doc_id").agg(
        *[
            F.collect_list(F.when(F.col("tok") == t, F.col("pos"))).alias(f"a{i}")
            for i, t in enumerate(phrase)
        ]
    )
    hits = F.filter(
        F.col("a0"),
        lambda x: functools.reduce(
            lambda acc, i: acc & F.array_contains(F.col(f"a{i}"), x + i),
            range(1, len(phrase)),
            F.lit(True),
        ),
    )
    return (
        arrs.select(
            "doc_id",
            F.size(hits).cast("long").alias("n_occurrences"),
            F.array_min(hits).cast("long").alias("first_pos"),
        )
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
        .limit(50)
    )


PHRASE_SEARCH_ORACLE_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), pos AS (
  SELECT doc_id, i AS pos, w[i] AS tok
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks)
  WHERE w[i] IN ({terms})
), m AS (
  SELECT p0.doc_id, p0.pos
  FROM (SELECT doc_id, pos FROM pos WHERE tok = {t0}) p0
  {joins}
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(pos) AS BIGINT) AS first_pos
FROM m GROUP BY 1
ORDER BY n_occurrences DESC, doc_id
LIMIT 50
"""


def phrase_search_oracle_sql(phrase: tuple[str, ...] = ("big", "order", "scan")) -> str:
    def q(t: str) -> str:
        return "'" + t + "'"

    joins = "\n  ".join(
        f"JOIN (SELECT doc_id, pos - {off} AS pos FROM pos WHERE tok = {q(t)}) p{off}"
        f" ON p{off}.doc_id = p0.doc_id AND p{off}.pos = p0.pos"
        for off, t in enumerate(phrase[1:], start=1)
    )
    return PHRASE_SEARCH_ORACLE_SQL.format(
        terms=", ".join(q(t) for t in phrase), t0=q(phrase[0]), joins=joins
    )
