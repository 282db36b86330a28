"""Text-analysis operators over a documents table (driver extension,
SURVEY.md §7.2 M3): token statistics, word frequency, language-ID
heuristic, quality scoring, document fingerprinting.

Everything is built-in expressions / higher-order functions — JVM-side,
codegen'd, zero Python in the hot path — so each operator is a pure
map-side projection (no shuffle) except word_freq's aggregation. At
100 TB these run at scan speed with full column pruning.

All arithmetic is integer or exact-integer-over-integer division so the
DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.functions.hashing import POLY_BASE, POLY_MOD, poly_hash_expr
from p6__mapreduce_spark.functions.text import tokens_expr

# Stopword lists for the n-gram/stopword language heuristic. The score
# for each language = fraction of tokens in its stopword set.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: counts + unique ratio.

    Oracle pattern (DuckDB): toks = list_filter(string_split_regex(
    lower(trim(text)), '[^a-z0-9]+'), t -> t <> '').
    """
    toks = tokens_expr("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length(F.trim("text")).alias("len_chars"),
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)).alias("unique_ratio"),
    )


def word_freq(docs: DataFrame) -> DataFrame:
    """Corpus-wide token frequency (the tokenized form of the reference's
    wordcount: GROUP BY token, COUNT(*))."""
    return (
        docs.select(F.explode(tokens_expr("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("token")
    )


def lang_id(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-ratio language heuristic.

    predicted = argmax over languages of stopword-hit fraction;
    'und' (undetermined) when every score is 0. Ties break by language
    code ascending (deterministic). Scores are exact (int/int division).

    ``keep_cols`` passes input columns through on the SAME map-side
    projection — callers that need the prediction next to another doc
    column (lang_id_confusion's declared lang) read the corpus once
    instead of re-scanning for a doc_id self-join (plan audit r10; the
    shingle_postings ``toks`` precedent).
    """
    toks = tokens_expr("text")
    n = F.size(toks)

    def stopword_hits(sw: tuple[str, ...]):
        # closure factory: HOF lambdas must take exactly one parameter
        # (PySpark derives the lambda's arity from its signature)
        return lambda t: t.isin(*sw)

    scores = {
        lang: F.size(F.filter(toks, stopword_hits(sw))) * F.lit(1.0) / n
        for lang, sw in LANG_STOPWORDS.items()
    }
    # argmax via greatest + chained when (tie -> first lang in asc order)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return docs.select("doc_id", *keep_cols, pred.alias("pred_lang"))


def quality_score(docs: DataFrame, *, min_tokens: int = 20, max_chars: int = 2000) -> DataFrame:
    """Heuristic document-quality signals + composite score in [0, 1].

    Components (all exact arithmetic): length fitness, lexical
    diversity (unique ratio), mean token length fitness. Composite =
    unweighted mean of the three component indicators.
    """
    toks = tokens_expr("text")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    chars = F.length(F.trim("text"))
    len_ok = (n >= F.lit(min_tokens)) & (chars <= F.lit(max_chars))
    mean_tok_len = chars * F.lit(1.0) / n
    tok_len_ok = (mean_tok_len >= 2.0) & (mean_tok_len <= 12.0)
    diversity = uniq * F.lit(1.0) / n
    score = (
        len_ok.cast("int") + tok_len_ok.cast("int") + (diversity >= 0.3).cast("int")
    ) * F.lit(1.0) / F.lit(3.0)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        len_ok.cast("int").alias("len_ok"),
        tok_len_ok.cast("int").alias("tok_len_ok"),
        diversity.alias("diversity"),
        score.alias("quality"),
    )


def ngram_freq(docs: DataFrame, n: int = 2) -> DataFrame:
    """Corpus-wide n-gram frequency (all occurrences, not per-doc
    distinct). Map-side n-gram construction via index transform — the
    only shuffle is the final count aggregation.

    Oracle: unnest over range(1, len(w)-n+2) building
    w[i]||' '||...||w[i+n-1], then GROUP BY.

    r8: the token array is materialized into a column BEFORE the gram
    lambda — ``slice`` on the raw tokenizer expression re-expands the
    whole tokenizer (lower + regex split + filter) once per POSITION,
    the anti-pattern documented at ngram_pmi/dedup.jaccard (measured
    there ~4x; here 4.8 s -> ~1 s at sf0.1). Values unchanged.
    """
    tok_df = docs.select(tokens_expr("text").alias("w"))
    w = F.col("w")
    cnt = F.size(w)
    idx = F.when(cnt >= F.lit(n), F.sequence(F.lit(0), cnt - F.lit(n))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, n), " "))
    return (
        tok_df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("ngram")
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprints: sha256 (exact-dedup key) + 31-bit polynomial
    rolling hash (cheap locality-friendly fingerprint)."""
    return docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        poly_hash_expr("text").alias("poly_hash"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 16, window: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken-style):
    rolling hash over char k-grams, keep the MIN hash in each window of
    ``window`` consecutive k-grams, output the distinct selected prints.

    Two documents sharing any substring of length >= k + window - 1
    share at least one fingerprint — the substring-granular near-dup /
    plagiarism primitive. All map-side expression work; the output
    (doc_id, fp) postings join exactly like shingle postings for
    candidate generation.
    """
    from p6__mapreduce_spark.functions.hashing import POLY_BASE, POLY_MOD

    # r8 (r7 verdict #5), structural rewrite with IDENTICAL output:
    #
    # 1. Gram hashes by HASH DOUBLING instead of re-folding
    #    poly_hash_expr(substring(i, k)) at every position (k multiply-
    #    adds + a k-char substring + char split per gram — ~16x the
    #    expression work at k=16). h_w[i] = poly hash of chars
    #    i..i+w-1; levels combine as h_{2w}[i] = (h_w[i] * B^w +
    #    h_w[i+w]) mod m — log2(k) cheap array transforms per doc,
    #    O(n log k) total, no quadratic array building (an
    #    array_append prefix fold was measured at 3.7s of the 5s
    #    runtime — Catalyst copies the accumulator array per element).
    #    Values are identical to the direct fold (the polynomial
    #    decomposition holds under mod), so the oracle SQL and every
    #    pinned hash are unchanged. B^w mod m are Python literals;
    #    h < 2^31 and B^w mod m < 2^31 keep every product in int64.
    # 2. The per-window minimum uses the same sparse-table doubling on
    #    least() (RMQ): min levels m_{2^j}, then any window w is
    #    least(m_{2^J}[i], m_{2^J}[i + w - 2^J]) with J = floor(log2
    #    (w)) — overlap is harmless for min. Dedup per doc with
    #    array_distinct. This replaces the r7 shape's explode of every
    #    gram into a row + corpus-sized shuffle + per-doc window sort
    #    + distinct shuffle: (doc_id, fp) pairs are unique after the
    #    per-doc dedup, so the ONLY exchange left is the output
    #    orderBy on the small fingerprint set.
    #
    # Scale note: fingerprints are LOCAL (a window of `window` grams
    # spans window+k-1 chars), so very long documents shard into
    # overlapping segments with identical output; per-doc arrays are
    # fine at this corpus's ~600-char docs, O(n log k) per doc.
    text = F.trim(F.col("text"))
    n_grams = F.length(text) - F.lit(k) + 1
    chars = F.filter(F.split(text, ""), lambda ch: ch != F.lit(""))
    base = docs.select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.transform(chars, lambda ch: F.ascii(ch).cast("long")).alias("h"),
    )

    def _combine(df, col_a, col_b, off: int, mult: int, out: str):
        """out[i] = (a[i] * mult + b[i + off]) % m over the valid
        range — one materialized transform level."""
        n_out = F.size(F.col(col_b)) - F.lit(off)
        lv = F.when(
            n_out >= 1,
            F.transform(
                F.sequence(F.lit(1), n_out),
                lambda i: (
                    F.element_at(F.col(col_a), i.cast("int")) * F.lit(mult)
                    + F.element_at(F.col(col_b), (i + F.lit(off)).cast("int"))
                )
                % F.lit(POLY_MOD),
            ),
        ).otherwise(F.array().cast("array<long>"))
        return df.select("doc_id", "n_grams", lv.alias(out))

    # power-of-two k (every call site: k = 16): doubling levels
    # h_1 -> h_2 -> ... -> h_k. Non-power-of-two k: one per-position
    # fold over the INT codes array (O(n*k) scalar ops — still no
    # per-position substring/char-split and no quadratic array build).
    if k & (k - 1) == 0:
        w_, df = 1, base
        while w_ < k:
            df = _combine(df, "h", "h", w_, pow(POLY_BASE, w_, POLY_MOD), "h")
            w_ *= 2
    else:
        gh = F.when(
            F.col("n_grams") >= 1,
            F.transform(
                F.sequence(F.lit(1), F.col("n_grams")),
                lambda i: F.aggregate(
                    F.slice(F.col("h"), i, k),
                    F.lit(0).cast("long"),
                    lambda acc, c: (acc * F.lit(POLY_BASE) + c) % F.lit(POLY_MOD),
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))
        df = base.select("doc_id", "n_grams", gh.alias("h"))
    hashed = df.select("doc_id", "n_grams", F.col("h").alias("gh"))

    # sparse-table min levels to window width
    def _min_at(o: int):
        return lambda i: F.least(
            F.element_at(F.col("m"), i.cast("int")),
            F.element_at(F.col("m"), (i + F.lit(o)).cast("int")),
        )

    big_j = 1
    mdf = hashed.select("doc_id", "n_grams", F.col("gh").alias("m"))
    while big_j * 2 <= window:
        n_out = F.size(F.col("m")) - F.lit(big_j)
        lv = F.when(
            n_out >= 1,
            F.transform(F.sequence(F.lit(1), n_out), _min_at(big_j)),
        ).otherwise(F.array().cast("array<long>"))
        mdf = mdf.select("doc_id", "n_grams", lv.alias("m"))
        big_j *= 2
    off = window - big_j  # 0 when window is a power of two
    n_win = F.col("n_grams") - F.lit(window) + 1
    pick = (
        _min_at(off) if off else (lambda i: F.element_at(F.col("m"), i.cast("int")))
    )
    fps = F.when(
        n_win >= 1,
        F.array_distinct(F.transform(F.sequence(F.lit(1), n_win), pick)),
    ).otherwise(F.array().cast("array<long>"))
    return (
        mdf.select("doc_id", F.explode(fps).alias("fp"))
        .orderBy("doc_id", "fp")
    )


def poly_hash_oracle_sql(expr: str, *, base: int = POLY_BASE, mod: int = POLY_MOD, seed: int = 0) -> str:
    """DuckDB equivalent of functions.hashing.poly_hash_expr(expr)."""
    return (
        f"list_reduce([CAST({seed} AS BIGINT)] || "
        f"[CAST(ascii(c) AS BIGINT) for c in string_split({expr}, '')], "
        f"(acc, x) -> (acc * {base} + x) % {mod})"
    )


TOKENS_ORACLE = (
    "list_filter(string_split_regex(lower(trim({col})), '[^a-z0-9]+'), t -> t <> '')"
)


def rare_ngram_ratio(docs: DataFrame, n: int = 2, rare_max: int = 2) -> DataFrame:
    """Per-document novelty/garbage signal: the fraction of a doc's
    n-gram occurrences whose corpus-wide frequency is <= ``rare_max``.

    Boilerplate scores near 0 (every n-gram is corpus-common); OCR
    noise, mangled encodings and genuinely novel text score high — the
    cheap statistical stand-in for LM-perplexity filtering, and unlike
    log-prob sums it is exact-integer all the way (bit-identical at any
    partitioning; a float log-prob SUM is addition-order-dependent).

    Plan: ONE n-gram explode (the arrays_zip shape from
    dedup.jaccard.shingle_postings — tokenizer runs once per row),
    pinned because it feeds BOTH the corpus count and the probe
    side of the join (without the materialization each branch would
    recompute the explode; with it the op is ~2x faster at sf0.1).
    Docs with fewer than n tokens have no n-grams and are omitted. At
    100 TB write the corpus count table once and join many batches
    against it.
    """
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings

    grams = shingle_postings(docs, n, distinct=False).withColumnRenamed(
        "shingle", "ngram"
    )
    grams = pin(grams)
    corpus = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("corpus_cnt"))
    return (
        grams.join(corpus, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.when(F.col("corpus_cnt") <= rare_max, 1).otherwise(0)).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_rare",
            (F.col("n_rare") * F.lit(1.0) / F.col("n_ngrams")).alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


def lexicon_hits(docs: DataFrame, lexicon: list[str]) -> DataFrame:
    """Term-lexicon occurrence profile per document — the mechanism
    behind blocklist filtering (toxicity/spam lexicons) and domain
    terminology tagging. A token-level equi-join against the broadcast
    lexicon, NOT a giant regex alternation: the join scales with
    |tokens| + |lexicon| and keeps whole-word semantics exact, where
    the regex needs word-boundary assertions, recompiles per task, and
    its cost grows with the alternation width.

    Output: doc_id, n_hits (occurrences), n_terms (distinct lexicon
    terms present), terms (sorted, comma-joined — deterministic), and
    the keep flag ``clean`` = no hits. Zero-hit documents are restored
    by a left join (clean = true).
    """
    spark = docs.sparkSession
    lex = local_frame(spark, [(t,) for t in sorted(set(lexicon))], "term string")
    tok = docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
    hits = (
        tok.join(F.broadcast(lex), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.count_distinct("term").alias("n_terms"),
            F.concat_ws(",", F.sort_array(F.collect_set("term"))).alias("terms"),
        )
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("n_terms", F.lit(0)).alias("n_terms"),
            F.coalesce("terms", F.lit("")).alias("terms"),
            (F.coalesce("n_hits", F.lit(0)) == 0).alias("clean"),
        )
        .orderBy("doc_id")
    )


LEXICON_HITS_ORACLE_SQL = """
WITH lex(term) AS (VALUES {values}),
tok AS (
  SELECT doc_id, unnest({tokens}) AS term FROM documents
), hits AS (
  SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT term) AS n_terms,
         list_aggregate(list_sort(list(DISTINCT term)), 'string_agg', ',') AS terms
  FROM tok JOIN lex USING (term) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(n_hits, 0) AS n_hits,
       COALESCE(n_terms, 0) AS n_terms,
       COALESCE(terms, '') AS terms,
       COALESCE(n_hits, 0) = 0 AS clean
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
ORDER BY d.doc_id
"""


def readability_scores(docs: DataFrame) -> DataFrame:
    """Per-document Flesch reading-ease and Flesch-Kincaid grade with
    the standard heuristic inputs: words = the shared token split,
    sentences = runs of terminal punctuation ([.!?]+, floored at 1 so
    punctuation-free text counts as one sentence), syllables = vowel
    GROUPS ([aeiouy]+) in the lowercased text — the classic
    one-regex-per-document syllable approximation. One map-side
    projection, no shuffle; at 100 TB this runs at scan speed with
    only (doc_id, text) read.

    Exactness: the three counts are exact integers; the two scores are
    a fixed dag of correctly-rounded IEEE-754 double ops on
    integer-valued inputs with literal coefficients, so DuckDB
    reproduces them bit-for-bit."""
    toks = tokens_expr("text")
    n_words = F.size(toks)
    n_sentences = F.greatest(F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+")))
    n_syllables = F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
    wps = n_words.cast("double") / n_sentences.cast("double")
    spw = n_syllables.cast("double") / n_words.cast("double")
    return (
        docs.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            n_sentences.cast("long").alias("n_sentences"),
            n_syllables.cast("long").alias("n_syllables"),
            (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias("flesch_ease"),
            (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)).alias("fk_grade"),
        )
        .filter(F.col("n_words") > 0)
        .orderBy("doc_id")
    )


READABILITY_ORACLE_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(len({tokens}) AS BIGINT) AS n_words,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch_ease,
       0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59 AS fk_grade
FROM base WHERE n_words > 0 ORDER BY doc_id
"""


def quantile_normalize_tokens(docs: DataFrame) -> DataFrame:
    """Cross-source quantile normalization of document length: each
    doc's token count is replaced by the pooled corpus distribution's
    value at the doc's within-source positional quantile. The
    within-source rank is the exact two-phase rank
    (``functions/ranks.py``, r6 — the naive per-source window put
    ~corpus/|sources| rows through one task); the pooled lookup is a
    broadcast range join into the DISTINCT-value cumulative table
    (value-domain sized). All-integer rank arithmetic via Spark's
    ``div``. See q_quantile_normalize_tokens for the driver-verified
    oracle."""
    from pyspark.sql import Window

    from p6__mapreduce_spark.functions.ranks import two_phase_rank

    # narrow |docs|-bounded numeric relation; feeds the two-phase rank,
    # the pooled total AND the value histogram — unpinned, the corpus
    # tokenize re-ran per consumer (plan audit r10: 2 documents scans;
    # now ONE)
    nz = pin(
        docs.select(
            "doc_id", "source", F.size(tokens_expr("text")).cast("long").alias("n_tokens")
        ).filter(F.col("n_tokens") > 0)
    )
    ranked = two_phase_rank(
        nz,
        ["n_tokens", "doc_id"],
        group_cols=["source"],
        rank_col="rn",
        group_count_col="n_src",
    ).select("doc_id", "source", "n_tokens", "rn", "n_src")
    tot = nz.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    targets = ranked.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(
            F.col("n_src") > 1,
            1 + F.expr("((rn - 1) * (n_all - 1)) div (n_src - 1)"),
        )
        .otherwise(F.expr("(n_all + 1) div 2"))
        .cast("long")
        .alias("g_rank"),
    )
    counts = nz.groupBy("n_tokens").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)
    gdist = counts.select(
        F.col("n_tokens").alias("v"),
        F.sum("cnt").over(wcum).cast("long").alias("hi"),
        (F.sum("cnt").over(wcum) - F.col("cnt") + 1).cast("long").alias("lo"),
    )
    return (
        targets.join(
            F.broadcast(gdist),
            (F.col("g_rank") >= F.col("lo")) & (F.col("g_rank") <= F.col("hi")),
        )
        .select("doc_id", "source", "n_tokens", F.col("v").alias("norm_tokens"))
        .orderBy("doc_id")
    )


def vocab_growth_curve(docs: DataFrame, *, n_checkpoints: int = 20) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve: cumulative distinct token
    types after each checkpoint of the corpus, in doc_id order — the
    saturation diagnostic behind "will more crawl add vocabulary or
    just tokens?" (`vocab_coverage` asks what a FIXED vocab covers;
    this asks how the vocab itself grows).

    The classic trap is that "distinct types among the first t docs"
    looks inherently sequential; it collapses to one aggregation
    because a type is new exactly at its MINIMUM doc_id: explode to
    (token, min(doc_id)), bucket those first-sight positions into
    ``n_checkpoints`` equal doc-count checkpoints (exact integer rank
    arithmetic, no percentile), and take one cumulative sum over the
    bounded checkpoint relation. Token totals per checkpoint ride the
    same shape.

    Output per checkpoint: (checkpoint, docs_through, new_types,
    cum_types, cum_tokens, type_token_ratio) — exact ints + one final
    ratio.

    Scale shape: one corpus explode -> vocab-bounded (token, min_doc,
    n_occurrences) aggregate; the doc rank behind the checkpoints is a
    distributed ``two_phase_rank`` (range-repartition + local
    row_number + bounded offset join — NOT an unpartitioned window; r8
    ADVICE), so everything after the explode runs on |vocab| rows then
    ``n_checkpoints`` rows with no corpus-sized single-task sort."""
    from p6__mapreduce_spark.functions.ranks import two_phase_rank
    from p6__mapreduce_spark.functions.text import tokens_expr
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(tokens_expr("text")).alias("tok"))
    vocab = toks.groupBy("tok").agg(
        F.min("doc_id").cast("long").alias("first_doc"),
        F.count(F.lit(1)).cast("long").alias("occ"),
    )
    # dense doc rank (1..n_docs) for exact equal-count checkpoints;
    # doc_id is the documents primary key, so it is its own tiebreak
    doc_rank = two_phase_rank(
        docs.select("doc_id"), ["doc_id"], rank_col="rk"
    ).select("doc_id", "rk")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    ck = (
        F.ceil(
            F.col("rk").cast("double")
            * F.lit(float(n_checkpoints))
            / F.col("nd").cast("double")
        )
        .cast("long")
        .alias("checkpoint")
    )
    per_doc_tokens = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    doc_ck = pin(  # feeds both the type and token rollups
        doc_rank.crossJoin(F.broadcast(n_docs))  # 1-row scalar broadcast (labeled)
        .select("doc_id", "rk", ck)
    )
    new_types = (
        vocab.join(doc_ck.select(F.col("doc_id").alias("first_doc"), "checkpoint"), "first_doc")
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    tokens_per_ck = (
        per_doc_tokens.join(doc_ck, "doc_id")
        .groupBy("checkpoint")
        .agg(F.sum("n_tok").cast("long").alias("ck_tokens"))
    )
    docs_per_ck = doc_ck.groupBy("checkpoint").agg(
        F.count(F.lit(1)).cast("long").alias("ck_docs")
    )
    w = Window.orderBy("checkpoint").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_per_ck.join(new_types, "checkpoint", "left")
        .join(tokens_per_ck, "checkpoint", "left")
        .na.fill({"new_types": 0, "ck_tokens": 0})
        .select(
            "checkpoint",
            F.sum("ck_docs").over(w).cast("long").alias("docs_through"),
            "new_types",
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
            F.sum("ck_tokens").over(w).cast("long").alias("cum_tokens"),
            (
                F.sum("new_types").over(w).cast("double")
                / F.sum("ck_tokens").over(w).cast("double")
            ).alias("type_token_ratio"),
        )
        .orderBy("checkpoint")
    )


VOCAB_GROWTH_ORACLE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc, CAST(COUNT(*) AS BIGINT) AS occ
  FROM toks GROUP BY 1
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents
), doc_ck AS (
  SELECT doc_id, rk,
         CAST(ceil(CAST(rk AS DOUBLE) * {ckf} / CAST(nd AS DOUBLE)) AS BIGINT) AS checkpoint
  FROM (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rk FROM documents)
  CROSS JOIN nd
), per_doc_tokens AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY 1
), new_types AS (
  SELECT d.checkpoint, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM vocab v JOIN doc_ck d ON d.doc_id = v.first_doc GROUP BY 1
), tokens_per_ck AS (
  SELECT d.checkpoint, CAST(SUM(p.n_tok) AS BIGINT) AS ck_tokens
  FROM per_doc_tokens p JOIN doc_ck d ON d.doc_id = p.doc_id GROUP BY 1
), docs_per_ck AS (
  SELECT checkpoint, CAST(COUNT(*) AS BIGINT) AS ck_docs FROM doc_ck GROUP BY 1
)
SELECT dc.checkpoint,
       CAST(SUM(dc.ck_docs) OVER (ORDER BY dc.checkpoint ROWS UNBOUNDED PRECEDING) AS BIGINT) AS docs_through,
       COALESCE(nt.new_types, 0) AS new_types,
       CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY dc.checkpoint ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
       CAST(SUM(COALESCE(tc.ck_tokens, 0)) OVER (ORDER BY dc.checkpoint ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY dc.checkpoint ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / CAST(SUM(COALESCE(tc.ck_tokens, 0)) OVER (ORDER BY dc.checkpoint ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS type_token_ratio
FROM docs_per_ck dc
LEFT JOIN new_types nt ON nt.checkpoint = dc.checkpoint
LEFT JOIN tokens_per_ck tc ON tc.checkpoint = dc.checkpoint
ORDER BY dc.checkpoint
"""


def vocab_growth_oracle_sql(n_checkpoints: int = 20) -> str:
    return VOCAB_GROWTH_ORACLE_SQL.format(ckf=f"{float(n_checkpoints)}")
