"""BPE merge learning (byte-pair encoding vocabulary).

The tokenizer-training half of an LLM data pipeline: learn the first K
BPE merges from corpus word frequencies (Sennrich et al. 2016). The
scale structure is the reference's wordcount followed by a loop over
its reduced output:

- The 100 TB corpus is scanned ONCE, collapsing to the word-frequency
  vocabulary (groupBy word, map-side partial counts — the same shrink
  the reference's wordcount performs). That is the only Spark job of
  training; its |vocab| rows are collected to the driver, as the
  reference's client reads its reduced output.
- The greedy merge loop runs on the driver over that vocabulary: each
  round is a weighted pair count (SUM of word counts per adjacent
  symbol pair), a deterministic argmax (exact integer counts; ties
  break by (lhs, rhs)), then a leftmost-first, non-overlapping merge
  of the chosen pair inside every word — the BPE contract. The driver
  holds |vocab| rows and the loop costs O(K·Σ|word|) over the distinct
  words, independent of corpus bytes; no round plans or runs a job.
- The merge table and the per-word piece counts go back to Spark as
  Arrow-backed local frames (functions/frames.py): built in the JVM,
  so ordering, writing or broadcast-joining them runs no Python
  worker.

The result (the merge table itself) is deterministic, so the DuckDB
oracle reproduces the whole iteration as K chained CTE stages — pair
counts, argmax, and the same fold via list_reduce — with no literals
smuggled from the Spark run.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.functions.text import tokens_expr


def _merge_pair(syms: list[str], lhs: str, rhs: str) -> list[str]:
    """Merge adjacent (lhs, rhs) pairs, leftmost-first, non-overlapping:
    a just-formed merge is never the left half of another merge in the
    same round, so ``aaa`` under (a, a) becomes [aa, a]."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train(
    docs: DataFrame, num_merges: int
) -> tuple[list[tuple[int, str, str, int]], dict[str, list[str]]]:
    """Learn the merges; returns (merge list, word -> fully-merged
    symbols).

    One Spark job aggregates the corpus to (word, n) and collects it;
    the rounds run in plain Python over those |vocab| rows. Tokens are
    ``[a-z0-9]+``, so Python's code-point order on the symbols is
    Spark's and DuckDB's byte order, and ``list(word)`` is the
    oracle's ``string_split(word, '')``."""
    rows = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {r.word: r.n for r in rows}
    vocab = {w: list(w) for w in counts}
    merges: list[tuple[int, str, str, int]] = []
    for i in range(num_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for w, syms in vocab.items():
            for pair in zip(syms, syms[1:]):
                pairs[pair] += counts[w]
        if not pairs:
            break
        (lhs, rhs), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i, lhs, rhs, c))
        vocab = {w: _merge_pair(syms, lhs, rhs) for w, syms in vocab.items()}
    return merges, vocab


def bpe_learn_merges(
    spark: SparkSession, docs: DataFrame, num_merges: int = 8
) -> DataFrame:
    """(merge_idx, lhs, rhs, pair_count): the first ``num_merges``
    learned BPE merges in training order. Stops early if no adjacent
    pair remains."""
    merges, _ = _train(docs, num_merges)
    return local_frame(
        spark, merges, "merge_idx int, lhs string, rhs string, pair_count long"
    ).orderBy("merge_idx")


def bpe_encode_stats(
    spark: SparkSession, docs: DataFrame, num_merges: int = 8
) -> DataFrame:
    """(doc_id, n_words, n_pieces, fertility): tokenize the corpus with
    the merges just learned from it and report per-document subword
    counts — fertility (pieces per word) is the standard tokenizer-fit
    diagnostic a curation pipeline thresholds on.

    Scale shape: training leaves every distinct word's merged symbols
    on the driver; documents then join their exploded words to that
    word -> piece-count table — bounded by |vocab|, so it is broadcast
    — and aggregate per doc. The corpus is touched by exactly two jobs
    (the vocab build and this count join)."""
    _, vocab = _train(docs, num_merges)
    pieces = local_frame(
        spark,
        [(w, len(syms)) for w, syms in vocab.items()],
        "word string, pieces long",
    )
    words = docs.select(
        "doc_id", F.explode(tokens_expr("text")).alias("word")
    )
    return (
        words.join(F.broadcast(pieces), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("pieces").alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            (F.col("n_pieces") * F.lit(1.0) / F.col("n_words")).alias("fertility"),
        )
        .orderBy("doc_id")
    )


def _oracle_ctes(num_merges: int, *, emit_final_vocab: bool) -> tuple[list[str], list[str]]:
    """Shared CTE generator for both oracle shapes: K chained
    (pairs -> argmax -> re-merged vocab) stages reproducing the exact
    iteration — integer counts, lexicographic tie-break, list_reduce
    fold. Returns (ctes, per-merge selects)."""
    from p6__mapreduce_spark.operators.text_analysis import TOKENS_ORACLE

    toks = TOKENS_ORACLE.format(col="text")

    def fold(src: str, t: str) -> str:
        return (
            f"list_reduce([CAST([] AS VARCHAR[])] || [[s] for s in {src}.syms], "
            f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = {t}.lhs "
            f"AND x[1] = {t}.rhs THEN acc[1:len(acc)-1] || [{t}.lhs || {t}.rhs] "
            f"ELSE acc || x END)"
        )

    ctes = [
        "v0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n,"
        " string_split(word, '') AS syms"
        f" FROM (SELECT unnest({toks}) AS word FROM documents) GROUP BY 1)"
    ]
    selects = []
    for i in range(num_merges):
        v, p, t, nv = f"v{i}", f"p{i}", f"t{i}", f"v{i + 1}"
        ctes.append(
            f"{p} AS (SELECT syms[i] AS lhs, syms[i+1] AS rhs,"
            f" CAST(SUM(n) AS BIGINT) AS c"
            f" FROM (SELECT n, syms, unnest(range(1, len(syms))) AS i FROM {v})"
            f" GROUP BY 1, 2)"
        )
        ctes.append(f"{t} AS (SELECT lhs, rhs, c FROM {p} ORDER BY c DESC, lhs, rhs LIMIT 1)")
        if i < num_merges - 1 or emit_final_vocab:
            ctes.append(
                f"{nv} AS (SELECT word, n, {fold(v, t)} AS syms"
                f" FROM {v} CROSS JOIN {t})"
            )
        selects.append(
            f"SELECT CAST({i} AS INTEGER) AS merge_idx, lhs, rhs,"
            f" c AS pair_count FROM {t}"
        )
    return ctes, selects


def bpe_oracle_sql(num_merges: int = 8) -> str:
    """DuckDB replica of :func:`bpe_learn_merges` (the merge table)."""
    ctes, selects = _oracle_ctes(num_merges, emit_final_vocab=False)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_idx"
    )


def bpe_encode_oracle_sql(num_merges: int = 8) -> str:
    """DuckDB replica of :func:`bpe_encode_stats`: re-derives the final
    vocab state v{K} through the same chained iteration, then joins the
    corpus words to per-word piece counts.

    NOTE: a merge round that finds no pair leaves t{i} empty and the
    CROSS JOIN empties v{i+1} — the same corpora where the Spark loop
    breaks early — so this oracle is only valid when all ``num_merges``
    rounds fire (true for the driver corpora; asserted in tests)."""
    from p6__mapreduce_spark.operators.text_analysis import TOKENS_ORACLE

    ctes, _ = _oracle_ctes(num_merges, emit_final_vocab=True)
    toks = TOKENS_ORACLE.format(col="text")
    return (
        "WITH " + ",\n".join(ctes) + f""",
    pieces AS (SELECT word, CAST(len(syms) AS BIGINT) AS pieces FROM v{num_merges}),
    words AS (SELECT doc_id, unnest({toks}) AS word FROM documents)
    SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(pieces) AS BIGINT) * 1.0e0 / COUNT(*) AS fertility
    FROM words JOIN pieces USING (word)
    GROUP BY 1 ORDER BY 1"""
    )
