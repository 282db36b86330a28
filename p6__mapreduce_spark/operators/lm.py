"""Kneser-Ney smoothed bigram language model — the n-gram smoothing
that actually works (Kneser & Ney 1995; Chen & Goodman 1998 showed
absolute discounting with continuation counts beats add-k/Good-Turing
for every corpus size).

The MLE table (`operators/ranking.py:bigram_lm`) assigns zero mass to
unseen successors and over-trusts hapax bigrams; quality filters built
on it mislabel rare-but-normal text. KN fixes both with one discount
and one backoff distribution:

    P_KN(w2|w1) = (c(w1,w2) − d)/c(w1·)  +  λ(w1) · P_cont(w2)
        λ(w1)   = d · N1+(w1,·) / c(w1·)
        P_cont(w2) = N1+(·,w2) / |distinct bigram types|

with discount d = 0.75, the Chen-Goodman default. Everything on the
right is an integer COUNT; with d = 3/4 the whole expression is the
ratio of two exact int64 products:

    P_KN = [ (4c−3)·T + 3·N1(w1)·Nc(w2) ] / [ 4·c(w1·)·T ]

Both engines compute identical int64 numerators/denominators and one
final correctly-rounded IEEE division, so the oracle matches
bit-for-bit — the repo's "exact ints until one division" discipline.

Scale shape: ONE corpus-sized explode produces bigram counts; the
three auxiliary tables (context totals, left-context diversity,
right continuation diversity, type count) are all derived from the
bigram-count aggregate — bounded by |bigram vocab|, never re-touching
the corpus. Hot contexts collapse to single group rows in the partial
aggregation. The joins run on vocab-sized tables; AQE broadcasts them
while small and sort-merges at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.functions.pin import pin


def kneser_ney_bigram(docs: DataFrame, min_pair_count: int = 2) -> DataFrame:
    """(w1, w2, c_pair, c_ctx, n1_w1, ncont_w2, pkn): the KN-smoothed
    probability table over bigrams with ``c_pair >= min_pair_count``
    (counts/diversities are computed BEFORE the cut, so probabilities
    stay normalized against the full corpus)."""
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings

    arr = F.split("shingle", " ")
    # 4 derived tables fan out of this aggregate
    pairs = pin(
        shingle_postings(docs, 2, distinct=False)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .select(arr[0].alias("w1"), arr[1].alias("w2"), "c_pair")
    )
    ctx = pairs.groupBy("w1").agg(
        F.sum("c_pair").alias("c_ctx"),
        F.count(F.lit(1)).cast("long").alias("n1_w1"),  # N1+(w1,·)
    )
    cont = pairs.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("ncont_w2"))  # N1+(·,w2)
    types = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_types"))  # |bigram types| — 1 row
    num = (4 * F.col("c_pair") - 3) * F.col("n_types") + 3 * F.col("n1_w1") * F.col(
        "ncont_w2"
    )
    den = 4 * F.col("c_ctx") * F.col("n_types")
    return (
        pairs.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))  # 1-row scalar broadcast (labeled)
        .filter(F.col("c_pair") >= min_pair_count)
        .select(
            "w1",
            "w2",
            "c_pair",
            "c_ctx",
            "n1_w1",
            "ncont_w2",
            (num * F.lit(1.0) / den).alias("pkn"),
        )
        .orderBy("w1", "w2")
    )


KNESER_NEY_ORACLE_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), bg AS (
  SELECT w[i] AS w1, w[i+1] AS w2
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2)
), pairs AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair FROM bg GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(SUM(c_pair) AS BIGINT) AS c_ctx,
         CAST(COUNT(*) AS BIGINT) AS n1_w1
  FROM pairs GROUP BY 1
), cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont_w2 FROM pairs GROUP BY 1
), types AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM pairs
)
SELECT p.w1, p.w2, p.c_pair, c.c_ctx, c.n1_w1, k.ncont_w2,
       ((4 * p.c_pair - 3) * t.n_types + 3 * c.n1_w1 * k.ncont_w2) * 1.0e0
         / (4 * c.c_ctx * t.n_types) AS pkn
FROM pairs p
JOIN ctx c USING (w1) JOIN cont k USING (w2) CROSS JOIN types t
WHERE p.c_pair >= {min_pair_count}
ORDER BY p.w1, p.w2
"""


def kneser_ney_oracle_sql(min_pair_count: int = 2) -> str:
    return KNESER_NEY_ORACLE_SQL.format(min_pair_count=min_pair_count)


def good_turing_unigrams(docs: DataFrame) -> DataFrame:
    """Turing/Katz adjusted counts from the unigram count-of-counts
    table: for each observed frequency r, the frequency-of-frequency
    N_r and the adjusted count r* = (r+1) * N_{r+1} / N_r (Good 1953;
    the Katz-backoff ingredient — NULL where N_{r+1} = 0, exactly
    where Katz falls back to the raw count). `p_star` divides by the
    corpus token total, and the r = 1 row's raw mass N_1/N is the
    classic Good-Turing estimate of the UNSEEN-type probability — the
    number a vocab-coverage audit wants before shipping a tokenizer.

    Kneser-Ney (`kneser_ney_bigram`) is the production smoother; this
    is the diagnostic it replaced, kept exact: every quantity on the
    right of r* is an int64 COUNT, so both engines agree bit-for-bit
    through the one final division.

    Scale shape: one corpus-sized explode into token counts (vocab-
    bounded aggregate with map-side partials), then count-of-counts —
    a second aggregate over the VOCAB table, bounded by |distinct
    frequency| (~hundreds at any corpus size). The r -> r+1 self-join
    and the token-total scalar both run on that bounded table."""
    from p6__mapreduce_spark.functions.text import tokens_expr

    counts = (
        docs.select(F.explode(tokens_expr("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    foff = counts.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    foff = pin(foff)  # 3 derived relations fan out
    nxt = foff.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    total = foff.agg(F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"))
    r_star = F.when(
        F.col("n_r1") > 0,
        ((F.col("r") + 1) * F.col("n_r1")) * F.lit(1.0) / F.col("n_r"),
    )
    return (
        foff.join(nxt, "r", "left")
        .na.fill({"n_r1": 0})
        .crossJoin(F.broadcast(total))  # 1-row scalar broadcast (labeled)
        .select(
            "r",
            "n_r",
            "n_r1",
            "n_tokens",
            r_star.alias("r_star"),
            F.when(
                F.col("n_r1") > 0,
                ((F.col("r") + 1) * F.col("n_r1"))
                * F.lit(1.0)
                / F.col("n_r")
                / F.col("n_tokens"),
            ).alias("p_star"),
            (F.col("r") * F.col("n_r") * F.lit(1.0) / F.col("n_tokens")).alias(
                "raw_mass"
            ),
        )
        .orderBy("r")
    )


GOOD_TURING_ORACLE_SQL = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS r
  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1
), foff AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM counts GROUP BY 1
), total AS (
  SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens FROM foff
)
SELECT f.r, f.n_r, COALESCE(x.n_r, 0) AS n_r1, t.n_tokens,
       CASE WHEN COALESCE(x.n_r, 0) > 0
            THEN ((f.r + 1) * x.n_r) * 1.0e0 / f.n_r END AS r_star,
       CASE WHEN COALESCE(x.n_r, 0) > 0
            THEN ((f.r + 1) * x.n_r) * 1.0e0 / f.n_r / t.n_tokens END AS p_star,
       f.r * f.n_r * 1.0e0 / t.n_tokens AS raw_mass
FROM foff f
LEFT JOIN foff x ON x.r = f.r + 1
CROSS JOIN total t
ORDER BY f.r
"""


GEN_STEPS = 15


def lm_greedy_generation(docs: DataFrame, steps: int = GEN_STEPS) -> DataFrame:
    """Greedy decoding from the corpus bigram LM: start at the most
    frequent unigram, then repeatedly take the argmax-count successor
    — the deterministic generation loop that turns the count tables
    (`bigram_lm`, `kneser_ney_bigram`) into an actual text rollout,
    and the simplest member of the decode family (greedy = beam
    width 1; ties break lexicographically, so both engines walk the
    identical path, cycles included — greedy LOOPS are the honest
    behavior of argmax decoding and exactly why sampling/beam exist).

    Scale shape (reworked r10, guide §1.2): ONE corpus-sized explode
    builds the bigram counts (localCheckpoint-pinned); ONE window
    shuffle over that vocab²-bounded relation precomputes the argmax
    successor per context — succ(w1) = head by (count DESC, token
    ASC). The per-context head table (one row per context, bounded by
    |vocab|, never by corpus bytes) is collected ONCE and the walk
    runs in pure Python — the pca/markov bounded-state discipline
    taken to its endpoint (r10 ADVICE: the per-step ``take(1)``
    round trips were steps+1 driver jobs; one collect replaces them
    all, and the dict lookup reproduces ``filter(w1 = token).take(1)``
    exactly because w1 is unique in the head table).

    The retired fully-relational chain (each step = join + TakeOrdered
    against ``pairs``, all steps UNIONed) embedded state_{k-1}'s
    subtree in state_k, so the single action re-executed the pairs
    scan O(steps²) times (136 RDD scans, a 942-line physical plan
    re-analyzed + codegen'd per run). The succ table replaces the 15
    TakeOrdereds over pairs with one window over pairs and 15 filters
    over the SMALLER per-context head table; the driver walk caps
    plan size at O(1) per step. Tie-breaks are unchanged — the
    row_number ordering is the exact (c DESC, w2 ASC) the TakeOrdered
    used, and the selected counts are the same exact int64s, so both
    engines still walk the identical path (the chained-CTE oracle
    replays every step unchanged).

    Output: (step, token, in_count) where in_count is the bigram
    count that selected this token (the seed's row reports its
    unigram count); a context with no successor ends the rollout
    early, exactly as the retired empty-join chain did."""
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings

    arr = F.split("shingle", " ")
    # cut: pin measured 0.89 -> 0.99 s at sf0.1 (lm_greedy_generation, 1/5 pin wins)
    pairs = (
        shingle_postings(docs, 2, distinct=False)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(arr[0].alias("w1"), arr[1].alias("w2"), "c")
        .localCheckpoint(eager=True)  # the seed unigram agg + succ build fan out
    )
    succ = (
        pairs.select(
            "w1",
            "w2",
            "c",
            F.row_number()
            .over(Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2")))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # ONE job collects the |vocab|-bounded head table; w1 is unique in
    # it (rn == 1), so the dict walk below is exactly the retired
    # per-step filter(w1 == token).take(1), minus steps driver jobs.
    head = {r["w1"]: (r["w2"], int(r["c"])) for r in succ.collect()}
    seed = (
        pairs.groupBy("w1")
        .agg(F.sum("c").cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("w1"))
        .take(1)
    )
    rows: list[tuple[int, str, int]] = []
    if seed:
        token = seed[0]["w1"]
        rows.append((0, token, int(seed[0]["c"])))
        for k in range(1, int(steps) + 1):
            hit = head.get(token)
            if hit is None:
                break  # dead-end context: rollout ends early
            token = hit[0]
            rows.append((k, token, hit[1]))
    return local_frame(
        docs.sparkSession, rows, "step long, token string, in_count long"
    ).orderBy("step")


def lm_generation_oracle_sql(steps: int = GEN_STEPS) -> str:
    ctes = [
        """toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
  FROM documents
), bg AS (
  SELECT w[i] AS w1, w[i+1] AS w2
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2)
), pairs AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
), s_0 AS (
  SELECT CAST(0 AS BIGINT) AS step, w1 AS token, CAST(SUM(c) AS BIGINT) AS in_count
  FROM pairs GROUP BY w1
  ORDER BY in_count DESC, token ASC LIMIT 1
)"""
    ]
    for k in range(1, int(steps) + 1):
        ctes.append(
            f"""s_{k} AS (
  SELECT CAST({k} AS BIGINT) AS step, p.w2 AS token, CAST(p.c AS BIGINT) AS in_count
  FROM pairs p JOIN s_{k - 1} s ON p.w1 = s.token
  ORDER BY p.c DESC, p.w2 ASC LIMIT 1
)"""
        )
    chain = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(
        f"SELECT step, token, in_count FROM s_{k}" for k in range(int(steps) + 1)
    )
    return f"WITH {chain}\n{union}\nORDER BY step"
