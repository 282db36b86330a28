"""Training-data pipeline operators: repetition analysis, benchmark
decontamination, deterministic splits, weighted corpus mixing.

These are the corpus-curation passes an LLM data pipeline runs between
raw ingestion and training: flag pathologically repetitive documents,
find train-set documents that leak n-grams into a held-out set, assign
reproducible train/val/test splits, and sample sources at configured
weights. Everything is expressed with built-in column functions (pure
whole-stage codegen, no Python in any plan) and every decision is a
deterministic content/key hash — re-running on a different cluster,
partition layout, or engine yields byte-identical output.

Scale notes per operator:
- repetition_stats: explode + two hash aggregations keyed by doc_id
  and (doc_id, shingle); both partial-aggregate map-side, no joins.
- contamination_pairs: inverted-index join (eval postings x train
  postings on shingle) — cost bounded by postings co-occurrence, never
  |eval| x |train|; hot-shingle pruning via ``max_doc_freq`` caps the
  worst posting list like IDF pruning does.
- split_assign / mixture_sample: stateless map-side filters on a
  sha256 of the key/content — free at any scale, and immune to the
  rand()-reshuffle trap (a rerun or a straggler retry cannot change
  the sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.dedup.jaccard import shingle_postings
from p6__mapreduce_spark.functions.text import tokens_expr

# first hex nibble of sha256(doc_id): '0'/'1' -> held-out eval (1/8)
_EVAL_NIBBLES = ("0", "1")


def _key_hash_bucket(col, buckets: int):
    """Deterministic uniform bucket in [0, buckets) from sha256 of a
    column, portable bit-for-bit to the DuckDB oracle
    (CAST('0x' || substr(sha256(x), 1, 8) AS BIGINT) % buckets).

    Eight hex nibbles give a 2**32 hash space, so the modulo bias for
    any buckets <= 10**5 is < 3e-5 relative (four nibbles' 65536-space
    skewed keep rates by up to ~9% relative at 10000 buckets)."""
    nib8 = F.substring(F.sha2(col.cast("string"), 256), 1, 8)
    return (F.conv(nib8, 16, 10).cast("long") % F.lit(buckets)).alias("bucket")


def repetition_stats(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document k-gram repetition profile.

    Columns: n_total (k-gram occurrences), n_distinct, max_repeat (the
    most-repeated single k-gram), rep_ratio = 1 - n_distinct/n_total.
    High rep_ratio / max_repeat flags boilerplate and degenerate
    low-entropy text — a standard pre-training quality gate. Documents
    shorter than k tokens have no k-grams and are omitted.
    """
    occurrences = shingle_postings(docs, k, distinct=False)
    per_shingle = occurrences.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_shingle.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_total"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_repeat"),
        )
        .select(
            "doc_id",
            "n_total",
            "n_distinct",
            "max_repeat",
            # exact-integer division: bit-reproducible across engines
            (F.lit(1.0) - F.col("n_distinct") / F.col("n_total")).alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


def eval_split_filter(col):
    """True for rows in the held-out eval split (~1/8 by key hash)."""
    return F.substring(F.sha2(col.cast("string"), 256), 1, 1).isin(*_EVAL_NIBBLES)


def contamination_pairs(
    docs: DataFrame,
    k: int = 5,
    min_overlap: int = 8,
    *,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Benchmark-decontamination pass: (eval_id, train_id, n_overlap)
    for every train document sharing >= min_overlap distinct k-grams
    with a held-out document.

    The held-out set is the deterministic sha256(doc_id) split, so the
    check is reproducible; matches are exactly the documents a curator
    must drop from the training corpus before reporting eval numbers.
    """
    postings = shingle_postings(docs, k, max_doc_freq=max_doc_freq)
    is_eval = eval_split_filter(F.col("doc_id"))
    ev = postings.filter(is_eval).select(F.col("doc_id").alias("eval_id"), "shingle")
    tr = postings.filter(~is_eval).select(F.col("doc_id").alias("train_id"), "shingle")
    return (
        ev.join(tr, "shingle")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= F.lit(min_overlap))
        .orderBy("eval_id", "train_id")
    )


def split_assign(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Attach a deterministic train/val/test split label (80/10/10).

    The label is a pure function of the key — stable under reruns,
    repartitions, corpus growth (existing docs never switch splits) and
    engines. This is the property rand()-based splitting lacks.
    """
    bucket = _key_hash_bucket(F.col(key), 100)
    return docs.withColumn(
        "split",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def mixture_sample(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Weighted corpus mixing: keep each document with its source's
    configured probability, decided by a content hash.

    ``weights`` maps source -> keep fraction (e.g. up-weight curated
    sources, down-weight crawl). The keep decision is per-document
    deterministic, so the mixture is reproducible and composable with
    later pipeline stages. Sources absent from ``weights`` are dropped.
    """
    # thresholds become exact integer literals at plan-build time; doing
    # the rounding in the plan (weight * 10000, cast) is a portability
    # trap — Spark's cast truncates while other engines round
    bp = {s: int(round(w * 10_000)) for s, w in weights.items()}
    weight_map = F.create_map(*[F.lit(x) for kv in bp.items() for x in kv])
    bucket = _key_hash_bucket(F.col("text"), 10_000)
    return docs.filter(bucket < weight_map[F.col("source")])


def temperature_mixture(docs: DataFrame, *, source_col: str = "source") -> DataFrame:
    """Temperature-scaled source rebalancing (the n^alpha mixing rule
    of multilingual/multi-source LLM corpora, alpha = 0.5): keep each
    source at rate (n_min / n_source)^(1/2), so kept counts are
    proportional to sqrt(n_source) — large crawl sources flattened
    toward the small curated ones without zeroing either.

    Unlike ``mixture_sample`` (hand-configured per-source fractions),
    the rates here are DERIVED FROM THE DATA in a first aggregation
    pass, then applied as a map-side content-hash filter — the
    standard two-pass shape at 100 TB (the per-source count table is
    tiny and broadcast). alpha is fixed at 1/2 because sqrt is
    correctly rounded in IEEE 754 — both engines compute the identical
    rate where a general pow() could differ in the last ulp.
    """
    counts = docs.groupBy(F.col(source_col).alias("s")).agg(F.count(F.lit(1)).alias("n"))
    rates = counts.withColumn("n_min", F.min("n").over(Window.partitionBy())).select(
        "s",
        F.floor(F.sqrt(F.col("n_min").cast("double") / F.col("n")) * 10_000)
        .cast("long")
        .alias("keep_bp"),
    )
    bucket = _key_hash_bucket(F.col("text"), 10_000)
    return (
        docs.join(F.broadcast(rates), F.col(source_col) == F.col("s"))
        .filter(bucket < F.col("keep_bp"))
        .select("doc_id", source_col)
        .orderBy("doc_id")
    )


TEMPERATURE_MIXTURE_ORACLE_SQL = """
WITH counts AS (
  SELECT source AS s, COUNT(*) AS n FROM documents GROUP BY 1
), rates AS (
  SELECT s, CAST(floor(sqrt(CAST(MIN(n) OVER () AS DOUBLE) / n) * 10000) AS BIGINT) AS keep_bp
  FROM counts
)
SELECT doc_id, source
FROM documents JOIN rates ON source = s
WHERE CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) % 10000 < keep_bp
ORDER BY doc_id
"""


def source_cap(
    docs: DataFrame,
    k: int = 3,
    *,
    source_col: str = "source",
    salts: int = 64,
) -> DataFrame:
    """Per-source frequency cap: keep the K docs per source/domain with
    the smallest (sha256(text), doc_id) rank — the anti-boilerplate
    step of corpus curation, content-hash-ranked so the kept set is
    layout- and engine-independent.

    Scale shape (the distributed TakeOrdered): a single rank window
    partitioned by source serializes a hot source — and at 100 TB a
    dominant crawl domain is the COMMON case, not the pathological one
    — through ONE task. So the cap runs in two stages:

      1. pre-filter: rank within (salt, source) where
         salt = xxhash64(doc_id) % salts, keep rank <= K. The hot
         source's rows spread over ``salts`` tasks; no task ever sorts
         more than ~1/salts of any source.
      2. final: rank within source over the survivors — at most
         salts * K rows per source regardless of corpus size, so the
         per-source partitions of the second window are tiny and
         bounded by configuration, not by data.

    Result-identity with the naive single window: every row in the
    global per-source top-K is also top-K within its own salt group
    (removing other rows can only lower a row's rank), so stage 1
    keeps a superset of the answer and stage 2 computes exactly it.
    Asserted on data in ``tests/test_pipeline.py`` and as a plan shape
    (two Window nodes, first exchange keyed by (salt, source)) in
    ``tests/test_plans.py``.

    Cost: on Spark 3.5+ the rank-limit pushdown (WindowGroupLimit,
    SPARK-37099) inserts a Partial per-partition top-K below EACH
    exchange, so neither stage shuffles full data — stage 1 moves
    <= K rows per (map partition, salt, source) and stage 2 is
    <= salts * K rows per source. The naive single window gets the same
    partial pushdown but still funnels K * num_map_partitions rows per
    source through ONE task (~2.4M rows/source at 100 TB with 128 MB
    splits, on as many tasks as there are distinct sources); the salted
    shape divides that by ``salts`` and keeps reduce-side parallelism
    at salts * sources. Both properties are pinned in
    ``tests/test_plans.py``.
    """
    order = (F.sha2(F.col("text"), 256), F.col("doc_id"))
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salts))
    w_pre = Window.partitionBy(salt, F.col(source_col)).orderBy(*order)
    w_final = Window.partitionBy(source_col).orderBy(*order)
    return (
        docs.withColumn("_rk_pre", F.row_number().over(w_pre))
        .filter(F.col("_rk_pre") <= k)
        .drop("_rk_pre")
        .withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def token_budget_pack(
    docs: DataFrame, *, budget: int = 5000, salts: int = 64
) -> DataFrame:
    """Per-source token-budget packing: greedy longest-first document
    selection until each source's token ``budget`` is hit — the
    corpus-assembly pass that turns mixture WEIGHTS into an actual
    bounded training set. Returns one row per source:
    (source, docs_total, docs_kept, tokens_kept).

    Two-stage salted shape (the ``source_cap`` pattern above): the
    naive single window per source sorts ~|corpus|/|sources| rows
    through ONE task, then discards almost all of them against the
    budget. Instead:

      1. pre-filter within ``(salt, source)`` where salt =
         xxhash64(doc_id) % salts: keep rows with local
         ``row_number ≤ budget`` AND local preceding-sum < budget.
         Superset proof: a globally-kept row has global cum ≤ budget,
         so (tokens ≥ 1 each) global rank ≤ budget and global
         preceding-sum < budget; both local statistics only shrink
         when other salt groups' rows are removed.
      2. the exact per-source window runs over the survivors — at most
         ``salts · budget`` rows per source by construction, bounded
         by configuration, not corpus size.

    Decision identity: every row ahead (in the global longest-first
    order) of any row the budget keeps survives stage 1 — rows with
    global rank ≤ budget all survive — so stage-2 cumulative sums are
    EXACT for every kept row; and a cut row's stage-2 sum still
    exceeds the budget because its surviving predecessors alone carry
    ≥ budget tokens (rank-path) or its dominating prefix survives
    (sum-path). ``docs_total`` rides along as the per-(salt, source)
    group count carried on each group's rank-1 survivor, so the whole
    query stays one scan. Verified against the unchanged single-window
    oracle at three SFs; plan shape pinned in ``tests/test_plans.py``.
    """
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    salted = toks.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salts)))
    w_pre = Window.partitionBy("_salt", "source").orderBy(
        F.col("n_tokens").desc(), "doc_id"
    )
    w_cnt = Window.partitionBy("_salt", "source")
    pre = (
        salted.withColumn("_rk", F.row_number().over(w_pre))
        .withColumn(
            "_cum_pre",
            F.sum("n_tokens").over(w_pre.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("_cnt_g", F.count(F.lit(1)).over(w_cnt).cast("long"))
        .filter(
            (F.col("_rk") <= budget)
            & (F.col("_cum_pre") - F.col("n_tokens") < budget)
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = pre.withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
    kept = F.when(F.col("cum") <= budget, F.lit(1)).otherwise(F.lit(0))
    kept_toks = F.when(F.col("cum") <= budget, F.col("n_tokens")).otherwise(F.lit(0))
    return (
        ranked.groupBy("source")
        .agg(
            F.sum(F.when(F.col("_rk") == 1, F.col("_cnt_g")).otherwise(F.lit(0)))
            .cast("long")
            .alias("docs_total"),
            F.sum(kept).cast("long").alias("docs_kept"),
            F.sum(kept_toks).cast("long").alias("tokens_kept"),
        )
        .orderBy("source")
    )


def stratified_sample(
    rows: DataFrame,
    rates: dict[str, float],
    *,
    key_col: str = "event_id",
    stratum_col: str = "event_type",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep each row with its
    stratum's configured rate (e.g. keep every purchase, 5% of error
    noise), decided by a key hash — map-side, reproducible across runs
    and engines, composable with later stages (unlike rand(), which
    resamples on every retry/recompute). Strata absent from ``rates``
    are dropped, mirroring ``mixture_sample``.
    """
    bp = {s: int(round(r * 10_000)) for s, r in rates.items()}
    rate_map = F.create_map(*[F.lit(x) for kv in bp.items() for x in kv])
    bucket = _key_hash_bucket(F.col(key_col), 10_000)
    return rows.filter(bucket < rate_map[F.col(stratum_col)])


def doc_chunks(docs: DataFrame, chunk_size: int = 64, overlap: int = 16) -> DataFrame:
    """Split each document's token stream into fixed-size overlapping
    chunks (stride = chunk_size - overlap) — the context-window prep
    step before embedding or sequence packing.

    One row per (doc_id, chunk_idx) with the chunk's token count and
    re-joined text; the final chunk keeps the tail even when shorter.
    Tokenize ONCE into a bound column, explode the chunk indexes into
    rows, then slice per row — slicing inside an array-of-arrays
    ``transform`` would re-expand the tokenizer per element. Pure
    map-side (project + generate), no shuffle, no Python.
    """
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_size")
    base = (
        docs.select("doc_id", tokens_expr("text").alias("toks"))
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") > 0)
    )
    n_chunks = F.when(F.col("n_toks") <= chunk_size, F.lit(1)).otherwise(
        F.expr(f"((n_toks - {chunk_size} + {stride - 1}) div {stride}) + 1").cast("int")
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * stride + 1, chunk_size)
    return (
        base.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def sequence_packing(
    docs: DataFrame, seq_len: int = 256, n_shards: int | None = None
) -> DataFrame:
    """Assign each document a position in a fixed-token-budget training
    sequence: shard by key, then within each shard lay documents
    head-to-tail and bin by cumulative token offset.

    Output per doc: shard, n_tokens, seq_id (which sequence in the
    shard its FIRST token lands in) and offset_in_seq. Sharding is the
    scale move — sequences never cross shards, so each shard packs
    independently from its own running sum (window partitioned by
    shard) and no global sort or single-partition window exists in the
    plan; the waste is at most one partial sequence per shard. Long
    documents that straddle a boundary are the caller's concern —
    compose with :func:`doc_chunks` first to bound document length.
    Deterministic: shard and order derive from doc_id, not layout.

    ``n_shards`` defaults to the cluster's ``defaultParallelism``
    (floored at 8) so the per-shard windows saturate whatever cluster
    runs the job — a fixed shard count would cap parallelism at any
    data size. Pin it explicitly when the OUTPUT must be reproducible
    across differently-sized clusters (shard assignment, and hence
    seq_id/offset, depends on it).
    """
    if n_shards is None:
        n_shards = max(8, docs.sparkSession.sparkContext.defaultParallelism)
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    return (
        t.select("doc_id", "shard", "n_tokens", start)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.expr(f"start div {seq_len}").alias("seq_id"),
            (F.col("start") % seq_len).alias("offset_in_seq"),
        )
        .orderBy("doc_id")
    )


def stable_dense_ids(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-defined dense ids 1..N: position in the global
    (sha256(text), id) order. Because the order is content-derived, the
    ids are stable across runs, partition layouts, engines, and
    appends-then-reshuffles — the id assignment a corpus snapshot needs
    before building aligned side-tables (embeddings, labels).

    Scale shape — the distributed zipWithIndex, NOT a single-partition
    global window: range-repartition by the sort key, sort within
    partitions, then id = per-partition row_number + the exclusive
    prefix sum of partition counts (numPartitions integers collected to
    the driver — bounded). The localCheckpoint pins the range
    boundaries so the count pass and the id pass see the same
    partitioning (repartitionByRange samples; two separate jobs could
    otherwise draw different boundaries).
    """
    spark = docs.sparkSession
    n = spark.sparkContext.defaultParallelism
    d = (
        docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("_sha"))
        .repartitionByRange(n, "_sha", id_col)
        .sortWithinPartitions("_sha", id_col)
        .select(F.col(id_col), "_sha", F.spark_partition_id().alias("_pid"))
        .localCheckpoint(eager=True)  # cut: freezes _pid for both jobs
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # empty input: create_map() with no entries is map<void,void> and
    # map()[_pid] fails ANALYSIS — a typed zero maps the zero rows the
    # same way the DuckDB oracle's empty result does (r9 audit)
    off_expr = (
        F.create_map(*[F.lit(x) for pid_off in offsets.items() for x in pid_off])[
            F.col("_pid")
        ]
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("_pid").orderBy("_sha", id_col)
    return (
        d.withColumn(
            "stable_id",
            (off_expr + F.row_number().over(w)).cast("long"),
        )
        .select(id_col, "stable_id")
        .orderBy(id_col)
    )


STABLE_IDS_ORACLE_SQL = """
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY sha256(text), doc_id) AS stable_id
FROM documents ORDER BY doc_id
"""


def weighted_sample(
    docs: DataFrame,
    k: int = 100,
    *,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k weighted sample without replacement (Efraimidis &
    Spirakis 2006), derandomized: each row draws u in (0, 1] from a
    content hash of its id and keeps key = ln(u) / weight; the top-k
    keys ARE a weighted sample without replacement. This is the
    principled "sample 1M documents proportional to quality weight"
    primitive — `mixture_sample`/`stratified_sample` apply *rates*
    (output size varies); this yields an exact count with inclusion
    probability proportional to weight.

    Scale shape: the key is one map-side expression; the top-k is
    orderBy+limit = TakeOrderedAndProject (per-partition k-row heaps,
    driver merges heaps, no global sort). Deterministic: u comes from
    the portable polynomial hash, ties cannot occur (keys are distinct
    reals except for hash collisions, broken by id). The REPORTED key
    is quantized to 1e-9 fixed point because ln() may differ by 1 ulp
    between libms (measured: 2/100 rows at sf0.01) — the quantum is ~7
    orders of magnitude above the ulp noise and far below real key
    gaps, so cross-engine hashes match without masking order bugs."""
    from p6__mapreduce_spark.functions.hashing import POLY_MOD, poly_hash_expr

    u = (poly_hash_expr(F.col(id_col).cast("string")) + 1) * F.lit(1.0) / F.lit(
        POLY_MOD + 1
    )
    key = F.log(u) / F.col(weight_col)
    return (
        docs.filter(F.col(weight_col) > 0)
        .select(
            id_col,
            weight_col,
            F.floor(key * F.lit(1e9) + F.lit(0.5)).cast("long").alias("key_q9"),
            key.alias("_key"),
        )
        .orderBy(F.desc("_key"), id_col)
        .limit(k)
        .drop("_key")
    )


WEIGHTED_SAMPLE_ORACLE_SQL = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln((list_reduce([CAST(0 AS BIGINT)] ||
              [CAST(ascii(c) AS BIGINT) for c in string_split(CAST(doc_id AS VARCHAR), '')],
              (acc, x) -> (acc * 31 + x) % 2147483647) + 1) * 1.0e0 / 2147483648)
           / n_chars AS k
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars,
       CAST(floor(k * 1000000000 + 5.0e-1) AS BIGINT) AS key_q9
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 100
"""
