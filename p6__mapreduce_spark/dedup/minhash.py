"""MinHash + LSH near-duplicate detection.

Pipeline (all DataFrame ops, no Python in the hot path):

  shingle -> 31-bit polynomial hash              (map-side, codegen)
  k permutations h_i(x) = (a_i*x + b_i) mod p    (transform over array)
  signature_i = min over shingles                (array_min, map-side)
  band j = hash(sig[j*r : (j+1)*r])              (banding)
  explode bands -> groupBy (band, band_hash)     (ONE shuffle)
  self-join within buckets -> candidate pairs
  exact-Jaccard verification of candidates only

Scale analysis: the only all-data shuffle is on band hash; bucket
sizes concentrate near-duplicates, so the quadratic step runs on tiny
groups. With b bands of r rows, P(candidate | jaccard=s) =
1-(1-s^r)^b — at the default b=16, r=2 a true 0.8-pair is missed with
probability (1-0.64)^16 ≈ 8e-8, so verified output equals the exact
Jaccard >= 0.8 pair set (the SQL oracle) with overwhelming probability.

Band geometry vs the corpus similarity distribution (measured in
tools/scale_probe.py; numbers in SCALE.md): the r=2 default admits a
pair with probability 1-(1-s²)^16, which is already ~0.87 at s=0.35 —
fine when random pairs sit near s≈0.1 (the usual case), but a corpus
whose typical pairwise similarity approaches the banding knee
s* = (1/b)^(1/r) = 0.25 floods the verify stage with candidates
(measured: 35.8M candidates over 50k docs, 70x slower end-to-end).
For such corpora use steeper bands at the same miss budget:
``num_hashes=64, num_bands=16`` (r=4) drops the s=0.35 admit rate to
~0.21 while a true 0.8-pair is still found with p ≈ 0.9998. The
verified output is identical either way — geometry only moves cost.

Seeds are fixed constants: results are deterministic across runs and
cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p6__mapreduce_spark.dedup.jaccard import ngram_jaccard_pairs, shingle_postings
from p6__mapreduce_spark.functions.pin import pin
from p6__mapreduce_spark.functions.hashing import POLY_MOD, poly_hash_expr

# fixed affine-permutation parameters (deterministic; coprime with POLY_MOD)
_A0, _B0 = 1103515245, 12345


def _perm(i: int, x):
    a = (_A0 + 2 * i + 1) % POLY_MOD
    b = (_B0 + 7919 * i) % POLY_MOD
    return (F.lit(a) * x + F.lit(b)) % F.lit(POLY_MOD)


def minhash_signatures(
    docs: DataFrame, k: int = 3, num_hashes: int = 32, *, postings: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig: array<long>) — one row per doc.

    Plan shape: explode shingles -> polynomial hash once per
    (doc, shingle) -> groupBy(doc_id) with ``num_hashes`` MIN
    aggregates. The per-shingle hash is computed exactly once (a
    nested transform would re-expand the character fold num_hashes
    times and blow up codegen), and the MIN aggregation is partial
    map-side, so the shuffle carries one num_hashes-wide row per
    document per map task.
    """
    postings = postings if postings is not None else shingle_postings(docs, k)
    hashed = postings.select("doc_id", poly_hash_expr("shingle").alias("h"))
    # n_shingles rides the same partial aggregation for free; downstream
    # the exact-Jaccard verify needs |A| and |B|, and carrying them here
    # saves two joins against a separate sizes aggregate.
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(_perm(i, F.col("h"))).alias(f"s{i}") for i in range(num_hashes)],
        F.count(F.lit(1)).alias("n_shingles"),
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig"),
        "n_shingles",
    )


def lsh_candidates(
    signatures: DataFrame, num_bands: int = 16, rows_per_band: int = 2, *, n_match: bool = False
) -> DataFrame:
    """Candidate (id1 < id2) pairs sharing at least one LSH band bucket.

    When the signatures carry ``n_shingles`` (they do by default), each
    pair is emitted with both docs' set sizes (``n1``/``n2``) so the
    exact-Jaccard verify needs no extra size joins. ``n_match=True``
    also emits the number of equal signature positions, computed where
    the band join holds both signatures; the price is that each
    signature rides the band shuffle once per band.
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.hash(F.slice("sig", j * rows_per_band + 1, rows_per_band)).alias("bh"),
            )
            for j in range(num_bands)
        ]
    )
    has_sizes = "n_shingles" in signatures.columns
    carried = (["n_shingles"] if has_sizes else []) + (["sig"] if n_match else [])
    exploded = signatures.select("doc_id", *carried, F.explode(bands).alias("b")).select(
        "doc_id", *carried, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    out_cols = [F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")]
    if has_sizes:
        out_cols += [F.col("a.n_shingles").alias("n1"), F.col("b.n_shingles").alias("n2")]
    if n_match:
        equal = F.zip_with("a.sig", "b.sig", lambda x, y: x == y)
        out_cols.append(F.size(F.filter(equal, lambda e: e)).alias("n_match"))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*out_cols)
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    *,
    n_match: bool = False,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Output = (id1, id2, jaccard >= threshold) over candidates only; with
    the default band geometry this equals the exact pair set (oracle:
    dedup.jaccard.JACCARD_ORACLE_SQL) up to ~1e-7 miss probability.
    ``n_match=True`` adds each pair's count of equal signature positions.
    """
    rows_per_band = num_hashes // num_bands
    # ONE pinned posting list feeds the signature computation, both
    # sides of the exact-Jaccard verification, and the size counts —
    # four branches of a single action.
    postings = pin(shingle_postings(docs, k))
    sigs = minhash_signatures(docs, k, num_hashes, postings=postings)
    cands = lsh_candidates(sigs, num_bands, rows_per_band, n_match=n_match)
    return ngram_jaccard_pairs(docs, threshold, k, candidates=cands, postings=postings)


def incremental_neardup_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN an existing corpus and a
    new batch (id1 from corpus, id2 from batch).

    The production shape for a continuously-ingesting pipeline: corpus
    signatures/bands are computed once (in practice: persisted), each
    new batch is banded and joined against them — candidate work scales
    with the batch, never with corpus x corpus.
    """
    rows_per_band = num_hashes // num_bands

    def banded(df: DataFrame, side: str) -> DataFrame:
        # each side's postings feed its signature build AND the exact-
        # Jaccard verify join; unpinned, the shingle explode re-ran per
        # consumer (plan audit r10: 4 documents scans). One pass per
        # side is the floor — corpus and batch are different inputs.
        postings = pin(shingle_postings(df, k))
        sigs = minhash_signatures(df, k, num_hashes, postings=postings)
        bands = F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    F.hash(F.slice("sig", j * rows_per_band + 1, rows_per_band)).alias("bh"),
                )
                for j in range(num_bands)
            ]
        )
        return (
            sigs.select("doc_id", "n_shingles", F.explode(bands).alias("b"))
            .select(
                F.col("doc_id").alias(side),
                F.col("n_shingles").alias("n1" if side == "id1" else "n2"),
                F.col("b.band").alias("band"),
                F.col("b.bh").alias("bh"),
            )
        ), postings

    cb, corpus_postings = banded(corpus, "id1")
    bb, batch_postings = banded(batch, "id2")
    # set sizes rode each side's signature aggregation — no size joins
    cands = cb.join(bb, ["band", "bh"]).select("id1", "id2", "n1", "n2").distinct()

    # exact-Jaccard verification across the two posting sets.
    # No broadcast hint on the data-dependent candidate set: AQE decides
    # from the runtime size (see dedup/jaccard.py for the rationale)
    pa = corpus_postings.select(F.col("doc_id").alias("id1"), "shingle")
    pb = batch_postings.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        cands
        .join(pa, "id1")
        .join(pb, ["id2", "shingle"])
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("n_inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id1", "id2", "jaccard")
        .orderBy("id1", "id2")
    )


def minhash_estimate_vs_exact(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id1, id2, jaccard, minhash_est, abs_err) over the near-dup pair
    set: the signature-based Jaccard estimate (matching positions /
    num_hashes) next to the exact value — the sketch-accuracy audit a
    pipeline runs before trusting estimate-only thresholds at scale.

    The pairs are ``minhash_lsh_pairs``' verified set (the exact set up
    to its ~1e-7 miss probability), and the matching positions are
    counted in its band join, so one pinned posting list and one
    signature build serve the pairs and the estimates.

    Every arithmetic step is exact-from-integers (two correctly-rounded
    divisions and one subtraction), and the permutations are plan
    constants, so the whole measurement — including the estimates —
    reproduces bit-for-bit in the DuckDB oracle
    (``minhash_estimate_oracle_sql``).
    """
    est = F.col("n_match") * F.lit(1.0) / F.lit(float(num_hashes))
    return (
        minhash_lsh_pairs(docs, threshold, k, num_hashes, n_match=True)
        .withColumn("minhash_est", est)
        .withColumn("abs_err", F.abs(F.col("minhash_est") - F.col("jaccard")))
        .select("id1", "id2", "jaccard", "minhash_est", "abs_err")
        .orderBy("id1", "id2")
    )


def minhash_estimate_oracle_sql(
    threshold: float = 0.8, k: int = 3, num_hashes: int = 32
) -> str:
    """DuckDB mirror: same shingles, same poly-hash, same affine
    permutations (plan constants), same exact pair set."""
    from p6__mapreduce_spark.dedup.jaccard import JACCARD_ORACLE_SQL
    from p6__mapreduce_spark.operators.text_analysis import poly_hash_oracle_sql

    perms = []
    for i in range(num_hashes):
        a = (_A0 + 2 * i + 1) % POLY_MOD
        b = (_B0 + 7919 * i) % POLY_MOD
        perms.append((a, b))
    sig_cols = ", ".join(
        f"MIN(({a} * h + {b}) % {POLY_MOD}) AS s{i}" for i, (a, b) in enumerate(perms)
    )
    matches = " + ".join(
        f"(CASE WHEN g1.s{i} = g2.s{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    exact = JACCARD_ORACLE_SQL.format(k=k, threshold=threshold).replace("ORDER BY 1, 2", "")
    return f"""
    WITH exact_pairs AS ({exact}),
    toks2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), t -> t <> '') AS w
      FROM documents
    ), idx2 AS (
      SELECT doc_id, w, unnest(range(1, len(w) - {k} + 2)) AS i FROM toks2 WHERE len(w) >= {k}
    ), sh2 AS (
      SELECT DISTINCT doc_id, list_aggregate(w[i : i + {k} - 1], 'string_agg', ' ') AS shingle
      FROM idx2
    ), hashes AS (
      SELECT doc_id, {poly_hash_oracle_sql("shingle")} AS h FROM sh2
    ), sig AS (
      SELECT doc_id, {sig_cols} FROM hashes GROUP BY 1
    )
    SELECT p.id1, p.id2, p.jaccard,
           ({matches}) * 1.0e0 / {float(num_hashes)!r} AS minhash_est,
           abs(({matches}) * 1.0e0 / {float(num_hashes)!r} - p.jaccard) AS abs_err
    FROM exact_pairs p
    JOIN sig g1 ON g1.doc_id = p.id1
    JOIN sig g2 ON g2.doc_id = p.id2
    ORDER BY 1, 2
    """
