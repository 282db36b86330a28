"""Dedup suite tests: planted duplicates must be found; non-dups must not."""

from __future__ import annotations

import pytest

from p6__mapreduce_spark.dedup.exact import exact_dedup
from p6__mapreduce_spark.dedup.jaccard import ngram_jaccard_pairs
from p6__mapreduce_spark.dedup.minhash import minhash_lsh_pairs, minhash_signatures
from p6__mapreduce_spark.dedup.simhash import simhash

BASE = (
    "spark shuffles data between stages using hash partitioning and "
    "adaptive query execution coalesces small partitions at runtime "
    "while broadcast joins avoid the shuffle entirely for small tables"
)
NEAR_DUP = BASE.replace("small partitions", "tiny partitions")  # 1-word edit
UNRELATED = (
    "completely different text about cooking pasta with tomato sauce "
    "basil garlic and olive oil simmered slowly on the stove top pan"
)


def docs_df(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR_DUP), (2, UNRELATED), (3, BASE)],
        "doc_id long, text string",
    )


def py_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup_groups_identical_content(spark):
    rows = exact_dedup(docs_df(spark)).collect()
    by_copies = {r.n_copies: r for r in rows}
    assert by_copies[2].keep_id == 0  # docs 0 and 3 identical, min id kept
    assert sum(r.n_copies for r in rows) == 4


def test_ngram_jaccard_finds_planted_pair(spark):
    pairs = {(r.id1, r.id2): r.jaccard for r in ngram_jaccard_pairs(docs_df(spark), 0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and abs(pairs[(0, 1)] - py_jaccard(BASE, NEAR_DUP)) < 1e-12
    assert not any(2 in p for p in pairs)  # unrelated doc in no pair


def test_minhash_lsh_matches_exact_jaccard(spark):
    df = docs_df(spark)
    lsh = {(r.id1, r.id2) for r in minhash_lsh_pairs(df, 0.5).collect()}
    exact = {(r.id1, r.id2) for r in ngram_jaccard_pairs(df, 0.5).collect()}
    assert lsh == exact


def test_minhash_signature_shape_and_determinism(spark):
    df = docs_df(spark)
    s1 = {r.doc_id: r.sig for r in minhash_signatures(df).collect()}
    s2 = {r.doc_id: r.sig for r in minhash_signatures(df).collect()}
    assert s1 == s2                       # deterministic (fixed seeds)
    assert all(len(sig) == 32 for sig in s1.values())
    assert s1[0] == s1[3]                 # identical docs -> identical sigs


def test_simhash_near_dups_have_small_hamming_distance(spark):
    h = {r.doc_id: r.simhash for r in simhash(docs_df(spark)).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert h[0] == h[3]
    assert hamming(h[0], h[1]) <= 6       # near-dup: few bits differ
    assert hamming(h[0], h[2]) >= 8       # unrelated: many bits differ


def test_minhash_band_geometry_same_output(spark):
    # r=4 (steeper bands, for high-similarity corpora) must find the
    # same verified pair set as the r=2 default — geometry moves
    # candidate cost, never the output
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    r2 = {(r.id1, r.id2) for r in minhash_lsh_pairs(docs).collect()}
    r4 = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(docs, num_hashes=64, num_bands=16).collect()
    }
    assert r2 == r4 and len(r2) > 20


def test_simhash_pairs_banding_is_complete(spark):
    # pigeonhole exactness: banded join must find EXACTLY the pairs a
    # brute-force hamming filter finds (for max_hamming < n_bands)
    from pyspark.sql import functions as F

    from p6__mapreduce_spark.dedup.simhash import simhash, simhash_pairs
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    got = {(r.id1, r.id2, r.hamming) for r in simhash_pairs(docs, max_hamming=3).collect()}
    sh = simhash(docs)
    a = sh.select(F.col("doc_id").alias("id1"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("simhash").alias("sb"))
    brute = {
        (r.id1, r.id2, r.hamming)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute and len(got) > 0


@pytest.mark.parametrize("max_hamming", [3, 5, 7])
def test_simhash64_pairs_banding_is_complete(spark, max_hamming):
    # 8-band/64-bit pigeonhole exactness at depths the 32-bit geometry
    # cannot reach (max_hamming up to 7): banded join == brute force
    from pyspark.sql import functions as F

    from p6__mapreduce_spark.dedup.simhash import simhash64, simhash64_pairs
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    got = {
        (r.id1, r.id2, r.hamming)
        for r in simhash64_pairs(docs, max_hamming=max_hamming).collect()
    }
    sh = simhash64(docs)
    a = sh.select(F.col("doc_id").alias("id1"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("simhash").alias("sb"))
    brute = {
        (r.id1, r.id2, r.hamming)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .collect()
    }
    assert got == brute


def test_simhash64_width_and_determinism(spark):
    from p6__mapreduce_spark.dedup.simhash import simhash64, simhash64_pairs

    df = docs_df(spark)
    h1 = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    h2 = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    assert h1 == h2                       # deterministic
    assert h1[0] == h1[3]                 # identical docs -> identical prints
    # 64 real bits: on any non-trivial corpus some fingerprint must use
    # the high 32 bits (a 32-bit-wide accident would mask them all to 0)
    assert any((v >> 32) & 0xFFFFFFFF for v in h1.values())
    with pytest.raises(ValueError):
        simhash64_pairs(df, max_hamming=8)


def test_geometry_probe_recommends_default_on_low_sim_corpus(spark):
    from p6__mapreduce_spark.dedup.geometry import recommend_minhash_geometry
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = {(r.num_hashes, r.num_bands): r for r in recommend_minhash_geometry(docs).collect()}
    assert sum(r.recommended for r in rows.values()) == 1
    assert rows[(32, 16)].recommended  # typical corpus: cheapest geometry wins
    assert rows[(96, 16)].qualifies is False  # r=6 recall 0.9923 < 0.999 budget


def test_geometry_probe_escalates_to_r4_on_adversarial_corpus(spark):
    # every pair has shingle-Jaccard exactly 28/80 = 0.35 (30 shared
    # core tokens -> 28 shared 3-shingles; 26 unique tail tokens ->
    # 26 unique shingles each; J = 28 / (2*54 - 28)). At s=0.35 the
    # closed-form admit rates are r2=0.875, r3=0.497, r4=0.211 - only
    # r4 clears the 0.3 candidate-rate cap, so the probe must escalate
    # to (64, 16) exactly as SCALE.md's banding-knee analysis says.
    from p6__mapreduce_spark.dedup.geometry import recommend_minhash_geometry

    core = " ".join(f"core{j}" for j in range(30))
    rows_in = [
        (i, core + " " + " ".join(f"u{i}x{j}" for j in range(26)), "s")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows_in, "doc_id long, text string, source string")
    out = {
        (r.num_hashes, r.num_bands): r
        for r in recommend_minhash_geometry(docs, sample_mod=1).collect()
    }
    assert out[(64, 16)].recommended and out[(64, 16)].r == 4
    assert out[(32, 16)].qualifies is False  # r=2 floods verify (~87% admit)
    assert out[(48, 16)].qualifies is False  # r=3 still over the cap (~50%)
    # sanity: 40 docs all-pairs = 780, every pair overlaps via the core
    assert out[(64, 16)].n_pairs == 780


# --- cross-doc duplicated-substring coverage (dedup/substring.py) ----------


def test_dup_ngram_coverage_planted_duplicate_run(spark):
    from p6__mapreduce_spark.dedup.substring import dup_ngram_coverage

    rows = {r.doc_id: r for r in dup_ngram_coverage(docs_df(spark), k=8).collect()}
    # docs 0 and 3 are byte-identical -> every position duplicated
    assert rows[0].dup_fraction == 1.0 and rows[3].dup_fraction == 1.0
    # doc 1 differs by one word mid-text: shares long runs with 0/3 but
    # the edit breaks coverage around the changed token
    assert 0.0 < rows[1].dup_fraction < 1.0
    # unrelated doc shares no 8-token run
    assert rows[2].dup_tokens == 0 and rows[2].dup_fraction == 0.0
    for r in rows.values():
        assert 0 <= r.dup_tokens <= r.n_tokens


def test_dup_ngram_coverage_short_doc_is_zero_not_garbage(spark):
    from p6__mapreduce_spark.dedup.substring import dup_ngram_coverage

    df = spark.createDataFrame(
        [(0, "only three tokens"), (1, "only three tokens")], "doc_id long, text string"
    )
    rows = dup_ngram_coverage(df, k=8).collect()
    # shorter than k: no shingles even though the docs are identical
    assert all(r.dup_tokens == 0 and r.dup_fraction == 0.0 for r in rows)
    assert all(r.n_tokens == 3 for r in rows)


def test_drop_high_dup_docs_keeps_low_coverage(spark):
    from p6__mapreduce_spark.dedup.substring import drop_high_dup_docs

    kept = [r.doc_id for r in drop_high_dup_docs(docs_df(spark), k=8, max_fraction=0.5).collect()]
    assert 2 in kept  # unrelated doc survives
    assert 0 not in kept and 3 not in kept  # exact duplicates dropped


# --- SemDeDup (dedup/semantic.py) ------------------------------------------


def _emb_df(spark):
    # two tight clusters on orthogonal axes + one exact duplicate pair
    a = [1.0, 0.0, 0.0, 0.0]
    a2 = [0.999, 0.01, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    b_far = [0.1, 0.9, 0.3, 0.1]
    return spark.createDataFrame(
        [(0, a), (1, a), (2, a2), (3, b), (4, b_far)],
        "vec_id long, embedding array<float>",
    )


def test_semantic_dedup_drops_higher_id_within_cluster(spark):
    from p6__mapreduce_spark.dedup.semantic import semantic_dedup

    rows = {r.vec_id: r for r in semantic_dedup(
        _emb_df(spark), n_centroids=2, threshold=0.95
    ).collect()}
    assert len(rows) == 5
    assert rows[0].keep  # lowest id of the a-cluster survives
    assert not rows[1].keep and not rows[2].keep  # cosine ~1 with vec 0
    # b and b_far: cosine ~0.93 < 0.95 -> both kept
    assert rows[3].keep and rows[4].keep
    # cluster assignment separates the two axes
    assert rows[0].list_id != rows[3].list_id


def test_minhash_estimate_vs_exact(spark):
    from p6__mapreduce_spark.dedup.minhash import minhash_estimate_vs_exact

    rows = {
        (r.id1, r.id2): r
        for r in minhash_estimate_vs_exact(docs_df(spark), threshold=0.7).collect()
    }
    # identical docs: every signature position matches -> estimate 1.0, err 0
    assert rows[(0, 3)].minhash_est == 1.0 and rows[(0, 3)].abs_err == 0.0
    # the 1-word near-dup pair (jaccard ~0.79) carries a sane estimate
    for pair in ((0, 1), (1, 3)):
        r = rows[pair]
        assert 0.7 <= r.jaccard < 1.0
        assert 0.0 <= r.minhash_est <= 1.0
        assert r.abs_err <= 0.35  # 32 perms: std err ~ sqrt(j(1-j)/32) ~ 0.07
        assert r.abs_err == abs(r.minhash_est - r.jaccard)


def test_edit_distance_pairs_refines_candidates(spark):
    from p6__mapreduce_spark.dedup.editdist import edit_distance_pairs
    from p6__mapreduce_spark.dedup.minhash import minhash_lsh_pairs

    df = docs_df(spark)
    out = {
        (r.id1, r.id2): r
        for r in edit_distance_pairs(df, minhash_lsh_pairs(df, threshold=0.7)).collect()
    }
    # identical docs: distance 0, similarity exactly 1.0
    assert out[(0, 3)].edit_dist == 0 and out[(0, 3)].edit_sim == 1.0
    # the 1-word edit (small->tiny): exactly the character edits between
    # 'small' and 'tiny' — no shared characters, so max(5,4) = 5
    for pair in ((0, 1), (1, 3)):
        r = out[pair]
        assert r.edit_dist == 5
        assert 0.9 < r.edit_sim < 1.0
    # jaccard column passes through from the candidate edges
    assert abs(out[(0, 1)].jaccard - py_jaccard(BASE, NEAR_DUP)) < 1e-9


def test_prefix_filter_pairs_identical_to_full_join(spark):
    # the prefix lemma's recall guarantee, asserted end-to-end: the
    # prefix-filtered pair set must EQUAL the full inverted-index join's
    from p6__mapreduce_spark.dedup.jaccard import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )
    from p6__mapreduce_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {(r.id1, r.id2) for r in ngram_jaccard_pairs(docs, 0.8).collect()}
    pref = {(r.id1, r.id2) for r in prefix_filter_pairs(docs, 0.8).collect()}
    assert pref == full and len(full) > 0


def test_prefix_filter_candidate_space_shrinks(spark):
    # the point of the method: prefix postings are a strict subset —
    # at t=0.8 roughly the rarest ~20% + 1 per doc
    from p6__mapreduce_spark.dedup.jaccard import shingle_postings
    from p6__mapreduce_spark.sources.readers import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    postings = shingle_postings(docs, 3)
    df = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = postings.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = postings.join(df, "shingle").join(sizes, "doc_id").select(
        "doc_id", F.row_number().over(w).alias("rk"),
        (F.col("n") - F.ceil(F.col("n") * F.lit(0.8)) + 1).alias("plen"),
    )
    n_all = postings.count()
    n_prefix = ranked.filter(F.col("rk") <= F.col("plen")).count()
    assert n_prefix < 0.35 * n_all  # ~20% + 1-per-doc slack


def test_cross_source_dup_matrix_planted(spark):
    from p6__mapreduce_spark.queries import QUERIES
    import tempfile, os, shutil

    # planted: doc0/doc1 near-identical across srcA/srcB; doc2/doc3
    # identical within srcA; doc4 unique in srcB
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base + " one", "en", "srcA", 1),
        (1, base + " two", "en", "srcB", 1),
        (2, "red green blue cyan magenta yellow black white gray pink", "en", "srcA", 1),
        (3, "red green blue cyan magenta yellow black white gray pink", "en", "srcA", 1),
        (4, "totally different words entirely unrelated content here now then soon", "en", "srcB", 1),
    ]
    tmp = tempfile.mkdtemp(prefix="p6_xsrc_")
    try:
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            (r.source1, r.source2): r.n_pairs
            for r in QUERIES["cross_source_dup_matrix"](spark, tmp).collect()
        }
        assert out[("srcA", "srcB")] == 1  # the cross-source near-dup
        assert out[("srcA", "srcA")] == 1  # the within-source exact dup
        assert ("srcB", "srcB") not in out
        rates = {
            r.source: r for r in QUERIES["dedup_rate_by_source"](spark, tmp).collect()
        }
        assert rates["srcA"].n_docs == 3 and rates["srcA"].n_dup_members == 3
        assert rates["srcA"].dup_rate == 1.0
        assert rates["srcB"].n_docs == 2 and rates["srcB"].n_dup_members == 1
        assert rates["srcB"].dup_rate == 0.5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_containment_detects_embedded_quote(spark):
    """A short passage embedded verbatim in a long doc: symmetric
    Jaccard stays tiny, directed containment hits 1.0 one way only."""
    from p6__mapreduce_spark.dedup.jaccard import containment_pairs, ngram_jaccard_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"word{i} stuff{i} thing{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    got = {(r.src, r.dst): r.containment for r in containment_pairs(docs, threshold=0.8).collect()}
    assert got == {(1, 2): 1.0}  # quote fully inside; reverse direction absent
    assert ngram_jaccard_pairs(docs, threshold=0.8).count() == 0  # invisible to Jaccard


def test_containment_identical_docs_both_directions(spark):
    from p6__mapreduce_spark.dedup.jaccard import containment_pairs

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    got = {(r.src, r.dst): r.containment for r in containment_pairs(docs).collect()}
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_threshold_is_inclusive(spark):
    from p6__mapreduce_spark.dedup.jaccard import containment_pairs

    # doc1 has 5 shingles, 4 shared with doc2 -> containment exactly 0.8
    d1 = "a b c d e f g"          # shingles: abc bcd cde def efg (5)
    d2 = "a b c d e f zz yy xx"   # shares abc bcd cde def (4)
    docs = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    got = {(r.src, r.dst): r.containment for r in containment_pairs(docs, threshold=0.8).collect()}
    assert got[(1, 2)] == 0.8


def test_rerun_sees_appended_document(spark, tmp_path):
    """A query builds its relations from its inputs on every call: after
    an exact copy of a document is appended, a rerun in the same session
    returns what a fresh session returns, not the first run's result."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from p6__mapreduce_spark.queries import QUERIES

    sf = tmp_path / "sf"
    shutil.copytree("/root/testdata/sf0.001", sf)
    path = sf / "documents.parquet"
    path.chmod(0o644)  # the copied test data is read-only

    def rows(session, name):
        try:
            return sorted(map(tuple, QUERIES[name](session, str(sf)).collect()))
        finally:
            session.catalog.clearCache()

    names = ["dedup_minhash_lsh", "dedup_components"]
    before = {n: rows(spark, n) for n in names}
    docs = pq.read_table(path)
    copy = docs.slice(0, 1).set_column(
        0, "doc_id", pa.array([max(docs.column("doc_id").to_pylist()) + 1], pa.int64())
    )
    pq.write_table(pa.concat_tables([docs, copy]), path)
    fresh = spark.newSession()
    for n in names:
        rerun = rows(spark, n)
        assert rerun != before[n], n
        assert rerun == rows(fresh, n), n
