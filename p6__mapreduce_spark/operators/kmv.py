"""KMV (k-minimum-values / bottom-k) sketch with SET ALGEBRA — the
audience-overlap matrix.

HLL (``operators/hll.py``) answers "how many distinct" and merges by
UNION only. The KMV / theta-sketch family (Bar-Yossef et al. 2002;
Dasu/Johnson's bottom-k) also supports INTERSECTION — "how many users
did both X and Y" — because the sketch IS a uniform sample of the
hashed key space: keep the K smallest distinct hash values per group;
the K-th smallest value t estimates density (distinct ~= (K-1) *
2^32 / t), and the overlap of two groups is estimated from the
intersection of their sketches below the combined threshold
min(t_A, t_B). That is the audience-overlap question a marketing /
cohort pipeline asks constantly, and the one HLL fundamentally cannot
answer without rescanning.

Exactness: the sketch state is DETERMINISTIC — the K smallest
distinct values of the repo's portable lowbias32 mix of user_id — so
the entire computation (sketch, thresholds, intersection counts,
estimates) replays bit-for-bit in DuckDB; the only doubles are three
final fixed-shape ratio expressions over exact int64 scalars. The
audit reports the EXACT pairwise overlap beside the estimate so the
realized error is measured, not modeled (hll_user_audit discipline).

Plan shape: distinct (group, hash) pairs, then the bottom-K per group
via a rank window over the per-group DISTINCT-hash table (bounded by
distinct users per group; at 100 TB swap for the two-phase rank or an
approx pre-filter — K-th smallest of a uniform hash is ~K/n of the
space, so a static threshold prunes almost everything first). The
pairwise stage joins K-row sketches: |groups|^2 * K upper bound,
corpus-size independent. Exact contrast counts come from one
self-join of the distinct pairs on user hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.pin import pin

from p6__mapreduce_spark.operators.hll import _mix32

K = 256
SPACE = float(1 << 32)  # hash space size as the same double literal


def kmv_audience_overlap(events: DataFrame) -> DataFrame:
    """(type_a, type_b, k_a, t_a, k_b, t_b, n_inter_sketch, est_a,
    est_b, est_overlap, exact_overlap): pairwise distinct-user overlap
    estimates between event types from K=256 bottom-k sketches, with
    the exact overlap beside them (ordered pairs a < b)."""
    # pairs feeds the sketch build AND both sides of the exact-overlap
    # self-join; sk feeds the summary and both sides of the sketch
    # intersection. Unpinned, every consumer re-ran the corpus distinct
    # (plan audit r10: 8 events scans). Pin the distinct (type, hash)
    # relation (ONE corpus pass — the dedup'd audience table a cohort
    # pipeline materializes) and the K x |groups|-bounded sketch.
    pairs = pin(
        events.select("event_type", _mix32(F.col("user_id")).alias("h")).distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    # cut: pin measured 0.59 -> 0.81 s at sf0.1 (kmv_audience_overlap, 0/5 pin wins)
    sk = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .localCheckpoint(eager=True)
    )
    # per-group sketch summary: size (may be < K for small groups) and
    # threshold t = largest retained value (the K-th smallest)
    summ = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("kk"), F.max("h").alias("t")
    )
    a, b = [
        df.select(
            F.col("event_type").alias(f"type_{s}"),
            F.col("kk").alias(f"k_{s}"),
            F.col("t").alias(f"t_{s}"),
        )
        for df, s in ((summ, "a"), (summ, "b"))
    ]
    grid = a.join(b, F.col("type_a") < F.col("type_b"))
    # sketch-space intersection: matching hash values from both
    # sketches that sit below BOTH thresholds
    inter = (
        sk.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha"))
        .join(
            sk.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb")),
            (F.col("type_a") < F.col("type_b")) & (F.col("ha") == F.col("hb")),
        )
        .join(grid.select("type_a", "type_b", "t_a", "t_b"), ["type_a", "type_b"])
        .filter((F.col("ha") <= F.col("t_a")) & (F.col("ha") <= F.col("t_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter_sketch"))
    )
    exact = (
        pairs.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha"))
        .join(
            pairs.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb")),
            (F.col("type_a") < F.col("type_b")) & (F.col("ha") == F.col("hb")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    ni = F.coalesce(F.col("n_inter_sketch"), F.lit(0))
    # distinct estimate per group: exact count when the sketch holds
    # the whole group (kk < K), else (K-1) * 2^32 / t
    est = lambda kc, tc: F.when(  # noqa: E731
        F.col(kc) < K, F.col(kc).cast("double")
    ).otherwise(F.lit(float(K - 1)) * F.lit(SPACE) / F.col(tc))
    # overlap: Jaccard-style correction on the combined threshold
    # min(t_a, t_b): the intersection sample is uniform below it, so
    # |A&B| ~= n_inter * 2^32 / min(t_a, t_b)
    est_overlap = F.when(
        (F.col("k_a") < K) & (F.col("k_b") < K), ni.cast("double")
    ).otherwise(ni.cast("double") * F.lit(SPACE) / F.least("t_a", "t_b"))
    return (
        grid.join(inter, ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "k_a",
            "t_a",
            "k_b",
            "t_b",
            ni.alias("n_inter_sketch"),
            est("k_a", "t_a").alias("est_a"),
            est("k_b", "t_b").alias("est_b"),
            est_overlap.alias("est_overlap"),
            F.coalesce(F.col("exact_overlap"), F.lit(0)).alias("exact_overlap"),
        )
        .orderBy("type_a", "type_b")
    )


def kmv_overlap_oracle_sql() -> str:
    """DuckDB replica: identical mixer, bottom-K rank, thresholds,
    sketch intersection and the identical estimate expressions."""
    from p6__mapreduce_spark.operators.hll import C1, C2, MASK32

    return f"""
    WITH m0 AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), mh AS (
      SELECT event_type,
             xor(h2, h2 >> 16) AS h
      FROM (
        SELECT event_type,
               (xor(h1, h1 >> 15) * {C2}) & {MASK32} AS h2
        FROM (
          SELECT event_type,
                 (xor(h0, h0 >> 16) * {C1}) & {MASK32} AS h1
          FROM (SELECT event_type, user_id & {MASK32} AS h0 FROM m0)
        )
      )
    ), pairs AS (
      SELECT DISTINCT event_type, h FROM mh
    ), sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM pairs
      ) WHERE rn <= {K}
    ), summ AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS kk,
             CAST(MAX(h) AS BIGINT) AS t
      FROM sk GROUP BY 1
    ), grid AS (
      SELECT a.event_type AS type_a, a.kk AS k_a, a.t AS t_a,
             b.event_type AS type_b, b.kk AS k_b, b.t AS t_b
      FROM summ a JOIN summ b ON a.event_type < b.event_type
    ), inter AS (
      SELECT sa.type_a, sb.type_b, CAST(COUNT(*) AS BIGINT) AS n_inter_sketch
      FROM (SELECT event_type AS type_a, h FROM sk) sa
      JOIN (SELECT event_type AS type_b, h FROM sk) sb
        ON sa.type_a < sb.type_b AND sa.h = sb.h
      JOIN grid g ON g.type_a = sa.type_a AND g.type_b = sb.type_b
      WHERE sa.h <= g.t_a AND sa.h <= g.t_b
      GROUP BY 1, 2
    ), exact AS (
      SELECT pa.type_a, pb.type_b, CAST(COUNT(*) AS BIGINT) AS exact_overlap
      FROM (SELECT event_type AS type_a, h FROM pairs) pa
      JOIN (SELECT event_type AS type_b, h FROM pairs) pb
        ON pa.type_a < pb.type_b AND pa.h = pb.h
      GROUP BY 1, 2
    )
    SELECT g.type_a, g.type_b, g.k_a, g.t_a, g.k_b, g.t_b,
           CAST(COALESCE(i.n_inter_sketch, 0) AS BIGINT) AS n_inter_sketch,
           CASE WHEN g.k_a < {K} THEN g.k_a * 1.0e0
                ELSE {float(K - 1):.1f}e0 * {SPACE:.1f}e0 / g.t_a END AS est_a,
           CASE WHEN g.k_b < {K} THEN g.k_b * 1.0e0
                ELSE {float(K - 1):.1f}e0 * {SPACE:.1f}e0 / g.t_b END AS est_b,
           CASE WHEN g.k_a < {K} AND g.k_b < {K}
                THEN COALESCE(i.n_inter_sketch, 0) * 1.0e0
                ELSE COALESCE(i.n_inter_sketch, 0) * 1.0e0 * {SPACE:.1f}e0
                     / least(g.t_a, g.t_b) END AS est_overlap,
           CAST(COALESCE(e.exact_overlap, 0) AS BIGINT) AS exact_overlap
    FROM grid g
    LEFT JOIN inter i ON i.type_a = g.type_a AND i.type_b = g.type_b
    LEFT JOIN exact e ON e.type_a = g.type_a AND e.type_b = g.type_b
    ORDER BY g.type_a, g.type_b
    """
