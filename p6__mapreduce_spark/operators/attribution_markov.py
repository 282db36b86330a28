"""Markov-chain (removal-effect) multi-touch attribution.

The repo's attribution family covers heuristic credit splits (linear
``multi_touch_attribution``, U-shaped ``position_attribution``); the
data-driven standard is the first-order Markov model (Anderl et al.
2014): build the episode transition graph START -> channels -> {CONV,
NULL}, and a channel's credit is its REMOVAL EFFECT — how much the
absorption probability into CONV drops when every transition into the
channel is redirected to NULL. No per-touch heuristics; the model is
the observed journey structure itself.

Episode semantics: per user, events in (ts, event_id) order; episodes
split AT each conversion event. Each row contributes the edge
(prev-state -> cur-state) with START substituted after a split and
CONV substituted for the conversion type; a user's final
non-converting event adds (state -> NULL). Transition probabilities
are exact integer micro-units floor(1e6 * cnt / out). Absorption
probabilities come from a FIXED 12-round fixed-point iteration
p(s) <- floor(sum_t q6(s,t) * p(t) / 1e6) with p(CONV) = 1e6,
p(NULL) = 0 pinned — every round is integer arithmetic, so the whole
iteration (all removal variants at once, a `variant` tag column)
replays bit-for-bit in a chained-CTE DuckDB oracle, the
kmeans/BPE/pagerank discipline. The horizon is part of the estimator
definition (paths longer than 12 steps contribute < 1e-6 mass here).

Scale shape: ONE corpus shuffle (the per-user window); everything
after runs on the bounded transition table (<= |variants| x
|states|^2 rows, localCheckpointed once so the 12 tiny fixed-point
rounds never rescan the corpus). Output is |channels| rows at any
data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame

CHANNELS = ("click", "error", "signup", "view")
CONVERSION = "purchase"
ITERS = 12
Q6 = 1_000_000


def _edges(events: DataFrame) -> DataFrame:
    """(src, dst) transition rows per the episode semantics above."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    main = seq.select(
        F.when(
            F.col("prev").isNull() | (F.col("prev") == CONVERSION), F.lit("START")
        )
        .otherwise(F.col("prev"))
        .alias("src"),
        F.when(F.col("event_type") == CONVERSION, F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    tails = seq.filter(
        F.col("nxt").isNull() & (F.col("event_type") != CONVERSION)
    ).select(F.col("event_type").alias("src"), F.lit("NULL").alias("dst"))
    return main.unionByName(tails)


def markov_removal_attribution(events: DataFrame) -> DataFrame:
    """(channel, base_conv_q6, removed_conv_q6, removal_effect_q6):
    12-round fixed-point conversion probability from START (micro-
    units) for the base chain and for each channel-removed chain, and
    the relative drop floor(1e6 * (base - removed) / base)."""
    cnts = _edges(events).groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    variants = F.explode(F.lit(["base", *CHANNELS])).alias("v")
    vcnts = (
        cnts.select(variants, "src", "dst", "c")
        .filter(F.col("src") != F.col("v"))
        .select(
            "v",
            "src",
            F.when(F.col("dst") == F.col("v"), F.lit("NULL"))
            .otherwise(F.col("dst"))
            .alias("dst"),
            "c",
        )
        .groupBy("v", "src", "dst")
        .agg(F.sum("c").alias("c"))
    )
    outs = vcnts.groupBy("v", "src").agg(F.sum("c").alias("tot"))
    trans = (
        vcnts.join(outs, ["v", "src"])
        .select(
            "v",
            "src",
            "dst",
            F.floor(F.col("c") * F.lit(Q6) / F.col("tot")).cast("long").alias("q6"),
        )
        # bounded table (<= |variants| * |states|^2 rows): ONE collect
        # and the 12 fixed-point rounds run driver-side (r10 — the
        # retired shape paid 12 localCheckpoint jobs of scheduler
        # latency per query for arithmetic on <= 245 integers; same
        # collect-and-iterate discipline as pca_top_component / the
        # MLlib collect-rebroadcast loop). Every op below mirrors the
        # retired Spark expressions bit-for-bit: the products/sums are
        # exact int64-range integers, floor(m / 1e6) is the identical
        # double division (m < 2^53, exact), and the final removal
        # effect replays the same long->double cast chain. The DuckDB
        # oracle (unchanged) still replays all 12 rounds in SQL.
    )
    import math

    trans_rows = [(r.v, r.src, r.dst, int(r.q6)) for r in trans.collect()]
    by_vsrc: dict[tuple[str, str], list[tuple[str, int]]] = {}
    for v, src, dst, q6 in trans_rows:
        by_vsrc.setdefault((v, src), []).append((dst, q6))
    p: dict[tuple[str, str], int] = {k: 0 for k in by_vsrc}
    for _ in range(ITERS):
        nxt = {}
        for (v, src), outs_vs in by_vsrc.items():
            m = 0
            for dst, q6 in outs_vs:
                if dst == "CONV":
                    pdst = Q6
                elif dst == "NULL":
                    pdst = 0
                else:
                    pdst = p.get((v, dst), 0)
                m += q6 * pdst
            nxt[(v, src)] = math.floor(float(m) / float(Q6))
        p = nxt
    start = {v: pv for (v, s), pv in p.items() if s == "START"}
    base_p = start.get("base")
    out = []
    for v in sorted(start):
        if v == "base" or base_p is None:
            continue
        removed_p = start[v]
        effect = (
            math.floor(float((base_p - removed_p) * Q6) * 1.0 / float(base_p))
            if base_p > 0
            else None
        )
        out.append((v, base_p, removed_p, effect))
    spark = events.sparkSession
    return local_frame(
        spark,
        out,
        "channel string, base_conv_q6 long, removed_conv_q6 long, "
        "removal_effect_q6 long",
    ).orderBy("channel")


def markov_removal_oracle_sql() -> str:
    """Chained-CTE DuckDB replica: identical edges, variant redirect,
    floor-quantized transitions, and all 12 integer fixed-point rounds
    unrolled (p_0 .. p_12)."""
    variants = ", ".join(f"'{v}'" for v in ("base", *CHANNELS))
    rounds = []
    for k in range(1, ITERS + 1):
        rounds.append(
            f"""p_{k} AS (
      SELECT t.v, t.src AS s,
             CAST(floor(SUM(t.q6 * (CASE WHEN t.dst = 'CONV' THEN {Q6}
                                         WHEN t.dst = 'NULL' THEN 0
                                         ELSE COALESCE(p.p, 0) END)) * 1.0e0
                        / {float(Q6):.1f}e0) AS BIGINT) AS p
      FROM trans t LEFT JOIN p_{k - 1} p ON p.v = t.v AND p.s = t.dst
      GROUP BY 1, 2
    )"""
        )
    chain = ",\n    ".join(rounds)
    return f"""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ), edges AS (
      SELECT CASE WHEN prev IS NULL OR prev = '{CONVERSION}' THEN 'START'
                  ELSE prev END AS src,
             CASE WHEN event_type = '{CONVERSION}' THEN 'CONV'
                  ELSE event_type END AS dst
      FROM seq
      UNION ALL
      SELECT event_type AS src, 'NULL' AS dst
      FROM seq WHERE nxt IS NULL AND event_type <> '{CONVERSION}'
    ), cnts AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY 1, 2
    ), vcnts AS (
      SELECT vv.v, cnts.src,
             CASE WHEN cnts.dst = vv.v THEN 'NULL' ELSE cnts.dst END AS dst,
             CAST(SUM(cnts.c) AS BIGINT) AS c
      FROM cnts CROSS JOIN (SELECT unnest([{variants}]) AS v) AS vv
      WHERE cnts.src <> vv.v
      GROUP BY 1, 2, 3
    ), outs AS (
      SELECT v, src, CAST(SUM(c) AS BIGINT) AS tot FROM vcnts GROUP BY 1, 2
    ), trans AS (
      SELECT vcnts.v, vcnts.src, vcnts.dst,
             CAST(floor(vcnts.c * {Q6} * 1.0e0 / outs.tot) AS BIGINT) AS q6
      FROM vcnts JOIN outs ON outs.v = vcnts.v AND outs.src = vcnts.src
    ), p_0 AS (
      SELECT DISTINCT v, src AS s, CAST(0 AS BIGINT) AS p FROM trans
    ),
    {chain}
    SELECT r.v AS channel,
           b.p AS base_conv_q6,
           r.p AS removed_conv_q6,
           CASE WHEN b.p > 0
                THEN CAST(floor((b.p - r.p) * {Q6} * 1.0e0 / b.p) AS BIGINT)
                END AS removal_effect_q6
    FROM (SELECT v, p FROM p_{ITERS} WHERE s = 'START' AND v <> 'base') r
    CROSS JOIN (SELECT p FROM p_{ITERS} WHERE s = 'START' AND v = 'base') b
    ORDER BY channel
    """
