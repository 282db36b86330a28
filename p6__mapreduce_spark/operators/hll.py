"""Portable HyperLogLog (Flajolet et al. 2007) with an EXACT oracle.

Spark's built-in HLL++ has an engine-private register layout, so a
query built on it could only ever get a rows-only driver check. This
module is the portable replacement — since r9 EVERY estimator query
(``approx_stats`` via :func:`approx_stats_portable`,
``sketch_weekly_users`` via the m=1024 rollup below) runs on it and
is hash-verified against DuckDB, like every registered query. The
register array is built from the repo's engine-portable affine hash,
every register value is an exact integer max, and the harmonic-mean
denominator Z = Σ 2^-r is carried as the exact int64 numerator
S = Σ 2^(24-r) (common denominator 2^24) — so the WHOLE sketch *and*
the raw estimate (one fixed-shape double expression over S) replay
bit-for-bit in DuckDB. The trick that keeps it exact: rho (leading-
zero rank) is computed as 24 - bit_length(v) with bit_length exact in
integers (Spark: the length of ``bin(v)``; DuckDB: a count over a
powers-of-two literal) — no log2, no libm anywhere.

The sketch is the standard mergeable shape: registers combine by MAX,
so per-day registers roll up to month/all-time without rescanning —
same property as the CMS/grid-histogram siblings, for cardinalities.
The small/large-range corrections (which need ln) are intentionally
omitted; the audit query reports the exact distinct count beside the
raw estimate so the realized error is measured, not modeled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MASK32 = 0xFFFFFFFF
C1, C2 = 0x7FEB352D, 0x735A2D97  # odd mix constants < 2^31, so
# (2^32-1) * C stays under 2^63 — the mixer never overflows int64
M = 256  # registers (p = 8 index bits; 24 value bits remain)
VBITS = 24
ALPHA = 0.7213 / (1 + 1.079 / M)  # standard alpha_m, embedded as the
# SAME Python-computed literal in both engines


def _mix32(col: Column) -> Column:
    """xor-shift-multiply avalanche mixer (lowbias32 family) — HLL
    needs iid-looking leading zeros, which an affine/LCG hash (an
    arithmetic progression mod P) cannot deliver: measured on the
    events table, the affine hash biased the estimate +32% while this
    mixer lands within the ~1.04/sqrt(m) envelope. Every step is
    bitwise/int64-exact and engine-portable."""
    h = col.cast("long").bitwiseAND(F.lit(MASK32))
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = (h * F.lit(C1)).bitwiseAND(F.lit(MASK32))
    h = h.bitwiseXOR(F.shiftright(h, 15))
    h = (h * F.lit(C2)).bitwiseAND(F.lit(MASK32))
    return h.bitwiseXOR(F.shiftright(h, 16))


def _rho_expr(v: Column, vbits: int = VBITS) -> Column:
    """1 + leading zeros of the ``vbits``-bit value = vbits+1 -
    bit_length(v), bit_length read as the length of v's binary digit
    string (exact, no log2, and code-generated where a lambda over a
    powers-of-two literal is interpreted per row): v = 0 gives the
    maximal rho vbits+1."""
    bitlen = F.when(v == F.lit(0), F.lit(0)).otherwise(F.length(F.bin(v)))
    return F.lit(vbits + 1) - bitlen


def hll_portable_audit(events: DataFrame) -> DataFrame:
    """(event_type, n_hit_regs, s_q, raw_est, exact_distinct): the
    256-register HLL of distinct user_id per event_type, collapsed to
    its exact integer harmonic numerator S = Σ 2^(25-r) (absent
    registers contribute 2^25 each), the raw HLL estimate
    alpha·m²·2^25/S, and the exact distinct count for the realized-
    error audit.

    Plan: one map-side hash projection, one (group, idx) MAX shuffle
    bounded at groups x 256 rows, one bounded group agg; the exact
    branch is a standard two-level distinct agg. No driver state, no
    floats before the single final estimate expression."""
    w = _mix32(F.col("user_id"))
    regs = (
        events.select(
            "event_type",
            w.bitwiseAND(F.lit(M - 1)).alias("idx"),
            _rho_expr(F.shiftright(w, 8)).alias("rho"),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("r"))
    )
    pow25 = F.lit([1 << i for i in range(26)])  # 2^0 .. 2^25
    sketch = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hit_regs"),
        F.sum(F.element_at(pow25, (F.lit(26) - F.col("r")).cast("int"))).alias("s_hit"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_distinct")
    )
    s_q = F.col("s_hit") + (F.lit(M) - F.col("n_hit_regs")) * F.lit(1 << 25)
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "n_hit_regs",
            s_q.alias("s_q"),
            (F.lit(ALPHA) * F.lit(float(M * M)) * F.lit(float(1 << 25)) / s_q).alias("raw_est"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )


def hll_audit_oracle_sql() -> str:
    """DuckDB replica: identical mixer, rho-via-powers-count, register
    maxima, integer numerator and the identical estimate expression."""
    powers = ", ".join(str(1 << i) for i in range(VBITS))
    pow25 = ", ".join(str(1 << i) for i in range(26))
    # the lowbias32 mixer as nested single-use CTE columns (DuckDB has
    # no bitwiseXOR operator chaining sugar; xor() composes fine)
    return f"""
    WITH m0 AS (
      SELECT event_type, user_id, user_id & {MASK32} AS h0 FROM events
    ), m1 AS (
      SELECT event_type, user_id,
             (xor(h0, h0 >> 16) * {C1}) & {MASK32} AS h1 FROM m0
    ), m2 AS (
      SELECT event_type, user_id,
             (xor(h1, h1 >> 15) * {C2}) & {MASK32} AS h2 FROM m1
    ), mh AS (
      SELECT event_type, user_id, xor(h2, h2 >> 16) AS h FROM m2
    ), hh AS (
      SELECT event_type,
             h & {M - 1} AS idx,
             {VBITS + 1} - len(list_filter([{powers}], p -> p <= (h >> 8))) AS rho
      FROM mh
    ), regs AS (
      SELECT event_type, idx, MAX(rho) AS r FROM hh GROUP BY 1, 2
    ), sk AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hit_regs,
             CAST(SUM(list_extract([{pow25}], 26 - r)) AS BIGINT) AS s_hit
      FROM regs GROUP BY 1
    ), ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT sk.event_type, sk.n_hit_regs,
           sk.s_hit + ({M} - sk.n_hit_regs) * {1 << 25} AS s_q,
           CAST({ALPHA!r} AS DOUBLE) * {float(M * M):.1f}e0 * {float(1 << 25):.1f}e0
             / (sk.s_hit + ({M} - sk.n_hit_regs) * {1 << 25}) AS raw_est,
           ex.exact_distinct
    FROM sk JOIN ex USING (event_type)
    ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# Weekly distinct-user rollup on the portable sketch (r8: replaces the
# rows-only hll_sketch_agg version so sketch_weekly_users becomes
# hash-verifiable — the last estimator query without a real oracle)
# ---------------------------------------------------------------------------

# Rollup geometry: p = 10 index bits -> m = 1024 registers (22 value
# bits remain). Chosen for the weekly-users cardinality regime: the
# small-range (linear-counting) branch is accurate for n up to ~2.5m,
# and the raw-HLL branch takes over beyond it — ~3% realized error at
# every tested scale factor instead of the ~6.5% the audit's m = 256
# would give here.
P_W = 10
M_W = 1 << P_W
VBITS_W = 32 - P_W  # 22
ALPHA_W = 0.7213 / (1 + 1.079 / M_W)  # same Python literal both engines

# Small-range correction WITHOUT in-engine libm: linear counting needs
# ln(m/V) for V = number of EMPTY registers, and V has only m possible
# values — so the whole ln table is precomputed here in integer
# nano-units and embedded as the SAME plan literal in both engines
# (the time_decayed_user_value discipline). Estimate = m * LN[V] / 1e9
# is then a fixed-shape exact-integer-to-double expression that both
# engines round identically.
import math as _math

LN_NANO_W: list[int] = [round(_math.log(M_W / v) * 1e9) for v in range(1, M_W + 1)]


def weekly_users_sketch_rollup(events: DataFrame) -> DataFrame:
    """Mergeable-sketch rollup: per-day portable-HLL registers of
    distinct users, MAX-merged into per-week estimates WITHOUT
    rescanning the days — the incremental pattern a 100 TB event store
    needs (each day's partition is scanned once ever; any window is
    answered by merging kilobyte register tables).

    Output per ISO week: ``approx_weekly_users`` (linear-counting
    branch when raw <= 2.5m and empty registers exist, raw HLL
    otherwise — branch condition computed from identical integers in
    both engines, so the branch itself is deterministic),
    ``sum_daily_naive`` (the WRONG sum-of-daily-distincts rollup, for
    contrast), ``n_days``, and the sketch state (``n_hit_regs``,
    ``s_q``) so the driver hash pins the registers, not just the
    estimate.

    Plan: one map-side hash projection; (day, idx) MAX shuffle bounded
    at |days| x 1024 rows; week merge and collapse run on that bounded
    table. The exact-daily contrast branch is a standard two-level
    distinct agg. No driver state; no floats before the single final
    estimate expression.
    """
    # ONE corpus pass shared by the sketch and the exact-contrast
    # branches (r10 "examined, deferred" item, resolved r11): the
    # registers are a pure function of user_id and MAX is
    # dedup-insensitive, so registers built over the DISTINCT
    # (day, user) table are bit-identical to registers over raw
    # events — and the exact branch already pays that distinct
    # shuffle, so sharing it costs the sketch path nothing it wasn't
    # indirectly paying in the same query. Corpus-proportional rows →
    # pin (persist; recomputable lineage). Note this is a
    # property of THIS query (sketch + exact contrast together); a
    # sketch-only rollup should keep the raw map-side register
    # projection, which never shuffles (day, user).
    from p6__mapreduce_spark.functions.pin import pin

    du = pin(
        events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    )
    w = _mix32(F.col("user_id"))
    daily_regs = (
        du.select(
            "day",
            w.bitwiseAND(F.lit(M_W - 1)).alias("idx"),
            _rho_expr(F.shiftright(w, P_W), VBITS_W).alias("rho"),
        )
        .groupBy("day", "idx")
        .agg(F.max("rho").alias("r"))
    )
    weekly_regs = (
        daily_regs.groupBy(F.weekofyear("day").alias("week"), "idx")
        .agg(F.max("r").alias("r"))
    )
    # common denominator 2^(vbits+1): S = sum 2^(vbits+1-r), absent
    # registers contribute 2^(vbits+1) each
    top = VBITS_W + 1  # 23
    pows = F.lit([1 << i for i in range(top + 1)])  # 2^0 .. 2^23
    sk = weekly_regs.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_hit_regs"),
        F.sum(F.element_at(pows, (F.lit(top + 1) - F.col("r")).cast("int"))).alias(
            "s_hit"
        ),
    )
    daily_exact = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("exact_daily")
    )
    weekly_exact = daily_exact.groupBy(F.weekofyear("day").alias("week")).agg(
        F.sum("exact_daily").cast("long").alias("sum_daily_naive"),
        F.count(F.lit(1)).alias("n_days"),
    )
    s_q = F.col("s_hit") + (F.lit(M_W) - F.col("n_hit_regs")) * F.lit(1 << top)
    raw = F.lit(ALPHA_W) * F.lit(float(M_W * M_W)) * F.lit(float(1 << top)) / s_q
    v_empty = (F.lit(M_W) - F.col("n_hit_regs")).cast("int")
    lc = (
        F.element_at(F.lit(LN_NANO_W), v_empty).cast("double")
        * F.lit(float(M_W))
        / F.lit(1e9)
    )
    est = F.when((v_empty > F.lit(0)) & (raw <= F.lit(2.5 * M_W)), lc).otherwise(raw)
    return (
        sk.join(weekly_exact, "week")
        .select(
            F.col("week").cast("int").alias("week"),
            est.alias("approx_weekly_users"),
            "sum_daily_naive",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_hit_regs").cast("long").alias("n_hit_regs"),
            s_q.cast("long").alias("s_q"),
        )
        .orderBy("week")
    )


def weekly_rollup_oracle_sql() -> str:
    """DuckDB replica of ``weekly_users_sketch_rollup``: identical
    mixer, rho-via-powers-count, day->week register MAX merge, integer
    harmonic numerator, identical branch condition, and the identical
    embedded ln table for the linear-counting branch."""
    powers = ", ".join(str(1 << i) for i in range(VBITS_W))
    pows = ", ".join(str(1 << i) for i in range(VBITS_W + 2))  # 2^0..2^23
    ln_tab = ", ".join(str(x) for x in LN_NANO_W)
    top = VBITS_W + 1
    return f"""
    WITH m0 AS (
      SELECT CAST(ts AS DATE) AS day, user_id, user_id & {MASK32} AS h0 FROM events
    ), m1 AS (
      SELECT day, user_id, (xor(h0, h0 >> 16) * {C1}) & {MASK32} AS h1 FROM m0
    ), m2 AS (
      SELECT day, user_id, (xor(h1, h1 >> 15) * {C2}) & {MASK32} AS h2 FROM m1
    ), mh AS (
      SELECT day, user_id, xor(h2, h2 >> 16) AS h FROM m2
    ), hh AS (
      SELECT day, h & {M_W - 1} AS idx,
             {VBITS_W + 1} - len(list_filter([{powers}], p -> p <= (h >> {P_W}))) AS rho
      FROM mh
    ), daily AS (
      SELECT day, idx, MAX(rho) AS r FROM hh GROUP BY 1, 2
    ), weekly AS (
      SELECT weekofyear(day) AS week, idx, MAX(r) AS r FROM daily GROUP BY 1, 2
    ), sk AS (
      SELECT week, CAST(COUNT(*) AS BIGINT) AS n_hit_regs,
             CAST(SUM(list_extract([{pows}], {top + 1} - r)) AS BIGINT) AS s_hit
      FROM weekly GROUP BY 1
    ), de AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_daily
      FROM events GROUP BY 1
    ), we AS (
      SELECT weekofyear(day) AS week,
             CAST(SUM(exact_daily) AS BIGINT) AS sum_daily_naive,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM de GROUP BY 1
    ), fin AS (
      SELECT sk.week, sk.n_hit_regs,
             sk.s_hit + ({M_W} - sk.n_hit_regs) * {1 << top} AS s_q,
             we.sum_daily_naive, we.n_days
      FROM sk JOIN we USING (week)
    )
    SELECT CAST(week AS INTEGER) AS week,
           CASE WHEN ({M_W} - n_hit_regs) > 0
                 AND (CAST({ALPHA_W!r} AS DOUBLE) * {float(M_W * M_W):.1f}e0
                      * {float(1 << top):.1f}e0 / s_q)
                     <= {2.5 * M_W:.1f}e0
                THEN CAST(list_extract([{ln_tab}],
                          CAST({M_W} - n_hit_regs AS INTEGER)) AS DOUBLE)
                     * {float(M_W):.1f}e0 / 1e9
                ELSE CAST({ALPHA_W!r} AS DOUBLE) * {float(M_W * M_W):.1f}e0
                     * {float(1 << top):.1f}e0 / s_q
           END AS approx_weekly_users,
           sum_daily_naive, n_days,
           CAST(n_hit_regs AS BIGINT) AS n_hit_regs,
           CAST(s_q AS BIGINT) AS s_q
    FROM fin ORDER BY week
    """


# ---------------------------------------------------------------------------
# Portable approx_stats (r9: replaces the rows-only Spark HLL++ /
# approx_percentile version — the LAST rows-only query in the registry
# — with the same portable-register + fixed-grid machinery that made
# sketch_weekly_users hash-verifiable in r8)
# ---------------------------------------------------------------------------

# Price grid: l_extendedprice is DOMAIN-bounded (quantity <= 50 x
# retail price <= ~2101 => < ~105,100 at EVERY scale factor — a TPC-H
# schema property, not a data-size property), so a $32-wide fixed grid
# needs <= ~3300 bins: bounded sketch state at any corpus size.
PRICE_BIN_W = 32.0


def approx_stats_portable(lineitem: DataFrame) -> DataFrame:
    """(l_returnflag, approx_orders, approx_parts, price_p50,
    price_p95): the approximate profile pass — HLL distinct-count
    estimates and grid-histogram quantile estimates — with every
    estimator replayable bit-for-bit in DuckDB.

    - ``approx_orders`` / ``approx_parts``: the m=1024 portable HLL of
      ``weekly_users_sketch_rollup`` (lowbias32 mixer, rho via an
      exact integer bit length, exact integer harmonic numerator,
      linear-counting small-range branch through the embedded integer
      ln table), rounded to BIGINT with floor(est + 0.5) — identical
      doubles in, identical longs out. Both key columns ride ONE
      corpus pass (a 2-struct explode), and the register shuffle is
      bounded at |flags| x 2 x 1024 rows. 32-bit hash ceiling ~4e9
      distinct keys per group — past that, widen the mixer to 64-bit.
    - ``price_p50`` / ``price_p95``: lower bin edge of the first
      $32-grid bin whose cumulative count reaches the positional
      target (integer arithmetic: ceil(q*n) = (q_num*n + q_den - 1)
      div q_den) — the ``grid_quantile_sketch`` estimator inlined on
      the bounded (flag, bin) relation. Estimates are within one grid
      step of exact; the grid is mergeable state like every sketch
      here.

    Plan: two corpus scans (one for keys, one for prices — each with
    map-side partial agg into bounded state), then everything runs on
    <= |flags| x (2048 + 3300) rows. No driver state; no floats before
    the final fixed-shape estimate expressions.
    """
    keyed = lineitem.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(
                    F.lit("orders").alias("src"), F.col("l_orderkey").alias("key")
                ),
                F.struct(F.lit("parts").alias("src"), F.col("l_partkey").alias("key")),
            )
        ).alias("sk"),
    ).select("l_returnflag", F.col("sk.src").alias("src"), F.col("sk.key").alias("key"))
    w = _mix32(F.col("key"))
    regs = (
        keyed.select(
            "l_returnflag",
            "src",
            w.bitwiseAND(F.lit(M_W - 1)).alias("idx"),
            _rho_expr(F.shiftright(w, P_W), VBITS_W).alias("rho"),
        )
        .groupBy("l_returnflag", "src", "idx")
        .agg(F.max("rho").alias("r"))
    )
    top = VBITS_W + 1  # 23
    pows = F.lit([1 << i for i in range(top + 1)])
    sk = regs.groupBy("l_returnflag", "src").agg(
        F.count(F.lit(1)).alias("n_hit_regs"),
        F.sum(F.element_at(pows, (F.lit(top + 1) - F.col("r")).cast("int"))).alias(
            "s_hit"
        ),
    )
    s_q = F.col("s_hit") + (F.lit(M_W) - F.col("n_hit_regs")) * F.lit(1 << top)
    raw = F.lit(ALPHA_W) * F.lit(float(M_W * M_W)) * F.lit(float(1 << top)) / s_q
    v_empty = (F.lit(M_W) - F.col("n_hit_regs")).cast("int")
    lc = (
        F.element_at(F.lit(LN_NANO_W), v_empty).cast("double")
        * F.lit(float(M_W))
        / F.lit(1e9)
    )
    est = F.when((v_empty > F.lit(0)) & (raw <= F.lit(2.5 * M_W)), lc).otherwise(raw)
    hll = (
        sk.select(
            "l_returnflag",
            "src",
            F.floor(est + F.lit(0.5)).cast("long").alias("est_l"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.max(F.when(F.col("src") == "orders", F.col("est_l"))).alias(
                "approx_orders"
            ),
            F.max(F.when(F.col("src") == "parts", F.col("est_l"))).alias(
                "approx_parts"
            ),
        )
    )
    from pyspark.sql import Window

    bins = (
        lineitem.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") / F.lit(PRICE_BIN_W))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("l_returnflag", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # bounded relation (<= |flags| x ~3300 rows): per-flag cumulative
    # counts + totals are cheap windows here, never corpus-sized
    wcum = Window.partitionBy("l_returnflag").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("l_returnflag")
    c = bins.select(
        "l_returnflag",
        "bin",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
    )
    qs = c.groupBy("l_returnflag").agg(
        (
            F.min(
                F.when(F.col("cum") >= F.expr("(1 * n + 1) div 2"), F.col("bin"))
            ).cast("double")
            * F.lit(PRICE_BIN_W)
        ).alias("price_p50"),
        (
            F.min(
                F.when(F.col("cum") >= F.expr("(19 * n + 19) div 20"), F.col("bin"))
            ).cast("double")
            * F.lit(PRICE_BIN_W)
        ).alias("price_p95"),
    )
    return (
        hll.join(qs, "l_returnflag")
        .select(
            "l_returnflag", "approx_orders", "approx_parts", "price_p50", "price_p95"
        )
        .orderBy("l_returnflag")
    )


def approx_stats_oracle_sql() -> str:
    """DuckDB replica of ``approx_stats_portable``: identical mixer,
    rho-via-powers-count, register maxima, branch condition, embedded
    ln table, floor(est + 0.5) rounding, and the identical $32-grid
    positional quantile arithmetic."""
    powers = ", ".join(str(1 << i) for i in range(VBITS_W))
    pows = ", ".join(str(1 << i) for i in range(VBITS_W + 2))
    ln_tab = ", ".join(str(x) for x in LN_NANO_W)
    top = VBITS_W + 1
    est = f"""CASE WHEN ({M_W} - n_hit_regs) > 0
                 AND (CAST({ALPHA_W!r} AS DOUBLE) * {float(M_W * M_W):.1f}e0
                      * {float(1 << top):.1f}e0 / s_q)
                     <= {2.5 * M_W:.1f}e0
                THEN CAST(list_extract([{ln_tab}],
                          CAST({M_W} - n_hit_regs AS INTEGER)) AS DOUBLE)
                     * {float(M_W):.1f}e0 / 1e9
                ELSE CAST({ALPHA_W!r} AS DOUBLE) * {float(M_W * M_W):.1f}e0
                     * {float(1 << top):.1f}e0 / s_q
           END"""
    return f"""
    WITH k AS (
      SELECT l_returnflag, 'orders' AS src, l_orderkey AS key FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'parts', l_partkey FROM lineitem
    ), m0 AS (
      SELECT l_returnflag, src, key & {MASK32} AS h0 FROM k
    ), m1 AS (
      SELECT l_returnflag, src, (xor(h0, h0 >> 16) * {C1}) & {MASK32} AS h1 FROM m0
    ), m2 AS (
      SELECT l_returnflag, src, (xor(h1, h1 >> 15) * {C2}) & {MASK32} AS h2 FROM m1
    ), mh AS (
      SELECT l_returnflag, src, xor(h2, h2 >> 16) AS h FROM m2
    ), hh AS (
      SELECT l_returnflag, src, h & {M_W - 1} AS idx,
             {VBITS_W + 1} - len(list_filter([{powers}], p -> p <= (h >> {P_W}))) AS rho
      FROM mh
    ), regs AS (
      SELECT l_returnflag, src, idx, MAX(rho) AS r FROM hh GROUP BY 1, 2, 3
    ), sk AS (
      SELECT l_returnflag, src, CAST(COUNT(*) AS BIGINT) AS n_hit_regs,
             CAST(SUM(list_extract([{pows}], {top + 1} - r)) AS BIGINT) AS s_hit
      FROM regs GROUP BY 1, 2
    ), sq AS (
      SELECT l_returnflag, src, n_hit_regs,
             s_hit + ({M_W} - n_hit_regs) * {1 << top} AS s_q
      FROM sk
    ), ests AS (
      SELECT l_returnflag, src,
             CAST(floor(({est}) + 0.5e0) AS BIGINT) AS est_l
      FROM sq
    ), hll AS (
      SELECT l_returnflag,
             MAX(CASE WHEN src = 'orders' THEN est_l END) AS approx_orders,
             MAX(CASE WHEN src = 'parts' THEN est_l END) AS approx_parts
      FROM ests GROUP BY 1
    ), b AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice / {PRICE_BIN_W!r}) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, bin,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM b
    ), qs AS (
      SELECT l_returnflag,
             CAST(MIN(CASE WHEN cum >= (1 * n + 1) // 2 THEN bin END) AS DOUBLE)
               * {PRICE_BIN_W!r} AS price_p50,
             CAST(MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN bin END) AS DOUBLE)
               * {PRICE_BIN_W!r} AS price_p95
      FROM c GROUP BY 1
    )
    SELECT hll.l_returnflag, hll.approx_orders, hll.approx_parts,
           qs.price_p50, qs.price_p95
    FROM hll JOIN qs USING (l_returnflag)
    ORDER BY l_returnflag
    """
