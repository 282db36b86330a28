"""Distributed logistic regression by IRLS/Newton — the quality-
classifier primitive (the fastText/CCNet-style "keep or drop" scorer
every LLM data pipeline trains on simple per-document statistics),
exactly cross-engine reproducible.

Fitted here: P(purchase | same-day activity) per (user, day) exposure
— intercept + two features (non-purchase event count, click count).
The trained propensity is the score `isotonic_calibration` then
calibrates; together they are the score->calibrate half of a curation
pipeline.

Why this is exactly oracle-checkable — normally impossible for
logistic regression because (a) the sigmoid needs libm `exp` whose
bit pattern differs across runtimes, and (b) float gradient sums
depend on partition order:

* **libm-free sigmoid**: e^z is computed as (1 + z/1024)^1024 by ten
  repeated squarings — pure `+ * /` IEEE doubles, bit-identical in
  every engine. The relative error vs true exp is e^(-z^2/2048)-1
  (|z| <= 16 after the standard clip), under 0.5% in sigmoid terms at
  |z| = 6 and vanishing near the decision boundary; the model is
  honestly "logistic with the compound-interest exponential", the
  same trade `similarity/kmeans.py` makes with coordinate
  quantization.
* **integer moments**: each row's Hessian/gradient contributions
  (w, w*x_i*x_j, (y-p)*x_i with w = p(1-p)) quantize to 1e-6 int64
  PER ROW, so the only cross-partition reduction is an exact integer
  sum — partition order can't move the result (the Spearman/PageRank
  discipline).
* **one shared expression text**: every arithmetic stage — sigmoid
  ladder, quantized contributions, ridge-damped 3x3 Newton solve
  (explicit symmetric cofactors), beta re-quantization to 1e-9 int64
  — is GENERATED ONCE as SQL text (`_row_stages`, `_update_stages`)
  and executed verbatim by Spark (`selectExpr`) and DuckDB (chained
  CTEs). There is no twin implementation to drift; the engines can
  only disagree if IEEE arithmetic itself disagrees.

Scale shape: training is ROUNDS passes over the (user, day) feature
relation (localCheckpoint-backed, the MLlib iterate-and-collect
pattern); per round one map-side projection chain (fused into a
single codegen stage) + one 10-integer global aggregate; driver
traffic is 3 int64 betas per round. The 3x3 solve runs on a 1-row
relation. At 100 TB: ROUNDS scans of a cached/written feature table,
exactly how MLlib's LogisticRegression iterates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ROUNDS = 6
RIDGE = "1.0e-2"  # L2 damping: keeps the Hessian PD and Newton steps bounded
BQ = "1.0e9"  # beta fixed-point scale
CQ = "1.0e6"  # per-row contribution fixed-point scale

# Shared feature definition: identical text in both engines (the only
# per-dialect difference in this module is HOW it is attached to the
# events relation — groupBy in Spark, a CTE in the oracle).
FEAT_EXPRS = [
    (
        "x1",
        "CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)"
        " / 10.0e0",
    ),
    (
        "x2",
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)"
        " / 10.0e0",
    ),
    ("y", "CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)"),
]


def _fq(e: str) -> str:
    """Quantize a double expression to int64 at the contribution scale
    (floor(x*1e6 + 0.5) — round-half-up, identical in both engines)."""
    return f"CAST(floor(({e}) * {CQ} + 0.5e0) AS BIGINT)"


def _row_stages(b0: str, b1: str, b2: str) -> list[list[tuple[str, str]]]:
    """Per-row stages (each a list of (alias, expr) added on top of the
    carried columns): clipped logit, the 10-squaring exponential
    ladder, sigmoid p, and weight w."""
    st = [[("z", f"greatest(least({b0} + {b1} * x1 + {b2} * x2, 16.0e0), -16.0e0)")]]
    st.append([("t0", "1.0e0 + z / 1024.0e0")])
    for i in range(1, 11):
        st.append([(f"t{i}", f"t{i - 1} * t{i - 1}")])
    st.append([("p", "t10 / (1.0e0 + t10)")])
    st.append([("w", "p * (1.0e0 - p)")])
    return st


CONTRIB_EXPRS = [
    ("c00", _fq("w")),
    ("c01", _fq("w * x1")),
    ("c02", _fq("w * x2")),
    ("c11", _fq("w * x1 * x1")),
    ("c12", _fq("w * x1 * x2")),
    ("c22", _fq("w * x2 * x2")),
    ("r0", _fq("CAST(y AS DOUBLE) - p")),
    ("r1", _fq("(CAST(y AS DOUBLE) - p) * x1")),
    ("r2", _fq("(CAST(y AS DOUBLE) - p) * x2")),
]

MOMENT_EXPRS = [("n", "CAST(COUNT(*) AS BIGINT)")] + [
    (m, f"CAST(SUM({c}) AS BIGINT)")
    for m, c in [
        ("m00", "c00"),
        ("m01", "c01"),
        ("m02", "c02"),
        ("m11", "c11"),
        ("m12", "c12"),
        ("m22", "c22"),
        ("g0s", "r0"),
        ("g1s", "r1"),
        ("g2s", "r2"),
    ]
]


def _update_stages(b0: str, b1: str, b2: str) -> list[list[tuple[str, str]]]:
    """Ridge-damped Newton step on the 1-row moment relation: descale
    moments, symmetric 3x3 cofactor inverse, delta = H^-1 g, and the
    new beta re-quantized to int64 at 1e-9."""
    return [
        [
            ("a00", f"CAST(m00 AS DOUBLE) / {CQ} + {RIDGE}"),
            ("a01", f"CAST(m01 AS DOUBLE) / {CQ}"),
            ("a02", f"CAST(m02 AS DOUBLE) / {CQ}"),
            ("a11", f"CAST(m11 AS DOUBLE) / {CQ} + {RIDGE}"),
            ("a12", f"CAST(m12 AS DOUBLE) / {CQ}"),
            ("a22", f"CAST(m22 AS DOUBLE) / {CQ} + {RIDGE}"),
            ("g0", f"CAST(g0s AS DOUBLE) / {CQ} - {RIDGE} * {b0}"),
            ("g1", f"CAST(g1s AS DOUBLE) / {CQ} - {RIDGE} * {b1}"),
            ("g2", f"CAST(g2s AS DOUBLE) / {CQ} - {RIDGE} * {b2}"),
        ],
        [
            ("k00", "a11 * a22 - a12 * a12"),
            ("k01", "a01 * a22 - a12 * a02"),
            ("k02", "a01 * a12 - a11 * a02"),
            ("k11", "a00 * a22 - a02 * a02"),
            ("k12", "a00 * a12 - a01 * a02"),
            ("k22", "a00 * a11 - a01 * a01"),
        ],
        [("det", "a00 * k00 - a01 * k01 + a02 * k02")],
        [
            # nullif: a degenerate corpus can zero the Hessian
            # determinant — DuckDB's / yields NULL, Spark-ANSI throws;
            # portable identity-when-nonzero guard (r9 audit)
            ("d0", "(k00 * g0 - k01 * g1 + k02 * g2) / nullif(det, 0e0)"),
            ("d1", "((-k01) * g0 + k11 * g1 - k12 * g2) / nullif(det, 0e0)"),
            ("d2", "(k02 * g0 - k12 * g1 + k22 * g2) / nullif(det, 0e0)"),
        ],
        [
            ("bq0", f"CAST(floor(({b0} + d0) * {BQ} + 0.5e0) AS BIGINT)"),
            ("bq1", f"CAST(floor(({b1} + d1) * {BQ} + 0.5e0) AS BIGINT)"),
            ("bq2", f"CAST(floor(({b2} + d2) * {BQ} + 0.5e0) AS BIGINT)"),
        ],
    ]


STATS_EXPRS = [
    ("n_rows", "CAST(COUNT(*) AS BIGINT)"),
    (
        "n_correct",
        "CAST(SUM(CASE WHEN (CASE WHEN p >= 0.5e0 THEN 1 ELSE 0 END) = y"
        " THEN 1 ELSE 0 END) AS BIGINT)",
    ),
    (
        "brier_q6",
        "CAST(SUM(CAST(floor((CAST(y AS DOUBLE) - p) * (CAST(y AS DOUBLE) - p)"
        " * 1.0e6 + 0.5e0) AS BIGINT)) AS BIGINT)",
    ),
]


def _bref(bq: int | None) -> str:
    """Spark-side beta reference: the collected int64 spliced back as a
    literal, descaled by the same two ops the oracle uses on its CTE
    column (cast to double, one division) — identical value, identical
    tree. On EMPTY input the moment sums are NULL and so is the
    collected coefficient — splice a typed NULL, which propagates
    through every downstream expression exactly like the oracle's NULL
    CTE column does (r9 degenerate-input audit; NULL/0 is NULL under
    ANSI, no throw)."""
    if bq is None:
        return f"(CAST(NULL AS DOUBLE) / {BQ})"
    return f"(CAST({int(bq)} AS DOUBLE) / {BQ})"


def logreg_quality_irls(events: DataFrame) -> DataFrame:
    """One row: (n_rows, beta0, beta1, beta2, n_correct, accuracy,
    brier_q6) after ROUNDS Newton steps from beta = 0."""
    from pyspark.sql import functions as F

    # cut: every Newton round re-reads it; pin measured 27% slower
    # (1.72 -> 2.20 s at sf0.1) as each round's plan re-embeds the lineage
    feat = (
        events.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(*[F.expr(e).alias(a) for a, e in FEAT_EXPRS])
        .select("x1", "x2", "y")
        .localCheckpoint(eager=True)
    )
    bq = (0, 0, 0)
    for _ in range(ROUNDS):
        refs = tuple(_bref(b) for b in bq)
        cur = feat
        for stage in _row_stages(*refs):
            cur = cur.selectExpr("*", *[f"({e}) AS {a}" for a, e in stage])
        cur = cur.selectExpr(*[f"({e}) AS {a}" for a, e in CONTRIB_EXPRS])
        cur = cur.selectExpr(*[f"({e}) AS {a}" for a, e in MOMENT_EXPRS])
        for stage in _update_stages(*refs):
            cur = cur.selectExpr("*", *[f"({e}) AS {a}" for a, e in stage])
        row = cur.selectExpr("bq0", "bq1", "bq2").first()
        bq = (row["bq0"], row["bq1"], row["bq2"])
    refs = tuple(_bref(b) for b in bq)
    cur = feat
    for stage in _row_stages(*refs):
        cur = cur.selectExpr("*", *[f"({e}) AS {a}" for a, e in stage])
    cur = cur.selectExpr(*[f"({e}) AS {a}" for a, e in STATS_EXPRS])
    return cur.selectExpr(
        "n_rows",
        f"{refs[0]} AS beta0",
        f"{refs[1]} AS beta1",
        f"{refs[2]} AS beta2",
        "n_correct",
        "CAST(n_correct AS DOUBLE) / CAST(n_rows AS DOUBLE) AS accuracy",
        "brier_q6",
    )


def _cte_chain(base: str, prefix: str, stages: list[list[tuple[str, str]]]) -> tuple[list[str], str]:
    """Chained SELECT *, ... CTEs applying the shared stage lists."""
    ctes, prev = [], base
    for i, stage in enumerate(stages):
        name = f"{prefix}_{i}"
        cols = ", ".join(f"({e}) AS {a}" for a, e in stage)
        ctes.append(f"{name} AS (SELECT *, {cols} FROM {prev})")
        prev = name
    return ctes, prev


def logreg_oracle_sql() -> str:
    """Chained-CTE DuckDB replica: the SAME stage texts, with beta
    referenced from the previous round's beta CTE instead of spliced
    literals (equal int64 -> equal double -> equal everything)."""
    oref = tuple(f"(CAST(bq{i} AS DOUBLE) / {BQ})" for i in range(3))
    feat_cols = ", ".join(f"({e}) AS {a}" for a, e in FEAT_EXPRS)
    ctes = [
        f"feat AS (SELECT {feat_cols} FROM events"
        " GROUP BY user_id, CAST(ts AS DATE))",
        "beta_0 AS (SELECT CAST(0 AS BIGINT) AS bq0, CAST(0 AS BIGINT) AS bq1,"
        " CAST(0 AS BIGINT) AS bq2)",
    ]
    for k in range(1, ROUNDS + 1):
        base = f"r{k}_base"
        ctes.append(
            f"{base} AS (SELECT f.*, b.bq0, b.bq1, b.bq2"
            f" FROM feat f CROSS JOIN beta_{k - 1} b)"
        )
        row_ctes, prev = _cte_chain(base, f"r{k}_row", _row_stages(*oref))
        ctes.extend(row_ctes)
        contrib = ", ".join(f"({e}) AS {a}" for a, e in CONTRIB_EXPRS)
        ctes.append(f"r{k}_c AS (SELECT {contrib} FROM {prev})")
        moments = ", ".join(f"({e}) AS {a}" for a, e in MOMENT_EXPRS)
        ctes.append(f"r{k}_m AS (SELECT {moments} FROM r{k}_c)")
        # the update stage re-aliases bq0..2; carry the previous betas
        # under pbq* names so the final SELECT bq0 is unambiguous
        ctes.append(
            f"r{k}_u AS (SELECT m.*, b.bq0 AS pbq0, b.bq1 AS pbq1, b.bq2 AS pbq2"
            f" FROM r{k}_m m CROSS JOIN beta_{k - 1} b)"
        )
        pref = tuple(f"(CAST(pbq{i} AS DOUBLE) / {BQ})" for i in range(3))
        upd_ctes, prev = _cte_chain(f"r{k}_u", f"r{k}_upd", _update_stages(*pref))
        ctes.extend(upd_ctes)
        ctes.append(f"beta_{k} AS (SELECT bq0, bq1, bq2 FROM {prev})")
    ctes.append(
        f"fin_base AS (SELECT f.*, b.bq0, b.bq1, b.bq2"
        f" FROM feat f CROSS JOIN beta_{ROUNDS} b)"
    )
    row_ctes, prev = _cte_chain("fin_base", "fin_row", _row_stages(*oref))
    ctes.extend(row_ctes)
    stats = ", ".join(f"({e}) AS {a}" for a, e in STATS_EXPRS)
    ctes.append(f"fin_s AS (SELECT {stats} FROM {prev})")
    chain = ",\n".join(ctes)
    return f"""WITH {chain}
SELECT s.n_rows,
       (CAST(b.bq0 AS DOUBLE) / {BQ}) AS beta0,
       (CAST(b.bq1 AS DOUBLE) / {BQ}) AS beta1,
       (CAST(b.bq2 AS DOUBLE) / {BQ}) AS beta2,
       s.n_correct,
       CAST(s.n_correct AS DOUBLE) / CAST(s.n_rows AS DOUBLE) AS accuracy,
       s.brier_q6
FROM fin_s s CROSS JOIN beta_{ROUNDS} b"""
