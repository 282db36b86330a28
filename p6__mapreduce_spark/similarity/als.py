"""Alternating least squares matrix factorization (rank 2) over the
customer x part purchase matrix — the collaborative-filtering /
embedding-training primitive (Koren-Bell-Volinsky 2009; Spark MLlib's
ALS), made exactly cross-engine reproducible.

ALS is the canonical "factorize a 100 TB interaction matrix" workload:
each half-step solves an independent tiny least-squares system PER
ENTITY, so the whole sweep is one join + one grouped aggregation —
embarrassingly parallel, no gradient synchronization. At rank 2 the
per-entity normal equations are a closed-form 2x2 Cramer solve, which
keeps every step inside plain SQL expressions.

Exactness discipline (the `operators/logreg.py` construction, lifted
from a global solve to per-group solves):

* factors live as int64 at 1e-6 between half-steps (`qq1, qq2`);
* each rating's normal-equation contributions (q1^2, q1*q2, q2^2,
  r*q1, r*q2) are computed in doubles from the quantized factors and
  re-quantized to int64 PER ROW, so per-entity sums are exact integer
  aggregations — partition order can't move them;
* the 2x2 solve is a fixed-shape double expression over those int64
  moments;
* every arithmetic stage is ONE generated SQL text (`_derive_stage`,
  `_contrib_exprs`, `_moment_exprs`, `_solve_stages`) run verbatim by
  Spark and the chained-CTE DuckDB oracle.

Unlike `operators/logreg.py` (whose iteration state is 3 scalars),
the iteration state here is two bounded RELATIONS (user factors, item
factors) — nothing is ever collected to the driver; the oracle replays
all four half-steps as CTEs over the same relations.

Init is deterministic and data-defined: q = (1, ((i % 201) - 100)/100)
— the second coordinate spreads items across [-1, 1] so the rank-2
space doesn't start degenerate (a shared-text integer expression, no
RNG).

Scale shape per half-step: join ratings (corpus-sized, the only big
relation) against the bounded factor table — AQE broadcasts factors
while small, sort-merge at extreme item counts — then one grouped
aggregation keyed by the entity being solved; the solve itself is a
map over the entity table. localCheckpoint pins each factor relation
(bounded: one row per entity) so the 4-half-step lineage stays flat —
at 100 TB these become written intermediates, same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SWEEPS = 2  # full ALS sweeps (user step + item step each)
LAMBDA = "1.0e-1"  # ridge regularizer text (shared verbatim)
FQ = "1.0e6"  # factor / contribution fixed-point scale
TOPN = 20  # reported item factors (smallest part keys)

RATINGS_SQL = (
    "SELECT o_custkey AS u, l_partkey AS i, CAST(COUNT(*) AS BIGINT) AS r"
    " FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2"
)

INIT_ITEM_EXPRS = [
    ("qq1", "CAST(1000000 AS BIGINT)"),
    ("qq2", "CAST((i % 201 - 100) * 10000 AS BIGINT)"),
]


def _derive_stage(src1: str, src2: str) -> list[tuple[str, str]]:
    """Descale the joined factor columns to doubles."""
    return [
        ("f1", f"CAST({src1} AS DOUBLE) / {FQ}"),
        ("f2", f"CAST({src2} AS DOUBLE) / {FQ}"),
    ]


def _fq(e: str) -> str:
    return f"CAST(floor(({e}) * {FQ} + 0.5e0) AS BIGINT)"


CONTRIB_EXPRS = [
    ("c11", _fq("f1 * f1")),
    ("c12", _fq("f1 * f2")),
    ("c22", _fq("f2 * f2")),
    ("cb1", _fq("CAST(r AS DOUBLE) * f1")),
    ("cb2", _fq("CAST(r AS DOUBLE) * f2")),
]

MOMENT_EXPRS = [
    ("m11", "CAST(SUM(c11) AS BIGINT)"),
    ("m12", "CAST(SUM(c12) AS BIGINT)"),
    ("m22", "CAST(SUM(c22) AS BIGINT)"),
    ("b1s", "CAST(SUM(cb1) AS BIGINT)"),
    ("b2s", "CAST(SUM(cb2) AS BIGINT)"),
]


def _solve_stages() -> list[list[tuple[str, str]]]:
    """Per-entity ridge-damped 2x2 Cramer solve on the int64 moments,
    new factors re-quantized to int64 at 1e-6."""
    return [
        [
            ("a11", f"CAST(m11 AS DOUBLE) / {FQ} + {LAMBDA}"),
            ("a12", f"CAST(m12 AS DOUBLE) / {FQ}"),
            ("a22", f"CAST(m22 AS DOUBLE) / {FQ} + {LAMBDA}"),
            ("bb1", f"CAST(b1s AS DOUBLE) / {FQ}"),
            ("bb2", f"CAST(b2s AS DOUBLE) / {FQ}"),
        ],
        [("det", "a11 * a22 - a12 * a12")],
        [
            ("n1", "(a22 * bb1 - a12 * bb2) / det"),
            ("n2", "(a11 * bb2 - a12 * bb1) / det"),
        ],
        [(("nq1"), _fq("n1")), (("nq2"), _fq("n2"))],
    ]


ERR_EXPR = (
    "CAST(floor((CAST(r AS DOUBLE) - (pf1 * qf1 + pf2 * qf2))"
    " * (CAST(r AS DOUBLE) - (pf1 * qf1 + pf2 * qf2)) * 1.0e6 + 0.5e0) AS BIGINT)"
)


def _half_step_spark(ratings: DataFrame, factors: DataFrame, key: str, other: str) -> DataFrame:
    """Solve for ``key``'s factors given ``other``'s (both engines run
    the same stage texts; only the join/groupBy plumbing is API)."""
    from pyspark.sql import functions as F

    joined = ratings.join(factors.withColumnRenamed("e", other), other)
    cur = joined
    for a, e in _derive_stage("qq1", "qq2"):
        cur = cur.selectExpr("*", f"({e}) AS {a}")
    cur = cur.selectExpr(key, *[f"({e}) AS {a}" for a, e in CONTRIB_EXPRS])
    cur = cur.groupBy(key).agg(
        *[F.expr(e).alias(a) for a, e in MOMENT_EXPRS]
    )
    for stage in _solve_stages():
        cur = cur.selectExpr("*", *[f"({e}) AS {a}" for a, e in stage])
    # cut: per-sweep factor state, re-read by the next half-step
    return cur.selectExpr(f"{key} AS e", "nq1 AS qq1", "nq2 AS qq2").localCheckpoint(
        eager=True
    )


def als_factorization(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """SWEEPS alternating sweeps; returns the TOPN smallest part keys'
    factors beside the global fit summary (replicated columns — one
    hash-stable relation)."""
    from pyspark.sql import functions as F

    ratings = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .groupBy(
            orders["o_custkey"].alias("u"), lineitem["l_partkey"].alias("i")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
        .localCheckpoint(eager=True)  # cut: every half-step re-reads it
    )
    q = (
        ratings.select("i")
        .distinct()
        .selectExpr("i AS e", *[f"({e}) AS {a}" for a, e in INIT_ITEM_EXPRS])
        .localCheckpoint(eager=True)  # cut: round-0 factor state
    )
    p = None
    for _ in range(SWEEPS):
        p = _half_step_spark(ratings, q, "u", "i")
        q = _half_step_spark(ratings, p, "i", "u")
    pf = p.selectExpr(
        "e AS u",
        f"CAST(qq1 AS DOUBLE) / {FQ} AS pf1",
        f"CAST(qq2 AS DOUBLE) / {FQ} AS pf2",
    )
    qf = q.selectExpr(
        "e AS i",
        f"CAST(qq1 AS DOUBLE) / {FQ} AS qf1",
        f"CAST(qq2 AS DOUBLE) / {FQ} AS qf2",
    )
    summary = (
        ratings.join(pf, "u")
        .join(qf, "i")
        .selectExpr("u", "i", f"({ERR_EXPR}) AS e2")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_ratings"),
            F.expr("CAST(COUNT(DISTINCT u) AS BIGINT)").alias("n_users"),
            F.expr("CAST(COUNT(DISTINCT i) AS BIGINT)").alias("n_items"),
            F.expr("CAST(SUM(e2) AS BIGINT)").alias("sse_q6"),
        )
        .selectExpr(
            "*",
            "sqrt(CAST(sse_q6 AS DOUBLE) / 1.0e6 / CAST(n_ratings AS DOUBLE))"
            " AS rmse",
        )
    )
    top = q.selectExpr(
        "e AS i",
        "qq1",
        "qq2",
        f"CAST(qq1 AS DOUBLE) / {FQ} AS q1",
        f"CAST(qq2 AS DOUBLE) / {FQ} AS q2",
    ).orderBy("i").limit(TOPN)
    return top.crossJoin(F.broadcast(summary)).orderBy("i")


def _half_step_sql(t: int, key: str, other: str, factors: str) -> list[str]:
    """CTE text for one half-step solving ``key`` from ``factors``."""
    derive = ", ".join(f"({e}) AS {a}" for a, e in _derive_stage("qq1", "qq2"))
    contrib = ", ".join(f"({e}) AS {a}" for a, e in CONTRIB_EXPRS)
    moments = ", ".join(f"({e}) AS {a}" for a, e in MOMENT_EXPRS)
    ctes = [
        f"hj_{t} AS (SELECT r.*, f.qq1, f.qq2 FROM ratings r"
        f" JOIN {factors} f ON r.{other} = f.e)",
        f"hd_{t} AS (SELECT *, {derive} FROM hj_{t})",
        f"hc_{t} AS (SELECT {key}, {contrib} FROM hd_{t})",
        f"hm_{t} AS (SELECT {key}, {moments} FROM hc_{t} GROUP BY {key})",
    ]
    prev = f"hm_{t}"
    for si, stage in enumerate(_solve_stages()):
        cols = ", ".join(f"({e}) AS {a}" for a, e in stage)
        ctes.append(f"hs_{t}_{si} AS (SELECT *, {cols} FROM {prev})")
        prev = f"hs_{t}_{si}"
    ctes.append(f"f_{t} AS (SELECT {key} AS e, nq1 AS qq1, nq2 AS qq2 FROM {prev})")
    return ctes


def als_oracle_sql() -> str:
    init = ", ".join(f"({e}) AS {a}" for a, e in INIT_ITEM_EXPRS)
    ctes = [
        f"ratings AS ({RATINGS_SQL})",
        f"f_0 AS (SELECT i AS e, {init} FROM (SELECT DISTINCT i FROM ratings))",
    ]
    t = 0
    for _ in range(SWEEPS):
        ctes.extend(_half_step_sql(t + 1, "u", "i", f"f_{t}"))
        ctes.extend(_half_step_sql(t + 2, "i", "u", f"f_{t + 1}"))
        t += 2
    ctes.append(
        f"pf AS (SELECT e AS u, CAST(qq1 AS DOUBLE) / {FQ} AS pf1,"
        f" CAST(qq2 AS DOUBLE) / {FQ} AS pf2 FROM f_{t - 1})"
    )
    ctes.append(
        f"qf AS (SELECT e AS i, CAST(qq1 AS DOUBLE) / {FQ} AS qf1,"
        f" CAST(qq2 AS DOUBLE) / {FQ} AS qf2 FROM f_{t})"
    )
    ctes.append(
        "err AS (SELECT r.u, r.i, "
        f"({ERR_EXPR}) AS e2"
        " FROM ratings r JOIN pf ON r.u = pf.u JOIN qf ON r.i = qf.i)"
    )
    ctes.append(
        "summ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ratings,"
        " CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,"
        " CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items,"
        " CAST(SUM(e2) AS BIGINT) AS sse_q6 FROM err)"
    )
    ctes.append(
        f"top AS (SELECT e AS i, qq1, qq2, CAST(qq1 AS DOUBLE) / {FQ} AS q1,"
        f" CAST(qq2 AS DOUBLE) / {FQ} AS q2 FROM f_{t} ORDER BY e LIMIT {TOPN})"
    )
    chain = ",\n".join(ctes)
    return f"""WITH {chain}
SELECT top.i, top.qq1, top.qq2, top.q1, top.q2,
       summ.n_ratings, summ.n_users, summ.n_items, summ.sse_q6,
       sqrt(CAST(summ.sse_q6 AS DOUBLE) / 1.0e6 / CAST(summ.n_ratings AS DOUBLE)) AS rmse
FROM top CROSS JOIN summ ORDER BY top.i"""
