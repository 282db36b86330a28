"""PII detection and redaction — regex scrubbing for training corpora.

The standard pre-release pass over a text corpus: find and mask
emails, phone numbers, SSN-shaped ids, and IP addresses before the
data reaches a training run. Everything is ``regexp_extract_all`` /
``regexp_replace`` column expressions — JVM-side, whole-stage codegen,
linear in input size, trivially parallel at 100 TB (no shuffle at
all: detection and redaction are pure map operators).

The synthetic test corpus contains no PII (counts are all zero there),
so the operator's behavior is pinned by unit tests with planted
values (tests/test_pipeline.py) rather than a registry oracle entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Order matters for redaction: email before phone so the digits inside
# an already-masked token cannot re-match. Patterns use only syntax
# with identical semantics in Java regex and RE2 (no backrefs, no
# lookaround), so the same strings work in DuckDB regexp_* oracles.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"(?:\+\d{1,3}[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append one ``n_<kind>`` match-count column per PII pattern plus
    ``n_pii`` (their sum) — the triage pass that decides which
    documents need redaction or quarantine."""
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).cast("long"),
        )
    total = None
    for kind in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return out.withColumn("n_pii", total)


def redact_pii(df: DataFrame, text_col: str = "text", out_col: str | None = None) -> DataFrame:
    """Replace every PII match with a typed mask token (``[EMAIL]``,
    ``[SSN]``, ...). Masks are applied in PII_PATTERNS order so earlier
    masks cannot be re-matched by later (digit-hungry) patterns."""
    expr = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        expr = F.regexp_replace(expr, pat, f"[{kind.upper()}]")
    return df.withColumn(out_col or text_col, expr)


K_ANON = 3
BASE_WIDTH = 100.0  # finest balance-bucket width (dollars)
LADDER = 8  # widths 100 * 2^j, j = 0..7


def k_anon_generalization(customer: DataFrame, *, k: int = K_ANON) -> DataFrame:
    """Generalization-ladder search for the coarsest-necessary
    quasi-identifier: `k_anonymity_audit` MEASURES the risk at one
    bucketing; this finds the finest balance-bucket width whose
    equivalence classes all reach size k (Samarati 2001's
    generalization lattice, walked on one attribute) — the number a
    release policy actually needs ("publish at $400 granularity, not
    $100").

    One corpus aggregation builds the FINEST class table; every
    coarser width then derives by integer-halving the finest bucket id
    (floor(floor(x/a)/b) = floor(x/ab) — exact for any sign), so the
    whole 8-width ladder re-aggregates a BOUNDED relation, never the
    corpus. All counts exact int64; risk_ratio is one final division.

    Output: one row per width — (width, n_classes, min_class_size,
    rows_at_risk (in classes smaller than k), risk_ratio, meets_k,
    is_chosen (the finest width meeting k; all-false if none does))."""
    # cut: pin measured 0.86 -> 1.29 s at sf0.1 (k_anon_generalization, 0/5 pin wins)
    fine = (
        customer.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(BASE_WIDTH)).cast("long").alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)  # the 8-width ladder fans out
    )
    per_width = None
    for j in range(LADDER):
        div = float(1 << j)
        classes = fine.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("b").cast("double") / F.lit(div)).cast("long").alias("bj"),
        ).agg(F.sum("n").cast("long").alias("cn"))
        stats = classes.agg(
            F.lit(int(BASE_WIDTH * div)).cast("long").alias("width"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("cn").cast("long").alias("min_class_size"),
            F.sum(F.when(F.col("cn") < int(k), F.col("cn")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_at_risk"),
            F.sum("cn").cast("long").alias("n_rows"),
        )
        per_width = stats if per_width is None else per_width.unionAll(stats)
    chosen = per_width.filter(F.col("min_class_size") >= int(k)).agg(
        F.min("width").cast("long").alias("chosen_width")
    )
    return (
        per_width.crossJoin(F.broadcast(chosen))  # 1-row scalar broadcast (labeled)
        .select(
            "width",
            "n_classes",
            "min_class_size",
            "rows_at_risk",
            (F.col("rows_at_risk").cast("double") / F.col("n_rows").cast("double")).alias(
                "risk_ratio"
            ),
            (F.col("min_class_size") >= int(k)).alias("meets_k"),
            F.coalesce(
                F.col("width") == F.col("chosen_width"), F.lit(False)
            ).alias("is_chosen"),
        )
        .orderBy("width")
    )


KANON_GEN_ORACLE_SQL = """
WITH fine AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / {base}) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2, 3
), per_width AS (
  {widths}
), chosen AS (
  SELECT CAST(MIN(width) AS BIGINT) AS chosen_width
  FROM per_width WHERE min_class_size >= {k}
)
SELECT width, n_classes, min_class_size, rows_at_risk,
       CAST(rows_at_risk AS DOUBLE) / CAST(n_rows AS DOUBLE) AS risk_ratio,
       min_class_size >= {k} AS meets_k,
       COALESCE(width = chosen.chosen_width, FALSE) AS is_chosen
FROM per_width CROSS JOIN chosen
ORDER BY width
"""

KANON_WIDTH_SQL = """
  SELECT CAST({width} AS BIGINT) AS width,
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(cn) AS BIGINT) AS min_class_size,
         CAST(SUM(CASE WHEN cn < {k} THEN cn ELSE 0 END) AS BIGINT) AS rows_at_risk,
         CAST(SUM(cn) AS BIGINT) AS n_rows
  FROM (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(CAST(b AS DOUBLE) / {div}) AS BIGINT) AS bj,
           CAST(SUM(n) AS BIGINT) AS cn
    FROM fine GROUP BY 1, 2, 3
  )
"""


def kanon_gen_oracle_sql(k: int = K_ANON) -> str:
    widths = "\n  UNION ALL\n".join(
        KANON_WIDTH_SQL.format(
            width=int(BASE_WIDTH * (1 << j)), div=float(1 << j), k=int(k)
        )
        for j in range(LADDER)
    )
    return KANON_GEN_ORACLE_SQL.format(base=BASE_WIDTH, widths=widths, k=int(k))
