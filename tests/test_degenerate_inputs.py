"""Degenerate-input (empty table) behavior — the r9 audit class.

An empty input is not hypothetical at 100 TB: a date-pruned partition,
a filtered source, or a fresh ingest root all produce zero-row frames
through the same plans. The contract, established by the r8 ADVICE
hilbert fix and swept registry-wide in r9 (the audit's per-query
record: `git show 57cc720:EMPTY_AUDIT_r9.txt`):

- transforms/aggregations return exactly what the DuckDB oracle
  returns on the same empty tables (empty frame, or a 1-row aggregate
  with NULL estimates), never a driver-side TypeError/IndexError or an
  ANSI throw;
- trained models / streaming protocol runners raise an EXPLICIT
  ValueError naming the precondition (a model trained on nothing is
  undefined — failing loudly with a clear message is the contract);
- Spark's cube/rollup/grouping-sets emit NO grand-total row on empty
  input where ANSI (and DuckDB) emit one — an engine-level semantic
  difference, pinned here so a Spark upgrade that changes it is
  noticed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _empty(spark, schema: str):
    return spark.createDataFrame([], schema)


def test_scaled_morton_empty_returns_typed_column(spark):
    from p6__mapreduce_spark.functions.zorder import scaled_morton

    df = _empty(spark, "o_orderkey long, a long, b long")
    out = df.select("o_orderkey", scaled_morton(df, "a", "b").alias("zcode"))
    assert out.count() == 0
    assert dict(out.dtypes)["zcode"] == "bigint"


def test_stable_dense_ids_empty(spark):
    from p6__mapreduce_spark.operators.pipeline import stable_dense_ids

    out = stable_dense_ids(_empty(spark, "doc_id long, text string"))
    assert out.columns == ["doc_id", "stable_id"]
    assert out.count() == 0


def test_logreg_empty_matches_oracle_shape(spark):
    """1 row: n_rows = 0, every estimate NULL (the oracle's NULL CTE
    coefficients propagate the same way)."""
    from p6__mapreduce_spark.operators.logreg import logreg_quality_irls

    row = logreg_quality_irls(
        _empty(spark, "event_id long, user_id long, ts timestamp, value double, event_type string")
    ).collect()[0]
    assert row["n_rows"] == 0
    for c in ("beta0", "beta1", "beta2", "n_correct", "accuracy", "brier_q6"):
        assert row[c] is None, c


def test_huber_empty_matches_oracle_shape(spark):
    from p6__mapreduce_spark.operators.robust import huber_regression_daily

    row = huber_regression_daily(
        _empty(spark, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp, o_orderstatus string, o_orderpriority string")
    ).collect()[0]
    assert row["n_days"] == 0
    for c in ("a_huber", "b_huber", "a_ols", "b_ols", "eff_weight"):
        assert row[c] is None, c


def test_hilbert_empty(spark):
    from p6__mapreduce_spark.functions.hilbert import hilbert_df

    out = hilbert_df(_empty(spark, "k long, a long, b long"), "k", "a", "b")
    assert out.columns == ["k", "hcode"] and out.count() == 0


def test_kmeans_training_empty_raises_explicit(spark):
    from p6__mapreduce_spark.similarity.kmeans import lloyd_train

    q = _empty(spark, "vec_id long, e array<long>")
    with pytest.raises(ValueError, match="need k="):
        lloyd_train(q, k=8, iters=1)
    with pytest.raises(ValueError, match="need k="):
        lloyd_train(q, k=8, iters=1, init_smallest_k=True)


def test_centroid_training_empty_raises_explicit(spark):
    from p6__mapreduce_spark.similarity.ivf import train_centroids

    with pytest.raises(ValueError, match="non-empty embeddings"):
        train_centroids(_empty(spark, "vec_id long, embedding array<double>"))


def test_minhash_geometry_probe_empty_qualifies_is_boolean(spark):
    """SUM over zero pairs must COALESCE to 0 (as the oracle does) so
    `qualifies` stays boolean instead of NULL."""
    from p6__mapreduce_spark.dedup.geometry import recommend_minhash_geometry

    rows = recommend_minhash_geometry(
        _empty(spark, "doc_id long, text string")
    ).collect()
    assert len(rows) == 5
    assert all(r["sum_admit_q6"] == 0 for r in rows)
    assert all(r["qualifies"] in (True, False) for r in rows)
    assert sum(1 for r in rows if r["recommended"]) == 1


def test_spark_grouping_sets_empty_input_divergence_pinned(spark):
    """Spark emits NO grand-total row for cube/rollup/grouping-sets on
    an empty input; ANSI SQL (and DuckDB) emit one ((), COUNT=0). The
    engine difference is documented in the r9 empty-input audit
    (`git show 57cc720:EMPTY_AUDIT_r9.txt`) — this pin fails if a Spark
    upgrade changes the behavior, so the three affected queries get
    revisited."""
    spark.createDataFrame([], "a string, b string").createOrReplaceTempView(
        "_empty_gs"
    )
    for q in (
        "SELECT a, COUNT(*) c FROM _empty_gs GROUP BY CUBE(a)",
        "SELECT a, COUNT(*) c FROM _empty_gs GROUP BY ROLLUP(a)",
        "SELECT a, COUNT(*) c FROM _empty_gs GROUP BY GROUPING SETS ((a), ())",
    ):
        assert spark.sql(q).count() == 0, q


# --- one-row / degenerate-group class (the r9 one-row sweep) ---------------
# A single row per table is the zero-variance / one-class / det=0 regime:
# every ratio whose denominator is a variance, a class count, or a
# determinant hits 0. DuckDB's `/` yields NULL there; Spark-4 ANSI
# throws DIVIDE_BY_ZERO for EVERY numeric type (including doubles —
# probed), so each of these sites uses try_divide (Python side) or
# `/ nullif(d, 0e0)` (shared SQL texts, portable to both engines).


def test_corr_single_row_group_is_null(spark):
    """Zero variance (n = 1) -> corr NULL, not an ANSI throw."""
    from p6__mapreduce_spark.queries import QUERIES

    li = spark.createDataFrame(
        [(1, "N", 4.0, 0.07)],
        "l_orderkey long, l_returnflag string, l_quantity double, l_discount double",
    )
    li.createOrReplaceTempView("_corr_one")
    one = spark.table("_corr_one")
    # drive the registered callable through a 1-row parquet-free path
    from pyspark.sql import functions as F

    m = one.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    corr = F.try_divide(
        d("n") * d("sxy") - d("sx") * d("sy"),
        F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
        * F.sqrt(d("n") * d("syy") - d("sy") * d("sy")),
    )
    row = (
        m.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .select(corr.alias("corr_qd"))
        .collect()[0]
    )
    assert row["corr_qd"] is None


def test_roc_auc_one_class_is_null(spark):
    """All-one-class corpus: tpr and auc are NULL (0/0), fpr defined."""
    from p6__mapreduce_spark.operators.evaluate import mann_whitney_auc, roc_curve_points
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "one doc", "de")], "doc_id long, text string, lang string"
    ).withColumn("n_chars", F.length("text"))
    roc = roc_curve_points(
        docs, F.col("n_chars").cast("long"), F.col("lang") == "en"
    ).collect()
    assert all(r["tpr"] is None for r in roc)  # 0 positives
    auc = mann_whitney_auc(
        docs, F.col("n_chars").cast("long"), F.col("lang") == "en"
    ).collect()[0]
    assert auc["n_pos"] == 0 and auc["auc"] is None


def test_huber_single_day_nulls_not_throw(spark):
    """One day: det = 0 -> NULL coefficients via the portable nullif
    guard in the shared stage text (same text runs in DuckDB)."""
    from p6__mapreduce_spark.operators.robust import huber_regression_daily

    orders = spark.createDataFrame(
        [(1, 10, 100.0, "2024-01-02T00:00:00", "O", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string, o_orderstatus string, o_orderpriority string",
    ).withColumn("o_orderdate", __import__("pyspark.sql.functions", fromlist=["col"]).col("o_orderdate").cast("timestamp"))
    row = huber_regression_daily(orders).collect()[0]
    assert row["n_days"] == 1
    assert row["a_ols"] is None and row["b_ols"] is None


def test_pq_training_insufficient_vectors_raises_explicit(spark):
    from p6__mapreduce_spark.similarity.pq import pq_codes

    emb = spark.createDataFrame(
        [(0, [0.1] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="need k="):
        pq_codes(emb).collect()


# --- all-ties class (the r9 ties sweep: distinct keys, identical values) ----


def test_burstiness_all_simultaneous_arrivals_is_null(spark):
    """Same-timestamp arrivals: every gap is 0, mean gap 0 -> Fano
    0/0 -> NULL (DuckDB behavior), not an ANSI throw."""
    from p6__mapreduce_spark.queries import QUERIES  # noqa: F401 — registry import side effects
    from pyspark.sql import functions as F, Window

    ev = spark.createDataFrame(
        [(i, 7, "2024-01-01T10:00:00", "click", 1.0) for i in range(4)],
        "event_id long, user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_mh = F.floor(
        (us - F.lag(us).over(w)) / F.lit(3600.0 * 1e6) * F.lit(1000) + F.lit(0.5)
    ).cast("long")
    g = ev.select("event_type", gap_mh.alias("gap_mh")).filter(
        F.col("gap_mh").isNotNull()
    )
    mean = F.col("sum_mh") * F.lit(1.0) / F.col("n_gaps")
    row = (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_mh").alias("sum_mh"),
            F.sum(F.col("gap_mh") * F.col("gap_mh")).alias("sumsq_mh"),
        )
        .select(
            F.try_divide(
                F.col("sumsq_mh") * F.lit(1.0) / F.col("n_gaps") - mean * mean, mean
            ).alias("fano_mh")
        )
        .collect()[0]
    )
    assert row["fano_mh"] is None


def test_hilbert_and_zorder_all_null_axis_match_oracle(spark):
    """r9 ADVICE #1: a NON-empty table whose a-column is entirely NULL
    must not be swallowed by the empty-input guard. The oracle's
    scalar-subquery MIN is NULL and propagates through the shared
    expression ladder, so both engines keep all n rows — hilbert's
    CASE ladder collapses the NULL axis to b-derived codes (identical
    three-valued logic both sides), scaled_morton yields NULL codes.
    Verified live against DuckDB here, not just argued."""
    import duckdb

    from p6__mapreduce_spark.functions.hilbert import hilbert_df, hilbert_oracle_sql
    from p6__mapreduce_spark.functions.zorder import (
        scaled_morton,
        scaled_morton_oracle_expr,
    )

    for rows in (
        [(1, None, 10), (2, None, 20), (3, None, 30)],  # all-NULL axis
        [(1, 5, 10), (2, None, 20), (3, 9, 30)],  # partial-NULL
    ):
        df = spark.createDataFrame(rows, "k long, a long, b long")
        con = duckdb.connect()
        con.execute("CREATE TABLE t (k BIGINT, a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO t VALUES (?,?,?)", rows)

        got_h = [(r.k, r.hcode) for r in hilbert_df(df, "k", "a", "b").orderBy("k").collect()]
        want_h = con.sql(hilbert_oracle_sql("t", "k", "a", "b")).fetchall()
        assert got_h == [tuple(r) for r in want_h]
        assert len(got_h) == len(rows)  # rows kept, not dropped

        got_z = [
            (r.k, r.z)
            for r in df.select("k", scaled_morton(df, "a", "b").alias("z")).orderBy("k").collect()
        ]
        want_z = con.sql(
            f"SELECT k, {scaled_morton_oracle_expr('a', 'b', 't')} AS z FROM t ORDER BY k"
        ).fetchall()
        assert got_z == [tuple(r) for r in want_z]
        con.close()
