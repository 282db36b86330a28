#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at a given sf dir, runs the matching
``oracle_sql()`` in DuckDB over the same parquet tables, and compares
the way the driver does: BOTH results go through pandas (Spark
``toPandas()`` vs DuckDB ``.df()``), columns sorted by name, rows
sorted by all columns, then an order-insensitive hash over the
*rendered* values. The render is dtype-sensitive on purpose — DuckDB
HUGEINT materializes as float64 ("1.233e+11"-style) while Spark BIGINT
is int64, and the driver's hash treats those as different even when
numerically equal. Going through pandas here means local green
predicts driver green.

On a hash mismatch the script additionally runs a numeric-equality
diff so the report says whether values are actually wrong or only
dtype-rendered differently.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: columns sorted by name, rows
    sorted by every column. Raises (like the driver) on unsortable
    cells such as list-valued columns."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def value_hash(pdf: pd.DataFrame) -> str:
    """Hash of the pandas-rendered cell values — dtype-sensitive
    (int64 123 renders "123", float64 renders "123.0")."""
    h = hashlib.sha256()
    h.update(pdf.to_csv(index=False).encode())
    return h.hexdigest()


def _num_eq(a, b) -> bool:
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            return fa == fb or (math.isnan(fa) and math.isnan(fb))
        except (TypeError, ValueError):
            return False
    return a == b


def compare(name: str, spark_df, con, sql: str | None) -> str:
    if sql is None:
        return f"{name}: FAIL no oracle"
    t0 = time.time()
    spdf = spark_df.toPandas()
    t_spark = time.time() - t0
    opdf = con.sql(sql).df()
    msgs = []
    if len(spdf) != len(opdf):
        msgs.append(f"ROWCOUNT spark={len(spdf)} oracle={len(opdf)}")
    sc, oc = sorted(spdf.columns), sorted(opdf.columns)
    if sc != oc:
        msgs.append(f"COLS spark={sc} oracle={oc}")
    if not msgs:
        s_canon, o_canon = canon_pdf(spdf), canon_pdf(opdf)
        if value_hash(s_canon) != value_hash(o_canon):
            detail = "values numerically EQUAL (dtype/render mismatch"
            sd, od = dict(s_canon.dtypes.astype(str)), dict(o_canon.dtypes.astype(str))
            dt = {c: (sd[c], od[c]) for c in sd if sd[c] != od[c]}
            bad = 0
            example = None
            for r1, r2 in zip(s_canon.itertuples(index=False), o_canon.itertuples(index=False)):
                for v1, v2 in zip(r1, r2):
                    if not _num_eq(v1, v2):
                        bad += 1
                        if example is None:
                            example = (v1, v2)
                        break
            if bad:
                detail = f"VALUES differ in {bad}/{len(s_canon)} rows, e.g. {example} (dtypes"
            msgs.append(f"HASH {detail} {dt or ''})")
    status = "OK" if not msgs else "FAIL " + "; ".join(msgs)
    return f"{name}: {status} [{len(spdf)} rows, {t_spark:.1f}s]"


def passed(line: str) -> bool:
    """Whether a ``name: STATUS ...`` line from :func:`compare` (or an
    ``ERROR`` line) reports a pass: its status token is ``OK``."""
    return line.split(": ", 1)[1].split(" ", 1)[0] == "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from p6__mapreduce_spark.queries import get_oracle_sql
    from p6__mapreduce_spark.session import get_session

    spark = get_session("oracle_check")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    # sf-dir-aware oracle generation: knn_ivf's centroid literals are
    # trained on the SAME sf dir the Spark query runs against
    oracles = get_oracle_sql(sf_dir)
    failed = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            line = compare(name, fn(spark, sf_dir), con, oracles.get(name))
        except Exception as exc:  # noqa: BLE001
            line = f"{name}: ERROR {type(exc).__name__}: {exc}"
        finally:
            # the query has ended: release its pins (functions/pin.py)
            spark.catalog.clearCache()
        if not passed(line):
            failed += 1
        print(line, flush=True)
    print(f"== {failed} failures ==")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
