"""Every registered query has a DuckDB oracle at every scale factor,
and the oracle gate (tools/oracle_check.py) fails a query without one
and every line whose status is not OK."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import oracle_check  # noqa: E402

from p6__mapreduce_spark.queries import (  # noqa: E402
    GENERATED_ORACLES,
    ORACLE_SF_DIR,
    QUERIES,
    get_oracle_sql,
)

TESTDATA = os.path.dirname(ORACLE_SF_DIR)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_every_registered_query_has_an_oracle(sf):
    sf_dir = os.path.join(TESTDATA, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip("testdata absent")
    assert set(get_oracle_sql(sf_dir)) == set(QUERIES)


def test_generated_oracles_absent_without_embeddings_fail_the_gate(spark, tmp_path):
    oracles = get_oracle_sql(str(tmp_path))
    assert set(QUERIES) - set(oracles) == GENERATED_ORACLES
    line = oracle_check.compare("knn_ivf", spark.range(1), None, oracles.get("knn_ivf"))
    assert line.startswith("knn_ivf: FAIL") and not oracle_check.passed(line)


def test_only_an_ok_status_counts_as_a_pass():
    assert oracle_check.passed("q: OK [3 rows, 0.1s]")
    for line in (
        "q: ERROR SparkRuntimeException: [CANNOT_INVOKE_IN_TRANSFORMATIONS] Dataset "
        "transformations and actions can only be invoked by the driver. OK",
        "q: ERROR ParseException: [UNEXPECTED_TOKEN] Syntax error. SQLSTATE: 42601",
        "q: ERROR AnalysisException: [WRONG_NUM_TOKEN] x",
        "q: FAIL ROWCOUNT spark=3 oracle=4",
        "q: FAIL no oracle",
    ):
        assert not oracle_check.passed(line), line
