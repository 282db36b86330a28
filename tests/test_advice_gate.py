"""The advice-drift gate stage (tools/advice_check.py): every
ADVICE.md item needs a resolution naming a pytest node that collects;
a synthetic unresolved item and a missing node must FAIL the check.
Also the doc-drift footer check (tools/doc_drift.py)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import advice_check  # noqa: E402
import doc_drift  # noqa: E402

ROOT = advice_check.ROOT


def test_current_advice_all_resolved():
    advice = open(os.path.join(ROOT, "ADVICE.md")).read()
    errors = advice_check.check(advice, advice_check.RESOLUTIONS)
    assert errors == [], errors
    # and the parser actually saw the items (not a vacuous pass)
    assert len(advice_check.parse_items(advice)) >= 1


def test_unresolved_synthetic_item_fails():
    advice = (
        "# ADVICE\n\n"
        "- **high** p6__mapreduce_spark/queries.py:1 — a brand-new defect "
        "nobody has recorded a resolution for.\n"
        "  _Do something about it._\n"
    )
    errors = advice_check.check(advice, advice_check.RESOLUTIONS)
    assert len(errors) == 1 and "UNRESOLVED" in errors[0]


def test_resolution_naming_a_missing_node_fails():
    advice = (
        "- **low** bench.py:1 — synthetic defect whose test is gone.\n"
        "  _Fix it._\n"
    )
    resolutions = [
        {
            "name": "synthetic-missing-node",
            "file": "bench.py",
            "match": "whose test is gone",
            "test": "tests/test_advice_gate.py::test_no_such_node",
        }
    ]
    errors = advice_check.check(advice, resolutions)
    assert errors == ["synthetic-missing-node: test tests/test_advice_gate.py::test_no_such_node does not collect"]
    resolutions[0]["test"] = "tests/test_advice_gate.py::test_parser_extracts_severity_file_line"
    assert advice_check.check(advice, resolutions) == []


def test_parser_extracts_severity_file_line():
    advice = open(os.path.join(ROOT, "ADVICE.md")).read()
    items = advice_check.parse_items(advice)
    for it in items:
        assert it["severity"] in {"low", "medium", "high"}
        assert it["line"] >= 1
        # cited files exist
        assert os.path.exists(os.path.join(ROOT, it["file"])), it["file"]


def test_doc_drift_current_tree_clean():
    """COVERAGE.md's footer equals the registry size."""
    assert "==" in doc_drift.check_coverage_footer()
