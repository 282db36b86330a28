#!/usr/bin/env python3
"""Doc-drift gate: COVERAGE.md's "<N> registered queries" footer must
equal len(QUERIES). Fast: no Spark session.

Usage: python tools/doc_drift.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def check_coverage_footer() -> str:
    from p6__mapreduce_spark.queries import QUERIES

    txt = open(os.path.join(ROOT, "COVERAGE.md")).read()
    m = re.search(r"(\d+) registered queries", txt)
    assert m, "COVERAGE.md lacks the registered-queries footer"
    n = int(m.group(1))
    assert n == len(QUERIES), f"COVERAGE.md says {n} queries, registry has {len(QUERIES)}"
    return f"COVERAGE.md == registry == {n}"


def main() -> None:
    print(f"doc-drift OK: {check_coverage_footer()}")


if __name__ == "__main__":
    main()
