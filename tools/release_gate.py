#!/usr/bin/env python3
"""One-command release gate: the full verification recipe in order.

1. driver-contract smoke (entry() rows; oracle_sql() has one entry per
   query in queries())
2. doc-drift (COVERAGE.md query count == registry — tools/doc_drift.py)
   and advice-drift (every ADVICE.md item names a pytest node that
   collects — tools/advice_check.py)
3. plan audit (writes PLANS.md; fails on any non-exempt cartesian /
   Python-in-plan)
4. DuckDB oracle sweep at the given sf dir (every registered query; a
   query without an oracle fails)
5. pytest (the whole suite, which runs the advice-drift nodes)

Stops at the first failing stage and exits non-zero; prints one
summary line per stage so CI logs read at a glance. This is the
executable form of .claude/skills/verify/SKILL.md.

Usage: python tools/release_gate.py [sf_dir] [--skip-pytest]
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def stage(name: str, argv: list[str]) -> None:
    t0 = time.time()
    r = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True)
    took = time.time() - t0
    tail = (r.stdout + r.stderr).strip().splitlines()[-1] if (r.stdout or r.stderr) else ""
    print(f"[{'PASS' if r.returncode == 0 else 'FAIL'}] {name} ({took:.0f}s) {tail}")
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-4000:])
        sys.exit(1)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    smoke = (
        "import __spark_entry__ as e;"
        "from p6__mapreduce_spark.session import get_session;"
        "s=get_session('gate');df=e.entry(s);assert df.collect();"
        "q=e.queries();o=e.oracle_sql();assert set(o)==set(q);"
        "print(f'contract OK: {len(q)} queries, {len(o)} oracles')"
    )
    stage("contract", [sys.executable, "-c", smoke])
    # COVERAGE.md's query-count footer matches the registry
    stage("doc-drift", [sys.executable, "tools/doc_drift.py"])
    # every ADVICE.md item names the test that fails if its defect
    # comes back, so the advisory file can't go stale between rounds
    stage("advice-drift", [sys.executable, "tools/advice_check.py"])
    stage("plan-audit", [sys.executable, "tools/plan_audit.py"])
    stage("oracle", [sys.executable, "tools/oracle_check.py", sf_dir])
    if "--skip-pytest" not in sys.argv:
        stage("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"])
    print("RELEASE GATE: ALL PASS")


if __name__ == "__main__":
    main()
