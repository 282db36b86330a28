#!/usr/bin/env python3
"""Generate QUERIES.md: one row per registered query — description
(first docstring sentence), oracle status, driver-window membership,
bench membership. Pure introspection, no Spark session needed.

Usage: python tools/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".) "):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text[:180]


def main() -> None:
    from bench import HEADLINE, PROTOCOL_RUNNERS

    from p6__mapreduce_spark.queries import GENERATED_ORACLES, ORACLE_SQL, QUERIES, VERIFIED_WINDOW

    oracled = set(ORACLE_SQL) | GENERATED_ORACLES
    window = set(VERIFIED_WINDOW)
    benched = set(HEADLINE) | set(PROTOCOL_RUNNERS)
    lines = [
        "# QUERIES — registry index (generated by tools/gen_query_index.py)",
        "",
        f"{len(QUERIES)} registered queries; {len(oracled & set(QUERIES))} with DuckDB oracle SQL",
        f"({len(GENERATED_ORACLES)} of them generated per sf dir).",
        "Driver window = the 50 registrations the external harness verifies per",
        "round; tools/oracle_check.py hash-checks every registered query at a",
        "given sf dir (past sweeps: `git show 57cc720:ORACLE_LOCAL_r11_sf0.1.txt`).",
        "",
        "| query | oracle | driver window | benched | what it does |",
        "|---|---|---|---|---|",
    ]
    for name in QUERIES:  # registration order = verification order
        fn = QUERIES[name]
        lines.append(
            "| {} | {} | {} | {} | {} |".format(
                name,
                "✓" if name in oracled else "",
                "✓" if name in window else "",
                "✓" if name in benched else "",
                first_sentence(fn.__doc__).replace("|", "\\|"),
            )
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
