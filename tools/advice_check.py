#!/usr/bin/env python3
"""ADVICE-drift gate stage: every advisory item is resolved by a test.

1. Parse every item out of ADVICE.md
   (``- **severity** path:line — description``).
2. Each item must have an entry in RESOLUTIONS, keyed by the cited
   file plus a distinctive substring of the item's description. An
   item with no entry fails the gate, so new advice cannot linger.
3. Each entry names the pytest node that fails when the advised defect
   comes back. The node must collect under ``tests/``, which the tier-1
   suite runs; one ``pytest --collect-only`` call checks every named
   node. To resolve a new item, add a test and name its node here.

Run: python tools/advice_check.py  (exit 0 = all items resolved)
Library use: check(advice_text, resolutions, root) -> list[str] errors
(used by the release gate and by tests, which feed synthetic items and
missing nodes to prove the stage fails).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One entry per current ADVICE.md item. "match": substring of the
# item's description that identifies it (with the same cited file).
# Entries for the items of earlier ADVICE.md files are in git history.
RESOLUTIONS: list[dict] = [
    {
        "name": "r11-ab-pins-rebinding-ineffective",
        "file": "tools/ab_pins.py",
        "match": "Monkeypatching pin.pin_corpus is ineffective",
        "test": "tests/test_pin.py::test_swapped_impl_reaches_modules_that_imported_pin",
    },
    {
        "name": "r11-stream-partitions-conf-leak",
        "file": "p6__mapreduce_spark/streaming/join.py",
        "match": "set_stream_partitions is called before writeStream.start()",
        "test": "tests/test_streaming.py::test_failed_start_restores_shuffle_partitions",
    },
    {
        "name": "r11-scale-gen-scalar-jitter",
        "file": "tools/scale_gen.py",
        "match": "The embeddings jitter is a per-shard scalar",
        "test": "tests/test_scale_gen.py::test_embedding_offsets_vary_by_shard_and_dim_and_rerun_is_identical",
    },
    {
        "name": "r11-pins-never-unpersisted",
        "file": "p6__mapreduce_spark/functions/pin.py",
        "match": "persists MEMORY_AND_DISK with an eager count but nothing ever unpersists",
        "test": "tests/test_measure.py::test_timed_unpersists_the_pins_of_the_query",
    },
]

_ITEM_RE = re.compile(
    r"^- \*\*(?P<sev>low|medium|high)\*\* (?P<path>[^\s:]+):(?P<line>\d+) — ",
    re.MULTILINE,
)


def parse_items(advice_text: str) -> list[dict]:
    """Every ``- **sev** path:line — desc`` item with its full text
    (description + the italic suggestion lines that follow it)."""
    items = []
    matches = list(_ITEM_RE.finditer(advice_text))
    for i, m in enumerate(matches):
        end = matches[i + 1].start() if i + 1 < len(matches) else len(advice_text)
        items.append(
            {
                "severity": m.group("sev"),
                "file": m.group("path"),
                "line": int(m.group("line")),
                "text": advice_text[m.start():end].strip(),
            }
        )
    return items


def uncollected(node_ids: list[str], root: str = ROOT) -> list[str]:
    """The node ids that pytest cannot collect from ``root``."""
    if not node_ids:
        return []
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-p", "no:cacheprovider", *node_ids],
        cwd=root,
        capture_output=True,
        text=True,
    )
    if r.returncode == 0:
        return []
    errors = [line for line in (r.stdout + r.stderr).splitlines() if line.startswith("ERROR")]
    # an error that names no node (a module that fails to import, say)
    # leaves every node unproven
    return [n for n in node_ids if any(n in line for line in errors)] or list(node_ids)


def check(
    advice_text: str, resolutions: list[dict], root: str = ROOT
) -> list[str]:
    """All gate violations (empty list = pass)."""
    errors: list[str] = []
    used: list[dict] = []
    for item in parse_items(advice_text):
        res = next(
            (
                r
                for r in resolutions
                if r["file"] == item["file"] and r["match"] in item["text"]
            ),
            None,
        )
        if res is None:
            head = item["text"].splitlines()[0][:100]
            errors.append(
                f"UNRESOLVED advice ({item['severity']}, {item['file']}:"
                f"{item['line']}): no RESOLUTIONS entry matches: {head}"
            )
        elif not res["test"].startswith("tests/"):
            errors.append(f"{res['name']}: test {res['test']} is outside tests/")
        else:
            used.append(res)
    missing = set(uncollected([r["test"] for r in used], root))
    errors.extend(
        f"{r['name']}: test {r['test']} does not collect" for r in used if r["test"] in missing
    )
    return errors


def main() -> None:
    advice_path = os.path.join(ROOT, "ADVICE.md")
    if not os.path.exists(advice_path):
        print("advice-drift OK: no ADVICE.md")
        return
    advice = open(advice_path).read()
    errors = check(advice, RESOLUTIONS)
    if errors:
        for e in errors:
            print(e)
        sys.exit(1)
    print(f"advice-drift OK: {len(parse_items(advice))} items, each resolved by a collected test")


if __name__ == "__main__":
    main()
