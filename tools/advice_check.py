#!/usr/bin/env python3
"""ADVICE-drift gate stage (r7 verdict #3): the advisory loop, closed.

Every round the driver rewrites ADVICE.md with fresh advisory items.
Previous rounds fixed them promptly — but nothing PROVED it, so the
file went stale by construction and the judge had to re-derive the
status of each item by hand. This stage makes the status machine-
checked:

  1. Parse every item out of ADVICE.md
     (``- **severity** path:line — description``).
  2. Each item MUST have an entry in RESOLUTIONS below — added by the
     builder when the item is handled — keyed by the cited file plus
     a distinctive substring of the item's description. An item with
     no resolution entry fails the gate: new advice cannot silently
     linger.
  3. A ``fixed`` resolution carries a verification predicate
     (``must_match`` and/or ``must_not_match`` regexes against the
     cited file's CURRENT content): if the fix ever regresses — the
     defect pattern reappears or the fix pattern disappears — the
     gate fails again. An ``accepted`` resolution records a
     documented tradeoff and checks only that its rationale is still
     present where it claims to be.

Run: python tools/advice_check.py  (exit 0 = all items resolved)
Library use: check(advice_text, resolutions, root) -> list[str] errors
(used by the release gate and by tests, which feed synthetic stale
entries to prove the stage actually fails).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One entry per ADVICE.md item. "match": substring of the item's
# description that identifies it (with the same cited file). Keep
# entries for past rounds' files too — they cost nothing and keep the
# audit trail if an old ADVICE.md is ever re-checked.
RESOLUTIONS: list[dict] = [
    {
        "name": "r7-protocol-runner-isolation",
        "file": "bench.py",
        "match": "no per-runner exception isolation or timeout",
        "status": "fixed",
        # the watchdog + per-runner try/except landed in r8
        "must_match": r"protocol runner watchdog",
        "must_not_match": None,
    },
    {
        "name": "r7-drift-ratio-single-probe",
        "file": "bench.py",
        "match": "drift_ratio = max(machine_ratio, shuffle_ratio) is applied",
        "status": "fixed",
        # both probe ratios are now recorded in every verdict entry
        "must_match": r"entry\[\"shuffle_ratio\"\] = out\.get\(\"shuffle_ratio\"\)",
        "must_not_match": None,
    },
    {
        "name": "r7-check-unique-two-jobs",
        "file": "p6__mapreduce_spark/functions/ranks.py",
        "match": "check_unique runs two separate jobs",
        "status": "fixed",
        # one aggregation job: count + count_distinct over a struct
        "must_match": r"F\.count_distinct\(F\.struct\(",
        "must_not_match": r"distinct\(\)\.count\(\)",
    },
    {
        "name": "r7-generated-rows-only-conflation",
        "file": "p6__mapreduce_spark/queries.py",
        "match": "conflates 'oracle generated per sf-dir' with 'inherently rows-only'",
        "status": "fixed",
        # explicit allowlist split; sketch_weekly_users left _GENERATED
        # entirely (real static oracle since r8); approx_stats moved to
        # the portable sketch in r9, so _ROWS_ONLY is now empty
        "must_match": r"_ROWS_ONLY: set\[str\] = set\(\)",
        "must_not_match": None,
    },
    {
        "name": "r7-idempotent-tempdir-accumulation",
        "file": "p6__mapreduce_spark/streaming/idempotent.py",
        "match": "accumulate parquet temp dirs for the process lifetime",
        "status": "fixed",
        # session-scoped root + previous-invocation reclaim + lifetime doc
        "must_match": r"def _next_target\(",
        "must_not_match": None,
    },
    # ---- round-8 ADVICE (fixed at the round-9 open) ----
    {
        "name": "r8-mmd-int64-cross-product-overflow",
        "file": "p6__mapreduce_spark/similarity/mmd.py",
        "match": "computed in int64 before the cast to double",
        "status": "fixed",
        # S and n are cast to DOUBLE before the cross-multiply in BOTH
        # engines; the old int64-product-then-cast shape is gone
        "must_match": r"CAST\(a\.s AS DOUBLE\) \* CAST\(cb\.n AS DOUBLE\)",
        "must_not_match": r"CAST\(a\.s2? \* cb\.n - b\.s2? \* ca\.n AS DOUBLE\)",
    },
    {
        "name": "r8-vocab-growth-unpartitioned-window",
        "file": "p6__mapreduce_spark/operators/text_analysis.py",
        "match": "row_number() over an unpartitioned Window.orderBy(doc_id)",
        "status": "fixed",
        # doc rank now comes from the distributed two_phase_rank helper
        "must_match": r"two_phase_rank\(\s*docs\.select\(\"doc_id\"\), \[\"doc_id\"\], rank_col=\"rk\"",
        "must_not_match": r"row_number\(\)\.over\(Window\.orderBy\(\"doc_id\"\)\)",
    },
    {
        "name": "r8-huber-y-moment-sum-overflow",
        "file": "p6__mapreduce_spark/operators/robust.py",
        "match": "only bounds the per-row contribution c4",
        "status": "fixed",
        # m3/m4 (and the same-shaped OLS sxy) accumulate in decimal(38,0)
        "must_match": r"\(\"m4\", \"CAST\(SUM\(CAST\(c4 AS DECIMAL\(38,0\)\)\)",
        "must_not_match": r"\(\"m4\", \"CAST\(SUM\(c4\) AS BIGINT\)\"\)",
    },
    {
        "name": "r8-hilbert-empty-input-crash",
        "file": "p6__mapreduce_spark/functions/hilbert.py",
        "match": "calls int(amin) on the driver",
        "status": "fixed",
        # r9 guard (MIN IS NULL -> empty frame) superseded in r10 by
        # the explicit COUNT(*) branch + NULL-axis mirror (see the
        # r9-hilbert entry below); no int(None) path remains either way
        "must_match": r"if cnt == 0:",
        "must_not_match": None,
    },
    # ---- round-9 ADVICE (fixed at the round-10 open) ----
    {
        "name": "r9-hilbert-allnull-column-swallowed-by-empty-guard",
        "file": "p6__mapreduce_spark/functions/hilbert.py",
        "match": "also fires on a NON-empty table whose a/b column is entirely NULL",
        "status": "fixed",
        # explicit zero-row branch; an all-NULL axis becomes a typed
        # NULL expression that mirrors the oracle's NULL-propagating
        # scalar-subquery MIN (parity proved live vs DuckDB in
        # tests/test_degenerate_inputs.py); zorder's scaled_morton
        # guard returns a NULL literal instead of 0 for the same case
        "must_match": r"CAST\(NULL AS BIGINT\)",
        "must_not_match": r"return df\.selectExpr\(key.*limit\(0\)\s*$",
    },
    {
        "name": "r9-bootstrap-oracle-implicit-nulls-last",
        "file": "p6__mapreduce_spark/queries.py",
        "match": "relies on DuckDB's default_null_order being NULLS LAST",
        "status": "fixed",
        # the oracle's array_agg now FILTERs NULL replica means out,
        # mirroring Spark's collect_list regardless of null-order config
        "must_match": r"FILTER \(WHERE mean_cents IS NOT NULL\)",
        "must_not_match": None,
    },
    {
        "name": "r10-corpus-sized-localcheckpoint-pins",
        "file": "p6__mapreduce_spark/dedup/substring.py",
        "match": "extends eager localCheckpoint pinning from bounded aggregates to corpus-sized relations",
        "status": "fixed",
        # every shared relation (this token table included) goes
        # through functions/pin.py::pin = persist(MEMORY_AND_DISK) +
        # eager count — recomputable lineage on executor loss, disk
        # spill instead of executor-local checkpoint storage;
        # localCheckpoint is left only at allowlisted lineage cuts
        # (tests/test_pin.py)
        "must_match": r"toks = pin\(",
        "must_not_match": r"\.localCheckpoint\(",
    },
    {
        "name": "r10-eager-pins-in-constructors",
        "file": "p6__mapreduce_spark/operators/robust.py",
        "match": "localCheckpoint(eager=True) inside operator/query constructors",
        "status": "accepted",
        # Documented tradeoff: every shared relation (the daily
        # rollups here included) routes through functions/pin.py, whose
        # PLAN_ONLY flag lets plan-audit tools skip the materialization
        # job (persist registers the cache at call time, so the
        # captured plan is unchanged). Pins stay eager on purpose: the
        # branches of one action race to recompute an unmaterialized
        # pin (measured 2.5x on the minhash posting cache). The eager
        # localCheckpoints left are lineage cuts in driver loops.
        "must_match": r"One eager pin\s+shares it",
        "must_not_match": None,
    },
    {
        "name": "r10-lm-walk-driver-roundtrips",
        "file": "p6__mapreduce_spark/operators/lm.py",
        "match": "steps+1 driver round-trip jobs",
        "status": "fixed",
        # r11 (the advice's own suggestion): the vocab-bounded succ
        # head table is collected ONCE and the 15-step greedy walk runs
        # in pure Python — steps+1 take(1) jobs collapse to one collect
        # job; tie-breaks/dead-end/empty-corpus semantics pinned by
        # tests/test_round10_lm_walk.py against the chain replica.
        "must_match": r"collected ONCE",
        "must_not_match": r"steps \+ 1 take\(1\) jobs",
    },
    # ---- round-11 ADVICE ----
    {
        "name": "r11-ab-pins-rebinding-ineffective",
        "file": "tools/ab_pins.py",
        "match": "Monkeypatching pin.pin_corpus is ineffective",
        "status": "fixed",
        # pin (formerly pin_corpus) dispatches through pin._impl,
        # which the pin arms swap; tests/test_pin.py proves a swap
        # reaches queries.py's by-name import
        "must_match": r'\(pin, "_impl", ',
        "must_not_match": r'pin\.pin(_corpus)? = |\(pin, "pin',
    },
    {
        "name": "r11-stream-partitions-conf-leak",
        "file": "p6__mapreduce_spark/streaming/join.py",
        "match": "set_stream_partitions is called before writeStream.start()",
        "status": "fixed",
        # every runner scopes the conf with the stream_partitions
        # context manager; the imperative pair is deleted and
        # tests/test_streaming.py fails start() in each runner
        "must_match": r"with stream_partitions\(spark, src\)",
        "must_not_match": r"set_stream_partitions",
    },
    {
        "name": "r11-scale-gen-scalar-jitter",
        "file": "tools/scale_gen.py",
        "match": "The embeddings jitter is a per-shard scalar",
        "status": "fixed",
        # the offset mixes list_transform's element index j with the
        # shard, so clones move in direction; tests/test_scale_gen.py
        # checks per-dim and per-shard offsets and a byte-identical rerun
        "must_match": r"list_transform\(embedding, \(x, j\) -> ",
        "must_not_match": r"list_transform\(embedding, x -> ",
    },
    {
        "name": "r11-pins-never-unpersisted",
        "file": "p6__mapreduce_spark/functions/pin.py",
        "match": "persists MEMORY_AND_DISK with an eager count but nothing ever unpersists",
        "status": "fixed",
        # only the harness knows when a query ends: pin.py states the
        # contract, and every harness that runs queries in one session
        # (bench.py, perfbench/run.py, tools/measure.py,
        # tools/oracle_check.py, tests/test_plans.py)
        # calls clearCache between queries
        "must_match": r"every harness that runs queries\s+in one session must make that call between queries",
        "must_not_match": None,
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


def check(
    advice_text: str, resolutions: list[dict], root: str = ROOT
) -> list[str]:
    """All gate violations (empty list = pass)."""
    errors: list[str] = []
    for item in parse_items(advice_text):
        res = next(
            (
                r
                for r in resolutions
                if r["file"] == item["file"] and r["match"] in item["text"]
            ),
            None,
        )
        head = item["text"].splitlines()[0][:100]
        if res is None:
            errors.append(
                f"UNRESOLVED advice ({item['severity']}, {item['file']}:"
                f"{item['line']}): no RESOLUTIONS entry matches: {head}"
            )
            continue
        path = os.path.join(root, res["file"])
        try:
            content = open(path).read()
        except OSError:
            errors.append(f"{res['name']}: cited file {res['file']} unreadable")
            continue
        if res.get("must_match") and not re.search(res["must_match"], content):
            errors.append(
                f"{res['name']}: fix pattern /{res['must_match']}/ no longer "
                f"present in {res['file']} — the recorded fix regressed"
            )
        if res.get("must_not_match") and re.search(res["must_not_match"], content):
            errors.append(
                f"{res['name']}: defect pattern /{res['must_not_match']}/ still "
                f"present in {res['file']}"
            )
    return errors


def main() -> None:
    advice_path = os.path.join(ROOT, "ADVICE.md")
    if not os.path.exists(advice_path):
        print("advice-drift OK: no ADVICE.md")
        return
    errors = check(open(advice_path).read(), RESOLUTIONS)
    if errors:
        for e in errors:
            print(e)
        sys.exit(1)
    n = len(parse_items(open(advice_path).read()))
    print(f"advice-drift OK: {n} items, all resolved and verified")


if __name__ == "__main__":
    main()
