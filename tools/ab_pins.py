#!/usr/bin/env python3
"""Interleaved A/B of one engine rule against a retired shape.

Arm B is the shipped engine. Arm A swaps one engine callable for a
retired one:

- ``cut`` (default): every ``pin`` call runs as an eager
  ``localCheckpoint``, the r10 shape and the parent shape of each site
  moved from ``localCheckpoint`` to ``pin``.
- ``none``: every ``pin`` is the identity, the unpinned pre-r10 shape
  where each consumer re-executes the shared subtree.
- ``stream-cores``: the streaming runners size their state store by the
  session's shuffle-partition count instead of
  ``streaming/partitions.py::stream_shuffle_partitions``' volume rule.

Both arms run in one session. Each query first runs once per arm with
its rows collected and compared; then ``reps`` alternating runs per arm
are timed by ``tools/measure.py::timed`` (full result to the ``noop``
sink). Arm A's callable counts its calls: a query that never reaches it
would compare the shipped shape against itself, so its line says
``"arm_reached": false``, it is not timed, and the tool exits non-zero.

Usage: python tools/ab_pins.py SF_DIR [cut|none|stream-cores] [REPS] QUERY...
Prints one JSON line per query: {"query", "arm", "arm_reached",
"rows_equal", "a_med", "b_med", "ratio", "a", "b"}.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import alternate, session, timed  # noqa: E402

from p6__mapreduce_spark.functions import pin  # noqa: E402
from p6__mapreduce_spark.queries import QUERIES  # noqa: E402
from p6__mapreduce_spark.streaming import partitions  # noqa: E402

# Each arm swaps a module attribute that the engine looks up at call
# time. For pin that is the dispatch target, not pin.pin: call sites
# bind pin by name at import and would never see a rebinding.
ARMS: dict[str, tuple[object, str, Callable]] = {
    "cut": (pin, "_impl", lambda df: df.localCheckpoint(eager=True)),
    "none": (pin, "_impl", lambda df: df),
    "stream-cores": (
        partitions,
        "stream_shuffle_partitions",
        lambda spark, *paths: int(spark.conf.get("spark.sql.shuffle.partitions")),
    ),
}


class Counted:
    """A callable that counts its calls."""

    def __init__(self, fn: Callable) -> None:
        self.fn, self.calls = fn, 0

    def __call__(self, *args):
        self.calls += 1
        return self.fn(*args)


@contextmanager
def swapped(module: object, attr: str, fn: Callable):
    shipped = getattr(module, attr)
    setattr(module, attr, fn)
    try:
        yield
    finally:
        setattr(module, attr, shipped)


def _rows(df) -> list[tuple]:
    # NULLs-first key: full-outer rows carry Nones, which plain tuple
    # comparison cannot order
    return sorted(map(tuple, df.collect()), key=lambda t: tuple((v is not None, v) for v in t))


def equivalence(spark, name: str, sf_dir: str, arm: str = "cut") -> dict:
    """Run ``name`` once per arm; report whether arm A's callable was
    reached and whether both arms returned the same rows."""
    module, attr, retired = ARMS[arm]
    counted = Counted(retired)
    try:
        with swapped(module, attr, counted):
            rows_a = _rows(QUERIES[name](spark, sf_dir))
    finally:
        spark.catalog.clearCache()
    try:
        rows_b = _rows(QUERIES[name](spark, sf_dir))
    finally:
        spark.catalog.clearCache()
    return {"query": name, "arm": arm, "arm_reached": counted.calls > 0, "rows_equal": rows_a == rows_b}


def ab(spark, name: str, sf_dir: str, arm: str, reps: int) -> dict:
    out = equivalence(spark, name, sf_dir, arm)
    if not out["arm_reached"]:
        return out
    module, attr, retired = ARMS[arm]

    def run_a() -> float:
        with swapped(module, attr, retired):
            return timed(spark, QUERIES[name], sf_dir)

    return {**out, **alternate(run_a, lambda: timed(spark, QUERIES[name], sf_dir), reps)}


def main(args: list[str]) -> None:
    sf_dir, args = args[0], args[1:]
    arm = "cut"
    reps = 5
    if args and args[0] in ARMS:
        arm, args = args[0], args[1:]
    if args and args[0].isdigit():
        reps, args = int(args[0]), args[1:]

    spark = session()
    unreached = 0
    for name in args:
        line = ab(spark, name, sf_dir, arm, reps)
        unreached += not line["arm_reached"]
        print(json.dumps(line), flush=True)
    spark.stop()
    if unreached:
        sys.exit(f"{unreached} quer{'y' if unreached == 1 else 'ies'} never reached arm {arm!r}")


if __name__ == "__main__":
    main(sys.argv[1:])
