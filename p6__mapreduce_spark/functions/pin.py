"""Materialization: share with :func:`pin`, cut with ``localCheckpoint``.

A relation is materialized for one of two reasons, and each has one
mechanism.

- SHARING. A relation that feeds several consumers (the branches of one
  plan, or several driver-side jobs) is computed once with
  :func:`pin`: ``persist(MEMORY_AND_DISK)`` plus an eager ``count()``.
  Per-branch column pruning defeats ``ReusedExchange``, so an unpinned
  shared subtree re-executes once per consumer. The lineage stays
  attached, so a lost partition is re-derived from the source scan,
  and oversized partitions spill to disk. ``pin`` is the engine's only
  ``cache``/``persist``.

- CUTTING. ``localCheckpoint(eager=True)`` remains only where the
  lineage itself must go, or where a cut measured faster than
  :func:`pin`, and each such call says why at the call:
  state that a driver loop rebuilds or re-reads on every round (a
  persisted relation re-embeds its full lineage in every round's plan;
  logreg measured 27% slower that way), values that must outlive the
  harnesses' ``clearCache`` (``queries._memo``), relations whose
  ``spark_partition_id()`` must not change between two jobs
  (``functions/ranks.py::two_phase_rank``), and shared relations where
  ``pin`` measured slower than the cut (the numbers are at the call;
  OPTIMIZATION_r11.md §1). ``tests/test_pin.py`` holds the allowlist.

The eager ``count()`` matters: the branches of a single action are
scheduled concurrently, and lazily-cached branches race — each
recomputes the full plan before any partition lands in the cache
(measured 2.5x slower end-to-end at sf0.1 on the minhash pair family).

Lifetime: a pin lives until the harness that runs the query calls
``spark.catalog.clearCache()`` after the query's action; only the
harness knows when a query ends, so every harness that runs queries
in one session must make that call between queries.

``PLAN_ONLY`` (set by plan-audit tools that build queries merely to
read ``explain`` output — tools/scan_audit.py, tools/capture_plans.py
for *before* captures) skips the materialization job at construction
time. It does NOT change the captured plan: ``persist`` registers the
cache with the CacheManager at call time, so the physical plan shows
the same ``InMemoryTableScan`` nodes whether or not the cache has been
materialized yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Plan-audit tools flip this to build queries without executing the
# pin materialization jobs (eager pins inside query constructors would
# otherwise make plan-only consumers pay full compute).
PLAN_ONLY = False


def _persist_pin(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if not PLAN_ONLY:
        df.count()
    return df


# The pin shape every call site runs. Modules bind ``pin`` by name at
# import, so rebinding ``pin.pin`` reaches none of them; an A/B harness
# swaps this instead (tools/ab_pins.py).
_impl = _persist_pin


def pin(df: DataFrame) -> DataFrame:
    """Materialize a relation shared by several consumers once,
    keeping recomputable lineage."""
    return _impl(df)
