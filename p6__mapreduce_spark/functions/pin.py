"""Materialization pins for multi-consumer relations.

The r10 scan-audit sweep pinned ~49 relations that feed several plan
branches (per-branch column pruning defeats ``ReusedExchange``, so an
unpinned corpus subtree silently re-executes once per consumer). The
r10 verdict's follow-up: the pins split into two classes with
different failure semantics at 100 TB, and only one of them should use
``localCheckpoint``.

- BOUNDED relations (rows bounded by schema width, vocabulary, days,
  segments, k, |groups| — never by corpus bytes): eager
  ``localCheckpoint`` is correct. The blocks are small at ANY corpus
  size, so non-replicated executor-local storage is a non-issue, and
  the lineage truncation is often the point (iterative loops would
  otherwise compound plans round over round).

- CORPUS-PROPORTIONAL relations (rows scale with documents / users /
  events; token-array tables are of the order of the input text
  bytes): ``localCheckpoint`` is the wrong tool — it stores
  NON-REPLICATED blocks on executor-local disk with the lineage
  truncated, so at cluster scale an executor loss mid-query kills the
  job (no recompute path) and the pinned bytes must fit local
  storage. :func:`pin_corpus` uses ``persist(MEMORY_AND_DISK)``
  instead: the lineage stays attached, so a lost partition is
  re-derived from the source scan; oversized partitions spill to disk
  instead of OOMing. This matches the shape the dedup pair family has
  always used for its corpus-sized posting lists (``.cache()`` +
  count in dedup/jaccard.py and dedup/minhash.py).

The eager ``count()`` in :func:`pin_corpus` is required for the same
reason the posting-list cache is eager: the branches of a single
action are scheduled concurrently, and lazily-cached branches race —
each recomputes the full plan before any partition lands in the cache
(measured 2.5x slower end-to-end at sf0.1 on the minhash pair
family). Materializing once up front serializes that one pass.

``PLAN_ONLY`` (set by plan-audit tools that build queries merely to
read ``explain`` output — tools/scan_audit.py, tools/capture_plans.py
for *before* captures) skips the materialization job at construction
time. It does NOT change the captured plan: ``persist`` registers the
cache with the CacheManager at call time, so the physical plan shows
the same ``InMemoryTableScan`` nodes whether or not the cache has been
materialized yet. (This is also why ``PLAN_ONLY`` cannot cover the
``localCheckpoint`` pins: a lazy localCheckpoint keeps full lineage in
the plan until the first action, which would change the audited
shape.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Plan-audit tools flip this to build queries without executing the
# corpus-pin materialization jobs (ADVICE r10: eager pins inside query
# constructors make plan-only consumers pay full compute).
PLAN_ONLY = False


def _persist_pin(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if not PLAN_ONLY:
        df.count()
    return df


# The pin shape every call site runs. Modules bind ``pin_corpus`` by
# name at import, so rebinding ``pin.pin_corpus`` reaches none of them;
# an A/B harness swaps this instead (tools/ab_pins.py).
_impl = _persist_pin


def pin_corpus(df: DataFrame) -> DataFrame:
    """Materialize a CORPUS-PROPORTIONAL multi-consumer relation once,
    keeping recomputable lineage (persist, not localCheckpoint)."""
    return _impl(df)
