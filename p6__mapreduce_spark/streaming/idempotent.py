"""foreachBatch idempotent upsert sink — exactly-once EFFECT from
at-least-once delivery.

Structured Streaming's file/memory sinks are append-only; real
pipelines land micro-batches into a keyed table with MERGE semantics
so that a replayed batch (driver restart, retried trigger) cannot
double-apply. This module implements that pattern with no lakehouse
jars: each micro-batch merges into a versioned parquet target via
keep-latest-per-key, and the publish is the atomic symlink swap from
``sources.sinks.publish_parquet_atomic`` — a reader sees either the
complete previous version or the complete new one.

Idempotence is BY CONSTRUCTION, not by batch-ID bookkeeping: the
merge function (union → row_number over (key ORDER BY ts DESC,
event_id DESC) → keep rank 1) is a deterministic idempotent fold —
applying the same batch twice yields the byte-identical target. The
runner PROVES it per run: after the stream drains, it re-applies the
final micro-batch (simulated redelivery) and asserts the target is
unchanged via a DISTRIBUTED checksum — (row count, order-independent
XOR fold, modular-sum fold of a per-row xxhash64 over every column) —
three scalars through the driver, never the table. A checksum
collision masking a real divergence needs a simultaneous XOR- and
sum-preserving row change (~2^-128); the failure mode of the old
full-collect comparison (driver OOM at scale) is gone.

Scale shape: state lives in the target table, not executor memory;
each merge shuffles only (target ∪ batch) on the key — at 100 TB the
target would be a bucketed/lakehouse table so the merge co-locates,
and the swap becomes the format's transactional commit. The memory
path here keeps the plumbing (schema, merge plan, swap protocol,
checksum proof) identical.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from p6__mapreduce_spark.sources.sinks import publish_parquet_atomic
from p6__mapreduce_spark.streaming.partitions import stream_partitions

KEYS = ("user_id", "event_type")

# The redelivery simulation keeps ONE micro-batch driver-side to
# replay it verbatim. That collect is gated: above this bound the
# runner skips the replay proof instead of pulling an unbounded batch
# through the driver (a cluster-scale redelivery test re-triggers
# from the checkpoint rather than replaying driver-held rows).
REPLAY_MAX_ROWS = 100_000

# ONE session-scoped root for published targets (r7 ADVICE: per-call
# mkdtemp + atexit accumulated a parquet temp dir per invocation for
# the process lifetime — bench rounds and test suites call this
# repeatedly). Each invocation publishes under a fresh numbered subdir
# and the PREVIOUS invocation's subdir is reclaimed on the next call,
# so at most two live at once.
_TGT_ROOT: str | None = None
_TGT_SEQ = 0


def _next_target() -> str:
    global _TGT_ROOT, _TGT_SEQ
    if _TGT_ROOT is None:
        _TGT_ROOT = tempfile.mkdtemp(prefix="p6_stream_upsert_tgt_")
        atexit.register(shutil.rmtree, _TGT_ROOT, ignore_errors=True)
    prev = os.path.join(_TGT_ROOT, f"v{_TGT_SEQ}")
    _TGT_SEQ += 1
    shutil.rmtree(prev, ignore_errors=True)  # reclaim last invocation
    # each invocation gets its own DIRECTORY (the atomic publish swaps
    # a symlink inside it, with version stores as siblings)
    sub = os.path.join(_TGT_ROOT, f"v{_TGT_SEQ}")
    os.makedirs(sub, exist_ok=True)
    return os.path.join(sub, "target")


def table_checksum(df: DataFrame) -> tuple:
    """Order-independent distributed table fingerprint: (row count,
    bit_xor of per-row xxhash64 over ALL columns, sum of the same
    hashes as decimal(38,0) — exact, cannot overflow below ~10^18
    rows). One aggregation job, three scalars to the driver."""
    h = F.xxhash64(*df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).alias("s"),
    ).first()
    return (row["n"], row["x"], str(row["s"]))


def _merge_latest(target_path: str, batch: DataFrame, spark: SparkSession) -> None:
    """Idempotent MERGE: target ∪ batch → keep the latest row per key
    (ts DESC, event_id DESC — total order, so ties are impossible),
    atomically republished. Re-applying any already-applied batch is
    a no-op by construction."""
    cols = ["user_id", "event_type", "ts", "value", "event_id"]
    merged = batch.select(*cols)
    if os.path.exists(target_path):
        merged = spark.read.parquet(target_path).select(*cols).unionByName(merged)
    w = Window.partitionBy(*KEYS).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    publish_parquet_atomic(latest, target_path)


def run_foreachbatch_idempotent_upsert(
    spark: SparkSession, events_parquet: str
) -> DataFrame:
    """Stream the events parquet through a foreachBatch upsert sink
    (1 file per micro-batch so the merge genuinely runs multiple
    times), then simulate an at-least-once redelivery of the final
    batch and assert the target did not change. Returns the final
    keyed table: latest (ts, value) per (user_id, event_type).

    LIFETIME: the returned DataFrame lazily reads a session-scoped
    published target — it is valid only within this process and only
    until the NEXT invocation of this runner (which reclaims the
    previous target; see _next_target). Consumers that need the data
    past either boundary must write it out themselves."""
    src = tempfile.mkdtemp(prefix="p6_stream_upsert_src_")
    target = _next_target()
    shutil.copy(events_parquet, os.path.join(src, "batch_a.parquet"))
    shutil.copy(events_parquet, os.path.join(src, "batch_b.parquet"))
    schema = spark.read.parquet(events_parquet).schema
    last_batch_rows: list = []  # captured for the redelivery replay

    def _sink(batch: DataFrame, batch_id: int) -> None:
        _merge_latest(target, batch, spark)
        # keep a driver-side copy of THIS batch for the replay proof —
        # ONE limit-bounded job (not count-then-collect): fetch at most
        # REPLAY_MAX_ROWS+1 rows; the sentinel extra row means the
        # batch is oversized and the replay proof is skipped rather
        # than pulling an unbounded micro-batch through the driver
        rows = batch.limit(REPLAY_MAX_ROWS + 1).collect()
        last_batch_rows.clear()
        if len(rows) <= REPLAY_MAX_ROWS:
            last_batch_rows.extend(rows)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    try:
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = stream.writeStream.foreachBatch(_sink).start()
            try:
                query.processAllAvailable()
            finally:
                query.stop()
    finally:
        shutil.rmtree(src, ignore_errors=True)

    # redelivery proof: distributed checksum before and after
    # re-applying the final batch — three scalars cross the driver,
    # never the target table (checksum-based per the 100 TB contract)
    before = table_checksum(spark.read.parquet(target))
    if last_batch_rows:  # redelivery: re-apply the final batch verbatim
        # list path on purpose: only it reads collect()'s naive local datetimes back exactly
        replay = spark.createDataFrame(last_batch_rows, schema=schema)
        _merge_latest(target, replay, spark)
    after = table_checksum(spark.read.parquet(target))
    assert before == after, (
        "foreachBatch upsert is NOT idempotent: redelivering the final "
        f"micro-batch changed the target checksum {before} -> {after}"
    )
    # the returned DataFrame lazily reads the published target (valid
    # until the next invocation / process exit — see docstring); the
    # session-scoped root registered its ONE atexit cleanup in
    # _next_target, so repeated calls no longer accumulate temp dirs
    return (
        spark.read.parquet(target)
        .select("user_id", "event_type", "ts", "value")
        .orderBy("user_id", "event_type")
    )


UPSERT_LATEST_ORACLE_SQL = """
SELECT user_id, event_type, ts, value FROM (
  SELECT user_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id, event_type
"""
