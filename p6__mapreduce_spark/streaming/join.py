"""Stream-stream interval join — Structured Streaming with watermarks.

The attribution query every event pipeline runs: join each click to
the same user's purchases within an interval, on two *unbounded*
streams. Spark buffers both sides in keyed state; the watermarks plus
the time-range join condition bound that state — a click's state row
is evicted once the purchase-side watermark passes ``click_ts + gap``,
so state size is O(events within the interval), not O(stream).

The runner stages the input parquet split into two time-ordered files
and forces one file per micro-batch, so boundary-straddling pairs only
appear if join state genuinely carries across batches. Output equals
the batch interval self-join, which is the SQL oracle.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.sources.readers import load_table
from p6__mapreduce_spark.streaming.partitions import stream_partitions


def run_streaming_click_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "6 hours",
    watermark: str = "12 hours",
) -> DataFrame:
    """(user_id, click_id, purchase_id, click_us, purchase_us) for every
    purchase within ``gap`` after a click by the same user, computed by
    a real two-batch Structured Streaming join.

    The stage split point is the events' midpoint timestamp, so each
    micro-batch advances the watermark monotonically (like real
    time-ordered ingestion) and no input is late-dropped; ``watermark``
    must exceed ``gap`` so cross-batch click state survives until its
    matching purchases arrive.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:  # empty events table: nothing to stage into batches
        raise ValueError("streaming protocol runner requires a non-empty events table")
    mid = lo + (hi - lo) / 2

    src = tempfile.mkdtemp(prefix="p6_stream_join_")
    try:
        # one parquet file per half, lexicographic names = arrival order
        for i, half in enumerate(
            (events.filter(F.col("ts") < F.lit(mid)), events.filter(F.col("ts") >= F.lit(mid)))
        ):
            part = os.path.join(src, f"_stage_{i}")
            half.coalesce(1).write.mode("overwrite").parquet(part)
            data = next(
                f for f in os.listdir(part) if f.endswith(".parquet") and not f.startswith("_")
            )
            os.rename(os.path.join(part, data), os.path.join(src, f"batch_{i}.parquet"))
            shutil.rmtree(part)

        schema = events.schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", watermark)
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {gap}")),
        ).select(
            "user_id",
            "click_id",
            "purchase_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        name = f"stream_join_{uuid.uuid4().hex[:8]}"
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = (
                joined.writeStream.outputMode("append").format("memory").queryName(name).start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        # the memory sink holds the rows; the staging dir can go away
        return spark.table(name).orderBy("click_id", "purchase_id")
    finally:
        shutil.rmtree(src, ignore_errors=True)


def run_streaming_click_purchase_left_join(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "6 hours",
    watermark: str = "12 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click, paired with
    its within-``gap`` purchases OR null-padded once the watermark
    proves no purchase can still arrive.

    The outer semantics are the streaming-specific part: Spark can only
    emit an unmatched click after the global watermark (min across both
    sides) passes ``click_ts + gap + watermark-delay`` — before that the
    match might still arrive. A real pipeline reaches that point
    continuously; a finite test input never does for its tail clicks.
    So the staging appends a FINAL SENTINEL BATCH — one far-future
    click + purchase pair (event_id -1/-2, a user_id no real event
    uses) — which advances both watermarks past every real click's
    expiry, draining state exactly like production ingestion would.
    The sentinels themselves stay in state (nothing follows them) and
    the one row they could emit is filtered by event_id >= 0.

    Output equals the batch LEFT JOIN with the same interval condition
    — including rows where a click matched NOTHING, which the inner
    variant (`run_streaming_click_purchase_join`) silently drops.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:  # empty events table: nothing to stage into batches
        raise ValueError("streaming protocol runner requires a non-empty events table")
    mid = lo + (hi - lo) / 2

    src = tempfile.mkdtemp(prefix="p6_stream_ljoin_")
    try:
        sentinel = local_frame(
            spark,
            [(-1, -1, "click"), (-2, -1, "purchase")],
            "event_id long, user_id long, event_type string",
        ).withColumn(
            # 30 days past the stream end: beyond every click's
            # click_ts + gap + watermark window
            "ts",
            F.lit(hi).cast("timestamp") + F.expr("INTERVAL 30 DAYS"),
        ).select("event_id", "user_id", "event_type", "ts")
        stages = (
            events.filter(F.col("ts") < F.lit(mid)),
            events.filter(F.col("ts") >= F.lit(mid)),
            sentinel,
        )
        for i, stage in enumerate(stages):
            part = os.path.join(src, f"_stage_{i}")
            stage.coalesce(1).write.mode("overwrite").parquet(part)
            data = next(
                f for f in os.listdir(part) if f.endswith(".parquet") and not f.startswith("_")
            )
            os.rename(os.path.join(part, data), os.path.join(src, f"batch_{i}.parquet"))
            shutil.rmtree(part)

        stream = (
            spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", watermark)
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {gap}")),
            "leftOuter",
        ).select(
            "user_id",
            "click_id",
            "purchase_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        name = f"stream_ljoin_{uuid.uuid4().hex[:8]}"
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = (
                joined.writeStream.outputMode("append").format("memory").queryName(name).start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        return (
            spark.table(name)
            .filter(F.col("click_id") >= 0)
            .orderBy("click_id", "purchase_id")
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


def run_stream_static_enrichment(
    spark,
    events: "DataFrame",
    dim: "DataFrame",
) -> "DataFrame":
    """Stream-static enrichment join: a micro-batched event stream
    joined against a STATIC dimension table (the lookup-table pattern —
    user profiles, catalog metadata). Unlike stream-stream joins this
    needs NO watermark and NO join state: every micro-batch plans a
    fresh batch join against the static side, which Catalyst broadcasts
    when small — so at 100 TB of stream the per-batch cost is the
    batch's size, and dimension updates are picked up by re-publishing
    the static table (compose with sinks.publish_parquet_atomic).

    Runs the stream with availableNow against a temp parquet copy of
    ``events`` and returns the enriched rows collected from a memory
    sink (test/demo harness, same conventions as the other run_*
    helpers here)."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    import shutil

    src = tempfile.mkdtemp(prefix="p6_stream_static_")
    try:
        events.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        enriched = stream.join(F.broadcast(dim), "user_id").select(
            "event_id", "user_id", "event_type", "segment"
        )
        name = f"stream_static_{uuid.uuid4().hex[:8]}"
        q = (
            enriched.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # memory-sink rows live in the session, not the source dir, so
        # the staging copy can be removed as soon as the query stops
        return spark.sql(f"SELECT * FROM {name}")  # noqa: S608 - generated name
    finally:
        shutil.rmtree(src, ignore_errors=True)


def run_streaming_click_purchase_full_join(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "6 hours",
    watermark: str = "12 hours",
) -> DataFrame:
    """FULL OUTER stream-stream interval join — the complete
    attribution picture in one query: clicks with their within-``gap``
    purchases, unattributed clicks null-padded, AND orphan purchases
    (no click in the preceding ``gap``) null-padded.

    Same sentinel-drain protocol as the left-outer variant, with one
    addition: both sides can now emit unmatched rows, and both only
    after the global watermark proves the other side can no longer
    produce a match. The sentinel click/purchase pair (user −1,
    identical far-future timestamp) advances both watermarks past
    every real row's expiry; the pair matches itself, and the single
    sentinel output row is dropped by the negative-id filter
    (NULL-safe — outer rows carry NULL on one side by design).

    Output equals the batch FULL JOIN with the identical interval
    condition; user_id is coalesced across sides so orphan purchases
    keep their user.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:  # empty events table: nothing to stage into batches
        raise ValueError("streaming protocol runner requires a non-empty events table")
    mid = lo + (hi - lo) / 2

    src = tempfile.mkdtemp(prefix="p6_stream_fjoin_")
    try:
        sentinel = local_frame(
            spark,
            [(-1, -1, "click"), (-2, -1, "purchase")],
            "event_id long, user_id long, event_type string",
        ).withColumn(
            "ts",
            F.lit(hi).cast("timestamp") + F.expr("INTERVAL 30 DAYS"),
        ).select("event_id", "user_id", "event_type", "ts")
        stages = (
            events.filter(F.col("ts") < F.lit(mid)),
            events.filter(F.col("ts") >= F.lit(mid)),
            sentinel,
        )
        for i, stage in enumerate(stages):
            part = os.path.join(src, f"_stage_{i}")
            stage.coalesce(1).write.mode("overwrite").parquet(part)
            data = next(
                f for f in os.listdir(part) if f.endswith(".parquet") and not f.startswith("_")
            )
            os.rename(os.path.join(part, data), os.path.join(src, f"batch_{i}.parquet"))
            shutil.rmtree(part)

        stream = (
            spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", watermark)
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {gap}")),
            "fullOuter",
        ).select(
            F.coalesce("user_id", "p_user_id").alias("user_id"),
            "click_id",
            "purchase_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        name = f"stream_fjoin_{uuid.uuid4().hex[:8]}"
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = (
                joined.writeStream.outputMode("append").format("memory").queryName(name).start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        return (
            spark.table(name)
            # NULL-safe sentinel drop: outer rows carry NULL ids
            .filter(
                (F.coalesce(F.col("click_id"), F.lit(0)) >= 0)
                & (F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
            )
            .orderBy("click_id", "purchase_id")
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
