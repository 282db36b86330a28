"""Event-time windowed aggregation — batch and streaming forms.

The reference has no streaming surface (SURVEY.md §2.4); this is the
driver-mandated extension. One transformation definition serves both
the batch DataFrame (oracle-checkable) and the Structured Streaming
query (readStream + watermark + windowed agg), which is the idiomatic
Spark shape: the logical plan is identical, only the source/sink and
late-data policy differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.streaming.partitions import stream_partitions


def _window_agg(events: DataFrame, minutes: int) -> DataFrame:
    return (
        events.groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "value_cents",
        )
    )


def windowed_event_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """Tumbling-window counts + exact value sums per event type.

    window_start is epoch seconds (bigint) — timezone-proof against the
    oracle (DuckDB: epoch(time_bucket(INTERVAL n minutes, ts))). Value
    sums use integer cents so partial-aggregation order can't perturb
    the result.
    """
    return _window_agg(events, minutes).orderBy("window_start", "event_type")


def sliding_event_counts(
    events: DataFrame, minutes: int = 10, slide_minutes: int = 5
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in
    ``minutes/slide_minutes`` overlapping windows — the shape behind
    'events per trailing 10 minutes, refreshed every 5'. Same exact
    integer-cents aggregation as the tumbling twin; Spark expands the
    window membership map-side (no self-join), so the plan is still
    scan -> partial agg -> one exchange. The oracle replays the
    expansion as a cross join with the literal offset list — Spark
    aligns window starts to the epoch, so start = time_bucket(slide)
    minus each multiple of the slide."""
    return (
        events.groupBy(
            F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "value_cents",
        )
        .orderBy("window_start", "event_type")
    )


def run_stream_to_completion(spark: SparkSession, events_parquet: str, minutes: int = 5) -> DataFrame:
    """Execute the streaming windowed aggregation over a parquet file and
    return the final result as a batch DataFrame.

    Stages the file into a temp directory (Spark's file stream source
    requires a directory), drives the query with processAllAvailable
    (deterministic completion — the test/CI shape), and returns the
    complete-mode result. With no late data the output equals the batch
    twin, so this query shares windowed_event_counts' SQL oracle.
    """
    import shutil
    import tempfile
    import uuid

    src = tempfile.mkdtemp(prefix="p6_stream_")
    shutil.copy(events_parquet, src)
    name = f"stream_{uuid.uuid4().hex[:8]}"
    schema = spark.read.parquet(events_parquet).schema
    # state-store partitions derived from the staged input volume
    # (streaming/partitions.py; r10 verdict item 4)
    with stream_partitions(spark, src):
        query = stream_event_counts(spark, src, schema, minutes=minutes, query_name=name)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    out = spark.sql(f"SELECT * FROM {name}")  # noqa: S608 - generated name
    return out.orderBy("window_start", "event_type")


def stream_event_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    minutes: int = 5,
    watermark: str = "10 minutes",
    query_name: str = "event_counts",
):
    """Structured Streaming form: parquet directory source -> watermarked
    tumbling-window aggregation -> in-memory sink (complete mode).

    Returns the StreamingQuery; callers drive it with
    ``processAllAvailable()`` and read ``spark.sql(f"SELECT * FROM
    {query_name}")``. On a real cluster the source/sink swap for
    Kafka/Delta; the aggregation plan is unchanged. The watermark
    bounds state: windows older than the watermark are finalized and
    evicted, so state size is O(active windows), not O(stream length).
    """
    from pyspark.sql import types as T

    stream = spark.readStream.schema(schema).parquet(source_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        # raw testdata parquet: ts is TIMESTAMP(NANOS) read as long
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    stream = stream.withWatermark("ts", watermark)
    agg = _window_agg(stream, minutes)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def run_streaming_late_drop(
    spark: SparkSession,
    events_parquet: str,
    cutoff: str = "2024-01-16",
    minutes: int = 5,
    watermark: str = "1 minute",
) -> DataFrame:
    """Append-mode windowed counts driven across two forced
    micro-batches: events at/after ``cutoff`` arrive in batch 0,
    everything before it arrives in batch 1, and the memory sink ends
    up with exactly the FINALIZED windows — end <= final watermark
    (global max event time - ``watermark``); the open tail windows are
    never emitted. The finalized set is order-independent (the final
    watermark is the max over batches), but staging still pins file
    mtimes so the trigger order itself is deterministic.

    Measured engine note: input rows below the current watermark are
    NOT dropped by the aggregation on this PySpark build
    (numRowsDroppedByWatermark == 0) — they create fresh state that the
    same batch's eviction finalizes and emits. What append mode does
    guarantee — and what callers may rely on — is the emission
    frontier: nothing past the watermark is ever emitted.
    """
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    src = tempfile.mkdtemp(prefix="p6_stream_late_")
    try:
        base = spark.read.parquet(events_parquet).select("event_id", "event_type", "ts")
        cut = F.lit(cutoff).cast("timestamp")
        now = _time.time()
        for i, part_df in enumerate((base.filter(F.col("ts") >= cut), base.filter(F.col("ts") < cut))):
            part = os.path.join(src, f"_stage_{i}")
            part_df.coalesce(1).write.mode("overwrite").parquet(part)
            data = next(
                f for f in os.listdir(part) if f.endswith(".parquet") and not f.startswith("_")
            )
            dst = os.path.join(src, f"batch_{i}.parquet")
            os.rename(os.path.join(part, data), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))  # deterministic trigger order
            shutil.rmtree(part)

        name = f"stream_late_{uuid.uuid4().hex[:8]}"
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", watermark)
        )
        agg = (
            stream.groupBy(F.window("ts", f"{minutes} minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"), "n_events")
        )
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = (
                agg.writeStream.outputMode("append").format("memory").queryName(name).start()
            )
            try:
                query.processAllAvailable()
                # The oracle for this query counts batch-1's below-watermark
                # rows, which is only correct while the engine routes them
                # into fresh state instead of dropping them. Fail fast with a
                # clear message if a Spark build ever applies the standard
                # late-row drop — a silent hash-mismatch downstream would be
                # much harder to diagnose than this assertion.
                dropped = sum(
                    op.get("numRowsDroppedByWatermark", 0)
                    for progress in query.recentProgress
                    for op in progress.get("stateOperators", [])
                )
                if dropped:
                    raise AssertionError(
                        f"Spark dropped {dropped} below-watermark input rows; this "
                        "build applies the standard late-row drop, so the "
                        "append_finalized_windows_streaming oracle (which counts "
                        "those rows) no longer models the engine. Re-derive the "
                        "oracle from the emission-frontier property only."
                    )
            finally:
                query.stop()
        return spark.table(name).orderBy("window_start")
    finally:
        shutil.rmtree(src, ignore_errors=True)


def run_streaming_session_windows(
    spark: SparkSession,
    events_parquet: str,
    gap_minutes: int = 30,
    cutoff: str = "2024-01-16",
) -> DataFrame:
    """Stateful streaming SESSIONIZATION (F.session_window + watermark,
    append mode) driven across two forced micro-batches split at
    ``cutoff`` — sessions straddling the split must MERGE in the state
    store, exercising the session-merge path tumbling windows never hit.

    Append mode only emits a session once the watermark passes its end,
    so a finite source would strand every user's last session in state.
    The fix is the standard heartbeat trick: a third micro-batch with
    one far-future sentinel row (user_id = -1) advances the watermark
    past every real session's end, flushing them; the sentinel user is
    filtered from the output. Result == the batch session_window twin
    (session_windows_native), so this query REUSES its SQL oracle
    verbatim — the strongest statement that streaming state converges
    to the batch answer.
    """
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    src = tempfile.mkdtemp(prefix="p6_stream_sess_")
    try:
        base = spark.read.parquet(events_parquet).select("event_id", "user_id", "ts")
        cut = F.lit(cutoff).cast("timestamp")
        sentinel = local_frame(
            spark, [(-1, -1)], "event_id long, user_id long"
        ).select(
            "event_id", "user_id", F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts")
        )
        parts = (
            base.filter(F.col("ts") < cut),
            base.filter(F.col("ts") >= cut),
            sentinel,  # watermark heartbeat: flushes every real session
        )
        now = _time.time()
        for i, part_df in enumerate(parts):
            part = os.path.join(src, f"_stage_{i}")
            part_df.coalesce(1).write.mode("overwrite").parquet(part)
            data = next(
                f for f in os.listdir(part) if f.endswith(".parquet") and not f.startswith("_")
            )
            dst = os.path.join(src, f"batch_{i}.parquet")
            os.rename(os.path.join(part, data), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))  # deterministic trigger order
            shutil.rmtree(part)

        name = f"stream_sess_{uuid.uuid4().hex[:8]}"
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", f"{gap_minutes} minutes")
        )
        agg = (
            stream.groupBy(
                F.session_window("ts", f"{gap_minutes} minutes").alias("sw"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").cast("long").alias("session_start"),
                F.col("sw.end").cast("long").alias("session_end"),
                "n_events",
            )
        )
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = (
                agg.writeStream.outputMode("append").format("memory").queryName(name).start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        return (
            spark.table(name)
            .filter(F.col("user_id") != -1)
            .orderBy("user_id", "session_start")
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
