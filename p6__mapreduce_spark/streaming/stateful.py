"""Custom stateful streaming operator: per-user running counters via
``applyInPandasWithState``.

This is the escape hatch for stream logic the built-in windowed
aggregates can't express (per-key accumulators with arbitrary update
rules). State is partitioned by the grouping key — each executor holds
only its keys' state, so state scales horizontally; a timeout policy
(not used in this running-total example) would bound it in time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents_total", LongType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _update(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        # floor(x*100 + 0.5) == round-half-up on the non-negative value
        # domain, identically in numpy and the SQL oracle (np.round /
        # pandas .round are half-EVEN and would diverge on exact halves)
        cents += int(np.floor(pdf["value"].to_numpy(dtype=float) * 100 + 0.5).sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "value_cents_total": [cents]})


def user_running_totals(stream_events):
    """events stream -> one updated (user_id, n_events, cents_total) row
    per user per micro-batch."""
    return stream_events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_running_totals(spark, events_parquet: str):
    """Final per-user totals computed by a REAL two-micro-batch
    applyInPandasWithState run: the input parquet is staged into two
    halves split by event_id parity with one file per trigger, so every
    user's counter must survive a state handoff across batches. The
    last update row per user (counters are monotone, so max n_events)
    equals the batch GROUP BY — the SQL oracle.
    """
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from p6__mapreduce_spark.streaming.partitions import stream_partitions

    src = tempfile.mkdtemp(prefix="p6_stream_totals_")
    try:
        base = spark.read.parquet(events_parquet).select("event_id", "user_id", "value")
        for i in (0, 1):
            part = os.path.join(src, f"_stage_{i}")
            base.filter(F.col("event_id") % 2 == i).coalesce(1).write.mode("overwrite").parquet(part)
            data = next(
                f for f in os.listdir(part) if f.endswith(".parquet") and not f.startswith("_")
            )
            os.rename(os.path.join(part, data), os.path.join(src, f"batch_{i}.parquet"))
            shutil.rmtree(part)

        name = f"stream_totals_{uuid.uuid4().hex[:8]}"
        stream = (
            spark.readStream.schema(base.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        with stream_partitions(spark, src):  # volume-derived state partitions
            query = (
                user_running_totals(stream)
                .writeStream.outputMode("update")
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            spark.table(name)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "value_cents_total")
            .orderBy("user_id")
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
