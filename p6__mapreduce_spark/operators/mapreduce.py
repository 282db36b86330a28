"""Generic MapReduce facade — the reference's library API, Spark-first.

Reference API (``map___reduce/mapreduce.h:5-20``): ``MR_Run(files, Map,
num_mappers, Reduce, num_reducers, Partition, num_partitions)`` with
user-supplied Mapper (emits (key, value) string pairs per input line via
``MR_Emit``), Reducer (pull-based per-key value iterator), and
Partitioner (key -> partition id).

Spark lowering (SURVEY.md §3 entry point C):

  read.text -> mapInPandas(map)               # mapper threads -> input-split tasks
            -> repartitionById(P, bucket)     # MR_Emit's insert into partition[bucket]
            -> sortWithinPartitions(key)      # MR_Emit's sorted-list insert
            -> mapInPandas(partition scan)    # reducer p scans partition p in key order

Partition *p* of the exchange holds exactly the keys whose partitioner
value is *p*, sorted by key, so reading the partitions in order yields
the reference's (partition, key) output order with no global sort and
each Python function runs once per line / per key.

The map->reduce barrier (``mapreduce.c:196-207`` joins all mappers
before reducers start) is Spark's shuffle stage boundary. Arbitrary
Python map/reduce functions run Arrow-batched (pandas), never row-at-a-
time; when the job is expressible declaratively (wordcount, sort), use
the operators in ``core.py`` instead — this facade is the escape hatch
for clients that genuinely need imperative per-group logic.

Thread counts (num_mappers / num_reducers) are accepted for API parity
but intentionally ignored: Spark's scheduler owns task parallelism.
num_partitions maps to the width of the reduce exchange.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from p6__mapreduce_spark.functions.buckets import uint32_range_bucket
from p6__mapreduce_spark.sources.readers import read_lines

# Mapper: line -> iterable of (key, value) string pairs   (MR_Emit calls)
MapFn = Callable[[str], Iterable[tuple[str, str]]]
# Reducer: (key, value iterator) -> iterable of output lines
ReduceFn = Callable[[str, Iterator[str]], Iterable[str]]
# Partitioner: (key column, P) -> partition id in [0, P)
PartitionExpr = Callable[[Column, int], Column]


def hash_partitioner(key: Column, num_partitions: int) -> Column:
    """Default partitioner (reference djb2, ``mapreduce.c:260-266``).

    Placement is unobservable in every reference test (SURVEY.md
    §2.3#6), so Spark's Murmur3 ``pmod(hash(key), n)`` stands in for
    djb2 and keeps the expression JVM-side. djb2 itself is available in
    ``functions.hashing.djb2`` for driver-side parity checks.
    """
    return F.pmod(F.hash(key), F.lit(num_partitions))


def range_partitioner(key: Column, num_partitions: int) -> Column:
    """Reference ``MR_SortedPartition`` uint32-top-bits bucketing."""
    return uint32_range_bucket(key, num_partitions)


@dataclass
class MapReduceJob:
    """Declarative description of an MR_Run invocation."""

    map_fn: MapFn
    reduce_fn: ReduceFn
    num_partitions: int = 32
    partitioner: PartitionExpr = field(default=hash_partitioner)
    # accepted for reference API parity; Spark's scheduler owns these
    num_mappers: int | None = None
    num_reducers: int | None = None


def _map_phase(lines: DataFrame, map_fn: MapFn) -> DataFrame:
    """mapInPandas over line batches: Arrow in, Arrow out, no per-row serde."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for line in pdf["value"]:
                for k, v in map_fn(line):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    return lines.mapInPandas(run, schema="key string, value string")


def _reduce_phase(pairs: DataFrame, reduce_fn: ReduceFn) -> DataFrame:
    """Partition-scan reduce: sortWithinPartitions(key) + mapInPandas.

    This is the reference's reducer loop verbatim (``mapreduce.c:
    131-146``: each reducer walks its partition's key-sorted list and
    calls Reduce once per distinct key) — and it is also the fast
    shape: one Arrow stream per partition instead of one pandas
    DataFrame per key (15k tiny groups cost ~10x the whole job).
    Key groups spanning Arrow batch boundaries are carried over, so
    semantics don't depend on batch size. Value order within a key is
    unspecified — exactly like the reference under >1 mapper thread.

    Requires ``pairs`` to be partitioned by key: mr_run's partition-id
    exchange puts every occurrence of a key in its bucket's partition,
    and the ``sortWithinPartitions`` here makes each group contiguous.
    ``mapInPandas`` keeps the partitioning, so the output stays in
    (partition, key) order.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_keys: list[str] = []
        out_vals: list[str] = []
        cur_key: str | None = None
        cur_vals: list[str] = []

        def flush_group() -> None:
            if cur_key is not None:
                for out in reduce_fn(cur_key, iter(cur_vals)):
                    out_keys.append(cur_key)
                    out_vals.append(out)

        for pdf in batches:
            for k, v in zip(pdf["key"], pdf["value"]):
                if k != cur_key:
                    flush_group()
                    cur_key, cur_vals = k, [v]
                else:
                    cur_vals.append(v)
            if len(out_keys) >= 10000:
                yield pd.DataFrame({"key": out_keys, "out": out_vals})
                out_keys, out_vals = [], []
        flush_group()
        yield pd.DataFrame({"key": out_keys, "out": out_vals})

    ordered = pairs.sortWithinPartitions("key")
    return ordered.mapInPandas(run, schema="key string, out string")


def mr_run(
    spark: SparkSession,
    source: DataFrame | str | Sequence[str],
    job: MapReduceJob,
) -> DataFrame:
    """Run a MapReduce job; returns (key, out) rows.

    ``source`` is a lines DataFrame (``value: string``) or text path(s)
    — paths become the reference's multi-file UNION ALL work queue.
    Output partition *p* holds bucket *p* in key order, so the result
    is ordered (bucket, key) like the reference's partition scan
    (``mapreduce.c:131-146``). ``job.partitioner`` must return an int
    in ``[0, num_partitions)``; ``repartitionById`` takes other values
    modulo ``num_partitions`` and sends nulls to partition 0.
    """
    lines = source if isinstance(source, DataFrame) else read_lines(spark, source)
    pairs = _map_phase(lines, job.map_fn)
    # repartitionById requires INT (a bigint id is a type error)
    bucket = job.partitioner(F.col("key"), job.num_partitions).cast("int")
    pairs = pairs.repartitionById(job.num_partitions, bucket)
    return _reduce_phase(pairs, job.reduce_fn)


def MR_Run(
    spark: SparkSession,
    files: Sequence[str] | DataFrame,
    mapper: MapFn,
    num_mappers: int,
    reducer: ReduceFn,
    num_reducers: int,
    partitioner: PartitionExpr | str = "hash",
    num_partitions: int = 32,
) -> DataFrame:
    """Signature-parity wrapper for the reference's library entry point
    (``map___reduce/mapreduce.h:17-20``).

    num_mappers / num_reducers are accepted and ignored (Spark's
    scheduler owns task parallelism; input splits replace the mapper
    work queue, shuffle partitions replace reducer threads).
    ``partitioner`` may be "hash" (MR_DefaultHashPartition analog),
    "range" (MR_SortedPartition analog), or a (key_col, n) -> Column
    callable returning an int in ``[0, n)``, the reference's
    partition-array index; values outside it are taken modulo ``n`` and
    nulls go to partition 0 (``repartitionById``'s placement).
    """
    part: PartitionExpr
    if partitioner == "hash":
        part = hash_partitioner
    elif partitioner == "range":
        part = range_partitioner
    elif callable(partitioner):
        part = partitioner
    else:
        raise ValueError(f"unknown partitioner: {partitioner!r}")
    job = MapReduceJob(
        map_fn=mapper,
        reduce_fn=reducer,
        num_partitions=num_partitions,
        partitioner=part,
        num_mappers=num_mappers,
        num_reducers=num_reducers,
    )
    return mr_run(spark, files if isinstance(files, DataFrame) else list(files), job)


def wordcount_job(num_partitions: int = 32) -> MapReduceJob:
    """The reference ``wordcount`` client (``wordcount.c``) on the facade."""

    def map_fn(line: str) -> Iterable[tuple[str, str]]:
        yield (line, "1")

    def reduce_fn(key: str, values: Iterator[str]) -> Iterable[str]:
        total = 0
        for v in values:
            total += int(v)
        yield str(total)

    return MapReduceJob(map_fn=map_fn, reduce_fn=reduce_fn, num_partitions=num_partitions)


def sort_job(num_partitions: int = 1) -> MapReduceJob:
    """The reference ``sort`` client (``sort.c``) on the facade."""

    def map_fn(line: str) -> Iterable[tuple[str, str]]:
        yield (line, "dummy")

    def reduce_fn(key: str, values: Iterator[str]) -> Iterable[str]:
        for _ in values:
            pass
        yield key

    return MapReduceJob(
        map_fn=map_fn,
        reduce_fn=reduce_fn,
        num_partitions=num_partitions,
        partitioner=range_partitioner,
    )
