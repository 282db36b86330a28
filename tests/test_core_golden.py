"""Golden tests porting the reference's 25-test CLI matrix (SURVEY.md §5).

Expected outputs are computed from first principles (Counter /
sorted-set / uint32 bucket model) exactly as the reference's golden
files were; thread-count assertions become partition-invariance checks.
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

from p6__mapreduce_spark.operators.core import distinct_sorted, line_count, range_bucket_sort
from p6__mapreduce_spark.operators.mapreduce import (
    MapReduceJob,
    hash_partitioner,
    mr_run,
    range_partitioner,
    sort_job,
    wordcount_job,
)
from p6__mapreduce_spark.sources.readers import read_lines
from tests import conftest as fx


def u32_bucket(key: str, p: int) -> int:
    """Python model of MR_SortedPartition (mapreduce.c:229-258)."""
    if p == 1:
        return 0
    bits = (p - 1).bit_length()
    try:
        v = int(key)
    except ValueError:
        v = 0
    return (v & 0xFFFFFFFF) >> (32 - bits)


# --- sort path (tests/1-3, 5-8, 11-12, 21-24 analogs) ----------------------

@pytest.mark.parametrize("gen", [fx.f1_tiny, fx.f1_sorted, fx.f1_reverse, fx.f1_medium])
def test_distinct_sorted_matches_c_sort_u(spark, gen):
    lines = gen()
    got = [r.key for r in distinct_sorted(fx.lines_df(spark, lines)).collect()]
    assert got == sorted(set(lines))  # python str sort == strcmp for ASCII


@pytest.mark.parametrize("p", [2, 4, 8])
@pytest.mark.parametrize("gen", [fx.f1_tiny, fx.f1_medium])
def test_range_bucket_sort_order(spark, gen, p):
    lines = gen()
    got = [(r.bucket, r.key) for r in range_bucket_sort(fx.lines_df(spark, lines), num_partitions=p).collect()]
    want = sorted({(u32_bucket(k, p), k) for k in lines})
    assert got == want


def test_uint32_wrap_lands_in_top_bucket(spark):
    # tests/11.out semantics: 3333333333 (uint32 top-2-bits = 3) sorts after
    # byte-wise-larger keys in lower buckets
    got = [r.key for r in range_bucket_sort(fx.lines_df(spark, fx.f1_tiny()), num_partitions=4).collect()]
    assert got == ["1000000000", "42", "7", "3333333333"]


# --- wordcount path (tests/4, 9-10, 13-20, 25 analogs) ----------------------

@pytest.mark.parametrize("gen", [fx.f1_medium, fx.f2_words])
def test_line_count_matches_counter(spark, gen):
    lines = gen()
    got = [(r.key, r.cnt) for r in line_count(fx.lines_df(spark, lines)).collect()]
    assert got == sorted(Counter(lines).items())


def test_line_count_byte_order_uppercase_first(spark):
    # tests/4.out: 'Venus' sorts before 'abuse' (byte-wise, not locale)
    got = [r.key for r in line_count(fx.lines_df(spark, ["abuse", "Venus", "abuse"])).collect()]
    assert got == ["Venus", "abuse"]


def test_multifile_union(spark, tmp_path):
    # tests/19 analog: 8 files processed as one dataset; counts aggregate
    # ACROSS files (mapreduce.c:108-124 work-queue semantics)
    all_lines: list[str] = []
    paths = []
    for i in range(8):
        chunk = [str((i * 37 + j) % 50) for j in range(100)]
        f = tmp_path / f"{i}.txt"
        f.write_text("\n".join(chunk) + "\n")
        paths.append(str(f))
        all_lines += chunk
    got = [(r.key, r.cnt) for r in line_count(read_lines(spark, paths)).collect()]
    assert got == sorted(Counter(all_lines).items())


# --- MR facade parity (entry point C) ---------------------------------------

def test_facade_wordcount_matches_native(spark):
    lines = fx.f2_words()
    df = fx.lines_df(spark, lines)
    # hash buckets, then key order within a bucket: the native sorted
    # counts re-sorted by the same bucket expression
    facade = [(r.key, int(r.out)) for r in mr_run(spark, df, wordcount_job(4)).collect()]
    bucketed = line_count(df).select("key", "cnt", hash_partitioner(F.col("key"), 4).alias("bucket"))
    native = [(r.key, r.cnt) for r in bucketed.orderBy("bucket", "key").collect()]
    assert facade == native


@pytest.mark.parametrize("p", [1, 4])
def test_facade_sort_matches_reference_order(spark, p):
    lines = fx.f1_tiny() + fx.f1_tiny()  # duplicates must be dropped
    got = [r.key for r in mr_run(spark, fx.lines_df(spark, lines), sort_job(p)).collect()]
    want = [k for _, k in sorted({(u32_bucket(k, p), k) for k in lines})]
    assert got == want


@pytest.mark.parametrize("p", [1, 3, 8])
@pytest.mark.parametrize("partitioner", [hash_partitioner, range_partitioner])
def test_facade_calls_map_once_per_line_reduce_once_per_key(spark, partitioner, p):
    # 37 keys spread over the uint32 range so every range bucket is used;
    # interleaved so a key's lines are not adjacent in the input
    keys = [str(i * 116_000_000) for i in range(37)]
    lines = [k for i, k in enumerate(keys) for _ in range(i % 3 + 1)]
    lines = lines[1::2] + lines[::2]
    map_calls = spark.sparkContext.accumulator(0)
    reduce_calls = spark.sparkContext.accumulator(0)

    def map_fn(line):
        map_calls.add(1)
        yield (line, "1")

    def reduce_fn(key, values):
        reduce_calls.add(1)
        yield f"n={sum(int(v) for v in values)}"
        yield "end"

    job = MapReduceJob(map_fn=map_fn, reduce_fn=reduce_fn, num_partitions=p, partitioner=partitioner)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    # two-row Arrow batches: key groups span batch boundaries on both sides
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = mr_run(spark, fx.lines_df(spark, lines), job).select(
            "key",
            "out",
            partitioner(F.col("key"), p).alias("bucket"),
            F.spark_partition_id().alias("pid"),
        )
        rows = out.collect()
        empty = mr_run(spark, fx.lines_df(spark, []), job).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert map_calls.value == len(lines)
    assert reduce_calls.value == len(keys)
    counts = Counter(lines)
    bucket_of = {r.key: r.bucket for r in rows}
    want = [
        (k, out)
        for k in sorted(counts, key=lambda k: (bucket_of[k], k))
        for out in (f"n={counts[k]}", "end")
    ]
    assert [(r.key, r.out) for r in rows] == want
    assert all(r.pid == r.bucket for r in rows)
    if partitioner is range_partitioner:
        bits = p.bit_length() - 1  # MR_SortedPartition: floor(log2 p) top bits
        assert bucket_of == {k: int(k) >> (32 - bits) if bits else 0 for k in keys}
    assert empty == []


# --- partition invariance (replaces thread-count checks, SURVEY.md §5) ------

@pytest.mark.parametrize("partitions", [1, 3, 16])
def test_results_invariant_to_shuffle_width(spark, partitions):
    lines = fx.f1_medium()
    df = fx.lines_df(spark, lines).repartition(partitions)
    got = [(r.key, r.cnt) for r in line_count(df).collect()]
    assert got == sorted(Counter(lines).items())
    got_d = [r.key for r in distinct_sorted(df).collect()]
    assert got_d == sorted(set(lines))
