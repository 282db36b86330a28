"""tools/measure.py times the full result and releases the query's
pins, bench.py times through it, and tools/ab_pins.py notices an arm
that a query never reaches."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import ab_pins  # noqa: E402
import bench  # noqa: E402
import measure  # noqa: E402

from tests.test_plans import SF  # noqa: E402

needs_data = pytest.mark.skipif(not os.path.isdir(SF), reason="testdata absent")


def test_timed_forces_the_full_result(spark, monkeypatch):
    def boom(spark_, _sf_dir):
        return spark_.range(3).select("id", F.raise_error(F.lit("boom")).alias("err"))

    # count() prunes the failing column, so it never runs
    assert boom(spark, SF).count() == 3
    with pytest.raises(Exception, match="boom"):
        measure.timed(spark, boom, SF)

    # bench.py's timing loop goes through timed: an error, and no time
    monkeypatch.setitem(bench.QUERIES, "boom", boom)
    errors: dict[str, str] = {}
    assert bench._time(spark, "boom", SF, errors) is None
    assert "boom" in errors["boom"]


def test_timed_unpersists_the_pins_of_the_query(spark):
    from p6__mapreduce_spark.functions.pin import pin

    pinned = []

    def pins(spark_, _sf_dir):
        pinned.append(pin(spark_.range(10)))
        return pinned[0].union(pinned[0])

    measure.timed(spark, pins, SF)
    assert pinned
    level = pinned[0].storageLevel
    assert not (level.useMemory or level.useDisk), level


@needs_data
def test_pin_arm_reached_only_by_a_pinned_query(spark):
    pinned = ab_pins.equivalence(spark, "dedup_minhash_lsh", SF, "cut")
    assert pinned["arm_reached"] and pinned["rows_equal"]
    pin_free = ab_pins.equivalence(spark, "wordcount_lines", SF, "cut")
    assert not pin_free["arm_reached"]


@needs_data
def test_stream_cores_arm_reached_by_a_runner(spark):
    line = ab_pins.equivalence(spark, "events_dedup_streaming", SF, "stream-cores")
    assert line["arm_reached"] and line["rows_equal"]
