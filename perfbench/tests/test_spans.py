"""Span recorder and status-store reader on a tiny local Spark job.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import SpanRecorder, covered  # noqa: E402


@pytest.fixture(scope="module")
def sc():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-spans-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield spark.sparkContext
    spark.stop()


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)


def test_nested_spans_attribute_stages_and_self_time(sc):
    from pyspark.sql import SparkSession

    spark = SparkSession(sc)
    rec = SpanRecorder(sc, enabled=True)
    with rec.span("outer") as counts:
        spark.range(100).collect()  # one stage, no shuffle
        with rec.span("inner"):
            spark.range(10_000).repartition(2).selectExpr("sum(id)").collect()
        counts["rows"] = 100
    assert sc.getLocalProperty("spark.jobGroup.id") is None

    records, totals = rec.finish()
    outer, inner = records
    assert (outer["name"], outer["parent"]) == ("outer", None)
    assert (inner["name"], inner["parent"]) == ("inner", "outer")
    assert outer["rows"] == 100
    # the shuffle belongs to the inner span only
    assert inner["shuffle_bytes"] > 0 and outer["shuffle_bytes"] == 0
    assert inner["tasks"] >= 2 and outer["tasks"] >= 1
    assert outer["self_s"] == pytest.approx(outer["wall_s"] - inner["wall_s"], abs=1e-6)
    for r in records:
        assert 0 <= r["driver_s"] <= r["wall_s"]
        assert 0 < r["max_task_share"] <= 1
        assert r["cpu_s"] > 0
    assert totals["spark.stages"] == outer["stages"] + inner["stages"]
    assert totals["spark.shuffle_write_bytes"] == inner["shuffle_bytes"]
    assert totals["spark.tasks"] == outer["tasks"] + inner["tasks"]


def test_disabled_recorder_records_nothing(sc):
    from pyspark.sql import SparkSession

    rec = SpanRecorder(sc, enabled=False)
    with rec.span("x") as counts:
        assert sc.getLocalProperty("spark.jobGroup.id") is None
        SparkSession(sc).range(10).count()
        counts["n"] = 1
    assert rec.finish() == ([], {})
    assert rec.overhead_s == 0
