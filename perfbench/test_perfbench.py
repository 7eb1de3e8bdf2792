"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from status import StatusReader, union_length  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from big_data_flight_analytics_spark.session import session_builder

    s = (session_builder(app_name="perfbench-tests", master="local[2]",
                         shuffle_partitions=2)
         .config("spark.driver.memory", "1g").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _inputs(spark, root, seed):
    paths = gen.write_flight_inputs(seed, os.path.join(root, "f"), 3000, 200)
    gen.write_feed(spark, seed, os.path.join(root, "feed"), 3, 50, 200)
    gen.write_catalog_tables(os.path.join(root, "c"), seed, 40, 30)
    return gen.digest([os.path.dirname(paths["raw"]),
                       os.path.join(root, "feed"), os.path.join(root, "c")])


def test_same_seed_same_digest_other_seed_other_digest(spark, tmp_path):
    a = _inputs(spark, str(tmp_path / "a"), 7)
    b = _inputs(spark, str(tmp_path / "b"), 7)
    c = _inputs(spark, str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_feed_late_events_and_sentinel(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "feed")
    n = gen.write_feed(spark, 3, path, 5, 40, 100)
    assert sorted(os.listdir(path)) == [f"events-{i:04d}.json"
                                        for i in range(6)]
    df = spark.read.json(path).withColumn("f", F.regexp_extract(
        F.input_file_name(), r"events-(\d+)", 1).cast("long"))
    assert df.count() == n == 5 * 40 + 1
    minute = F.lit(gen.FEED_T0) + F.col("f") * 60
    late = df.filter(F.col("timestamp") < minute)
    assert late.count() == gen.late_events(5) == 3 * gen.LATE_PER_FILE
    # every late event is older than the watermark two files back
    assert late.filter(F.col("timestamp") >= minute - 120).count() == 0
    # each late event in a file is its own (airline, airport) group
    per_file = late.groupBy("f").agg(
        F.countDistinct(F.substring("callsign", 1, 3)).alias("a"),
        F.countDistinct("latitude").alias("p"), F.count("*").alias("n"))
    assert all(r.a == r.n == r.p for r in per_file.collect())
    top = df.agg(F.max("timestamp")).first()[0]
    assert top == gen.FEED_T0 + 5 * 60 + 3600


def test_union_length():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(1, 4), (1, 4), (2, 3)], 0, 10) == 3


def test_driver_self_time_plus_job_union_is_query_wall(spark):
    reader = StatusReader(spark)
    df = spark.range(0, 20000, numPartitions=2).selectExpr(
        "id % 7 AS k", "id").groupBy("k").count()
    t0 = time.time()
    rows = df.collect()
    time.sleep(0.05)  # driver-only time after the last job
    t1 = time.time()
    w = reader.snapshot(t0, t1).window(t0, t1)
    assert len(rows) == 7
    assert w.jobs, "the query's jobs must be found in its window"
    assert all(t0 <= j.start <= j.end <= t1 + 1e-3 for j in w.jobs)
    union = w.job_union_s()
    assert 0 < union < w.wall_s
    assert w.driver_self_s >= 0.05 - 2e-3  # the sleep, at ms resolution
    assert w.driver_self_s + union == pytest.approx(t1 - t0, abs=1e-9)
    assert w.stages and w.tasks >= 2
    assert len(w.sql) == 1 and w.exchanges >= 1
