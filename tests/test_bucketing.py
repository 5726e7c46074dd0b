"""Bucketed co-located join (shuffle-free SMJ) + boundary sampling tests."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.plans.bucketing import bucketed_tables_join, write_bucketed
from ia_hadoop_tools_spark.plans.introspect import plan_has_exchange
from ia_hadoop_tools_spark.plans.partitioning import assign_range_ids, sample_boundaries


@pytest.fixture()
def warehouse(spark, tmp_path):
    old = spark.conf.get("spark.sql.warehouse.dir", None)
    yield str(tmp_path / "wh")
    for t in ("b_left", "b_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, warehouse, tmp_path):
    a = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    b = spark.range(2500).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    write_bucketed(a, "b_left", "k", n_buckets=8, path=str(tmp_path / "l"))
    write_bucketed(b, "b_right", "k", n_buckets=8, path=str(tmp_path / "r"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_tables_join(spark, "b_left", "b_right", "k")
        assert not plan_has_exchange(j), "bucketed join must not shuffle"
        assert j.count() == 2500

        # contrast: the same join over raw (unbucketed) frames shuffles
        raw = a.join(b, "k")
        assert plan_has_exchange(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_sample_boundaries_string_keys(spark):
    df = spark.createDataFrame(
        [(f"k{i:05d}",) for i in range(10000)], "urlkey: string"
    )
    bounds = sample_boundaries(df, "urlkey", 4, sample_size=2000)
    assert 1 <= len(bounds) <= 3
    assert bounds == sorted(bounds)
    # boundaries split the key space into non-degenerate ranges
    ided = assign_range_ids(df, bounds, "urlkey")
    sizes = {r.range_id: r.n for r in ided.groupBy("range_id").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) == len(bounds) + 1 or len(sizes) == len(bounds)
    assert min(sizes.values()) > 500  # roughly balanced

    # determinism
    assert bounds == sample_boundaries(df, "urlkey", 4, sample_size=2000)


def test_sample_boundaries_single_job_no_precount(spark):
    """The sample is one TakeOrdered job — no full-table count() first
    (the old path scanned the table twice; at 100 TB the extra scan per
    re-shard is real money)."""
    df = spark.createDataFrame(
        [(f"k{i:05d}",) for i in range(5000)], "urlkey: string"
    )
    sc = spark.sparkContext
    group = "sample-boundaries-job-probe"
    sc.setJobGroup(group, "exactly one job may appear here")
    try:
        bounds = sample_boundaries(df, "urlkey", 4, sample_size=1000)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "")
    assert len(bounds) >= 1
    assert len(list(jobs or [])) == 1


def test_boundaries_from_summary_matches_data_path(spark, tmp_path):
    """ZipNumPartitioner mode: boundaries sampled from an existing
    cluster's ALL.summary (zero data-file reads) split the data as evenly
    as boundaries sampled from the rows themselves."""
    from ia_hadoop_tools_spark.plans.partitioning import boundaries_from_summary
    from ia_hadoop_tools_spark.sources.zipnum import write_zipnum

    lines = sorted(f"k{i:05d} 20200101000000 x" for i in range(6000))
    df = spark.createDataFrame([(l,) for l in lines], "value: string")
    d = str(tmp_path / "cluster")
    write_zipnum(df, d, lines_per_block=10, num_shards=2)

    keyed = spark.createDataFrame(
        [(l.split(" ")[0],) for l in lines], "urlkey: string"
    )
    for bounds in (
        boundaries_from_summary(spark, d, 4),
        sample_boundaries(keyed, "urlkey", 4, sample_size=3000),
    ):
        assert 1 <= len(bounds) <= 3 and bounds == sorted(bounds)
        # interior boundaries -> range starts: prepend range 0's start
        ided = assign_range_ids(keyed, [""] + bounds, "urlkey")
        sizes = [
            r.n
            for r in ided.groupBy("range_id").agg(F.count("*").alias("n")).collect()
        ]
        # each range within 2x of an even split
        assert min(sizes) > 6000 / 4 / 2 and max(sizes) < 6000 / 4 * 2
    # summary path is deterministic too
    assert boundaries_from_summary(spark, d, 4) == boundaries_from_summary(
        spark, d, 4
    )


def test_plan_has_exchange_ignores_broadcast(spark):
    """A broadcast join has no shuffle: the diagnostic must answer False
    (the substring 'Exchange' also matched BroadcastExchange)."""
    from pyspark.sql import functions as F

    big = spark.range(1000).withColumnRenamed("id", "k")
    small = spark.range(10).withColumnRenamed("id", "k")
    j = big.join(F.broadcast(small), "k")
    assert not plan_has_exchange(j)
    assert plan_has_exchange(big.repartition(7, "k"))
