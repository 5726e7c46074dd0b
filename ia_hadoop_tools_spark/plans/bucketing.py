"""Bucketed (co-located) storage — the shuffle-free-join scale path.

The reference co-locates work by writing alphabetically range-partitioned
shards and merge-scanning them map-side (`MergeClusters` with
``setNumReduceTasks(0)``, jobs/MergeClusters.java:152). Spark's equivalent
contract is BUCKETED TABLES: both sides hash-bucketed and sorted on the join
key produce a sort-merge join with NO Exchange on either side
(``SelectedBucketsCount`` in the scan, no shuffle) — the decisive layout for
repeated big-big joins (captures x captures, captures x policy history) at
100 TB, where one saved shuffle is tens of TB of network.

Bucket counts should be sized so one bucket of the bigger table fits an
executor's memory (same envelope arithmetic as shards-per-cluster in the
reference). Bucketing requires the session catalog (in-memory catalog works;
no Hive needed) and a warehouse dir with room for the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str] | str,
    n_buckets: int = 32,
    sort_cols: Sequence[str] | str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (+optionally sorted) Parquet table.

    ``sort_cols`` defaults to ``bucket_cols`` — bucketed AND sorted is what
    lets the join skip both the Exchange and (with matching sort) the Sort.
    ``path`` makes it an external table (data outside the warehouse dir).
    """
    bcols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    scols = (
        bcols
        if sort_cols is None
        else ([sort_cols] if isinstance(sort_cols, str) else list(sort_cols))
    )
    w = df.write.mode(mode).bucketBy(n_buckets, *bcols).sortBy(*scols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def bucketed_tables_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables (shuffle-free when bucket specs
    match). Thin wrapper — the point is the layout, not the call."""
    keys = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), on=keys, how=how)

