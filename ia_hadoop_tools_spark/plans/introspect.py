"""Plan introspection: the one module that reaches Spark's private handles.

Several execution decisions are taken at plan-build time, with zero Spark
jobs, from what the optimizer already knows: whether a small input is
spread over the cores (``textops.ensure_min_partitions``), whether a Bloom
build needs a second reduce level (``bloom._needs_mask_reduce``), whether
PageRank persists its edge pipeline (``graph.pagerank``).  PySpark exposes
none of those statistics publicly, so they are read through the JVM plan
(``DataFrame._jdf``, ``SparkContext._jvm``).  Every such access lives here,
behind one contract and one failure policy; a Spark upgrade that breaks a
private API breaks this module's tests, not the decisions in production.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

#: leaf estimates at or above this are Spark's "no statistics" sentinel
#: (``spark.sql.defaultSizeInBytes``, Long.MaxValue): RDD-backed frames
#: such as ``createDataFrame`` over local rows report it
_UNKNOWN_BYTES = 1 << 62


def leaf_bytes(df: DataFrame) -> int | None:
    """Sum of the optimized plan's LEAF size estimates, with zero jobs.

    Leaves bound what the plan can produce (any derived table is at most
    join-multiplied leaf data), whereas the root estimate is inflated by
    non-CBO join estimates.  Cached and checkpointed inputs carry real
    estimates (an ``InMemoryRelation`` or ``LogicalRDD`` leaf sized from
    the cached plan or the materialized blocks).

    Returns ``None`` when any leaf has no statistics or the read raises;
    a failed read logs one WARNING with the exception.  Each caller states
    what ``None`` means for its decision.
    """
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        sizes = [
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        ]
    except Exception as exc:
        logger.warning("optimizer leaf-size read failed: %r", exc, exc_info=True)
        return None
    if any(n >= _UNKNOWN_BYTES for n in sizes):
        return None
    return sum(sizes)


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes (Spark byte strings
    such as ``128m`` are parsed by Spark's own parser)."""
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        return int(raw)
    except ValueError:
        jvm = spark.sparkContext._jvm
        return int(jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))


def explain_string(df: DataFrame, mode: str) -> str:
    """The plan text ``df.explain(mode)`` prints, returned instead."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'ed DataFrame's storage blocks.

    ``DataFrame.unpersist`` only uncaches CacheManager entries; the
    checkpoint's blocks belong to the RDD inside the LogicalRDD leaf and
    otherwise wait for the ContextCleaner — which in a long iterative
    loop means executor storage fills with stale checkpoint blocks.
    Best-effort: a failure just defers to the cleaner.  Only call once
    nothing can recompute THROUGH the checkpoint (i.e. a newer checkpoint
    is materialized).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a SHUFFLE Exchange — test/diagnostic
    helper for asserting co-located layouts actually avoided the shuffle.
    BroadcastExchange (no shuffle) and ReusedExchange wrappers around it do
    NOT count: a broadcast join is precisely the no-shuffle outcome this
    helper exists to recognize."""
    plan = explain_string(df, "simple")
    return any(
        marker in plan
        for marker in ("Exchange hashpartitioning", "Exchange rangepartitioning",
                       "Exchange SinglePartition")
    )
