"""plans/introspect: the one reader of Spark's private plan handles, and
the failure policy of every zero-job decision built on it."""

from __future__ import annotations

import logging
import re
from pathlib import Path

from ia_hadoop_tools_spark.operators.graph import pagerank
from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions
from ia_hadoop_tools_spark.plans.bloom import _needs_mask_reduce
from ia_hadoop_tools_spark.plans.introspect import explain_string, leaf_bytes

REPO = Path(__file__).resolve().parent.parent
PRIVATE_HANDLE = re.compile(r"\._(jdf|jvm|jsc|sc)\b|collectLeaves")


class _BrokenPlan:
    def queryExecution(self):
        raise RuntimeError("plan handle unavailable")


def _rdd_backed(spark):
    # createDataFrame over local rows plans a LogicalRDD: no statistics
    return spark.createDataFrame(
        [(i, (i * 3) % 11) for i in range(20)], "src long, dst long"
    ).filter("src != dst")


def test_leaf_bytes_reads_parquet_statistics(spark, tmp_path):
    """A Spark upgrade that breaks the private plan API fails here instead
    of silently changing decisions."""
    spark.range(100).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    size = leaf_bytes(df)
    assert isinstance(size, int) and size > 0
    # a join sums its leaves
    assert leaf_bytes(df.crossJoin(df.withColumnRenamed("id", "x"))) == 2 * size


def test_leaf_bytes_unknown_for_rdd_backed_frames(spark, caplog):
    with caplog.at_level(logging.WARNING):
        assert leaf_bytes(_rdd_backed(spark)) is None
    assert not caplog.records


def test_leaf_bytes_failed_read_returns_none_and_warns(spark, monkeypatch, caplog):
    df = spark.range(10)
    monkeypatch.setattr(df, "_jdf", _BrokenPlan())
    with caplog.at_level(logging.WARNING, logger="ia_hadoop_tools_spark.plans.introspect"):
        assert leaf_bytes(df) is None
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "plan handle unavailable" in warnings[0].getMessage()


def test_ensure_min_partitions_unknown_size_is_noop(spark, monkeypatch):
    df = _rdd_backed(spark)
    out = ensure_min_partitions(df, 4)
    assert out is df
    assert "RoundRobinPartitioning" not in explain_string(out, "simple")
    # a failed read is a no-op too: nothing runs, nothing is planned
    broken = spark.range(10)
    monkeypatch.setattr(broken, "_jdf", _BrokenPlan())
    assert ensure_min_partitions(broken, 4) is broken


def test_ensure_min_partitions_spreads_small_known_input(spark, tmp_path):
    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "t"))
    out = ensure_min_partitions(spark.read.parquet(str(tmp_path / "t")), 4)
    assert "RoundRobinPartitioning(4)" in explain_string(out, "simple")


def test_mask_reduce_applied_when_size_unknown(spark, monkeypatch):
    assert _needs_mask_reduce(_rdd_backed(spark))
    broken = spark.range(10)
    monkeypatch.setattr(broken, "_jdf", _BrokenPlan())
    assert _needs_mask_reduce(broken)
    assert not _needs_mask_reduce(spark.range(10))


def test_pagerank_stays_lazy_when_size_unknown(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1")  # any known size would exceed the budget
    try:
        ranks = pagerank(_rdd_backed(spark), iterations=2)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert ranks.pr_caches == ()
    assert "InMemoryTableScan" not in explain_string(ranks, "simple")


def test_private_handles_only_in_introspect():
    """Private Spark handles are read in plans/introspect.py only."""
    sources = list((REPO / "ia_hadoop_tools_spark").rglob("*.py"))
    sources.append(REPO / "scripts" / "dump_plans.py")
    allowed = REPO / "ia_hadoop_tools_spark" / "plans" / "introspect.py"
    hits = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sources
        if path != allowed
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if PRIVATE_HANDLE.search(line)
    ]
    assert hits == []
