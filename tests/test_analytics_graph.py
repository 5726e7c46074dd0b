"""Tests for the round-4 analytics additions: PageRank, KMV sketches,
exact quantiles, DSIR importance scoring, cohort retention."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.operators.analytics import (
    cohort_retention,
    exact_group_quantiles,
)
from ia_hadoop_tools_spark.operators.graph import (
    PR_SCALE,
    degree_stats,
    pagerank,
    symmetric_edges,
)
from ia_hadoop_tools_spark.operators.importance import (
    dsir_scores,
    dsir_select,
    word_bigrams,
)
from ia_hadoop_tools_spark.operators.sketches import (
    kmv_distinct,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)

# ---------------------------------------------------------------------------
# pagerank


def test_pagerank_two_node_cycle(spark):
    """A <-> B must converge to equal ranks at exactly the fixed point.

    Fixed point of the integer rule for a 2-cycle (od=1): r = base +
    85*r div 100; starting from SCALE the sequence is monotone and both
    nodes stay equal every iteration by symmetry.
    """
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    rows = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == rows[2]
    # hand-unroll: r0 = SCALE; r_{i+1} = 150e6 + (85 * r_i) div 100
    r = PR_SCALE
    for _ in range(3):
        r = 150_000_000 + (85 * r) // 100
    assert rows[1] == r


def test_pagerank_star_ranks_hub_highest(spark):
    """Hub of a 4-spoke symmetric star outranks every spoke; spokes tie."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    edges = symmetric_edges(pairs, "src", "dst")
    rows = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    hub, spokes = rows[0], [rows[i] for i in range(1, 5)]
    assert all(hub > s for s in spokes)
    assert len(set(spokes)) == 1


def test_pagerank_cache_edges_auto_from_leaf_estimates(spark, tmp_path):
    """VERDICT r11 #4: cache_edges=None decides from the optimizer's LEAF
    size estimates (zero jobs) — small graphs keep the lazy shape (no
    InMemoryRelation), a leaf set past the budget (8 x maxPartitionBytes)
    persists the edge pipeline, and both shapes return identical ranks."""
    from ia_hadoop_tools_spark.plans.introspect import leaf_bytes

    raw = symmetric_edges(
        spark.createDataFrame(
            [(i, (i * 5) % 17) for i in range(30)], "src long, dst long"
        ).filter("src != dst"),
        "src",
        "dst",
    )
    # parquet-backed leaves carry real size stats (createDataFrame plans
    # are RDD-backed: Long.Max estimates -> the unknown rule, pinned in
    # test_introspect.py)
    raw.write.parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    lazy = pagerank(edges, iterations=3)
    assert "InMemoryTableScan" not in plan_of(lazy)

    # lower the split size so the budget (8 splits) falls to half the
    # leaf size; the decision is taken at construction
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(leaf_bytes(edges) // 16))
    try:
        cached = pagerank(edges, iterations=3)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert "InMemoryTableScan" in plan_of(cached)
    a = {r["node"]: r["rank"] for r in lazy.collect()}
    b = {r["node"]: r["rank"] for r in cached.collect()}
    assert a == b
    for c in cached.pr_caches:
        c.unpersist()


def test_pagerank_leaves_caller_cache_alone(spark, tmp_path):
    """An edge frame the caller persisted stays cached after pagerank:
    it is neither re-persisted nor unpersisted, and it is not handed back
    in pr_caches (the node and out-degree caches still are)."""
    spark.createDataFrame(
        [(i, (i * 5) % 17) for i in range(30)], "src long, dst long"
    ).filter("src != dst").write.parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges")).persist()
    try:
        want = {
            r["node"]: r["rank"]
            for r in pagerank(edges, iterations=4, epsilon=1, eager=True).collect()
        }
        assert edges.is_cached and edges.storageLevel.useMemory
        lazy = pagerank(edges, iterations=4, epsilon=1)
        assert {r["node"]: r["rank"] for r in lazy.collect()} == want
        assert len(lazy.pr_caches) == 2
        assert all(c is not edges for c in lazy.pr_caches)
        for c in lazy.pr_caches:
            c.unpersist()
        assert edges.is_cached and edges.storageLevel.useMemory
    finally:
        edges.unpersist()


def test_pagerank_deterministic_across_partitionings(spark):
    edges = symmetric_edges(
        spark.createDataFrame(
            [(i, (i * 7) % 23) for i in range(40)], "src long, dst long"
        ).filter("src != dst"),
        "src",
        "dst",
    )
    a = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4).collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank(edges.repartition(13), iterations=4).collect()
    }
    assert a == b


def test_pagerank_materialize_every_same_result(spark):
    edges = symmetric_edges(
        spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "src long, dst long"
        ),
        "src",
        "dst",
    )
    lazy = {r["node"]: r["rank"] for r in pagerank(edges, iterations=6).collect()}
    ckpt = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=6, materialize_every=2).collect()
    }
    assert lazy == ckpt


def _fixed_point_graph(spark):
    """8-node random graph whose INTEGER pagerank reaches an exact fixed
    point (consecutive delta 0) at superstep 44 — found by exhaustive
    pure-Python simulation of the same arithmetic; most graphs instead
    settle into a limit cycle of a few 1e-9-scale units."""
    import random as _random

    rng = _random.Random(2)
    pairs = list({(rng.randrange(8), rng.randrange(8)) for _ in range(12)})
    return symmetric_edges(
        spark.createDataFrame(pairs, "src long, dst long").filter("src != dst"),
        "src",
        "dst",
    )


def test_pagerank_epsilon_converges_to_fixed_count_result(spark):
    """Convergence mode on an exact-fixed-point graph: the early-stopped
    vector must be bit-identical to a much larger fixed iteration count,
    with supersteps actually saved."""
    edges = _fixed_point_graph(spark)
    conv = pagerank(edges, iterations=200, epsilon=1, check_every=4)
    got = {r["node"]: r["rank"] for r in conv.collect()}
    assert conv.pr_converged
    assert conv.pr_delta == 0  # exact integer fixed point
    assert conv.pr_supersteps < 80
    # bit-identical to ANY larger fixed count once at the fixed point
    for n_fixed in (conv.pr_supersteps, conv.pr_supersteps + 7):
        fixed = {
            r["node"]: r["rank"]
            for r in pagerank(
                edges, iterations=n_fixed, materialize_every=10
            ).collect()
        }
        assert got == fixed


def test_pagerank_epsilon_practical_tolerance_on_limit_cycle_graph(spark):
    """Graphs that never reach delta 0 (floor-rounding limit cycles a few
    units wide) still converge under any practical tolerance, and the
    result stays within epsilon per node of the cap-count vector's next
    steps — pinned here just for supersteps saved + consistency."""
    edges = symmetric_edges(
        spark.createDataFrame(
            [(i, (i * 7) % 23) for i in range(40)], "src long, dst long"
        ).filter("src != dst"),
        "src",
        "dst",
    )
    out = pagerank(edges, iterations=300, epsilon=1000, check_every=5)
    assert out.pr_converged
    assert out.pr_delta < 1000
    assert out.pr_supersteps < 150  # geometric decay: ~0.85^k * 1e9 < 1e3
    assert out.count() == 40


def test_pagerank_epsilon_cap_reached_not_converged(spark):
    edges = _fixed_point_graph(spark)
    out = pagerank(edges, iterations=2, epsilon=1)
    assert out.pr_supersteps == 2
    assert not out.pr_converged
    fixed = {r["node"]: r["rank"] for r in pagerank(edges, iterations=2).collect()}
    assert {r["node"]: r["rank"] for r in out.collect()} == fixed


def test_pagerank_epsilon_eager_releases_storage(spark):
    from tests.test_bloom_bpe import _n_persistent

    edges = _fixed_point_graph(spark)
    before = _n_persistent(spark)
    out = pagerank(edges, iterations=200, epsilon=1, check_every=4, eager=True)
    assert out.pr_converged
    out.count()
    # only the returned frame's own checkpoint may stay live
    assert _n_persistent(spark) - before <= 1


def test_degree_stats(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    d = {r["node"]: (r["out_degree"], r["in_degree"]) for r in degree_stats(edges).collect()}
    assert d == {1: (2, 0), 2: (1, 1), 3: (0, 2)}


# ---------------------------------------------------------------------------
# KMV sketches


def test_kmv_exact_when_under_k(spark):
    df = spark.createDataFrame(
        [("a", i % 10) for i in range(100)], "g string, v long"
    )
    out = kmv_distinct(df, ["g"], F.col("v").cast("string"), k=64).collect()
    assert len(out) == 1
    assert out[0]["n_kept"] == 10
    assert out[0]["est_distinct"] == 10  # sketch not full -> exact


def test_kmv_estimate_within_error_bound(spark):
    n = 5000
    df = spark.createDataFrame([("g", i) for i in range(n)], "g string, v long")
    out = kmv_distinct(df, ["g"], F.col("v").cast("string"), k=256).collect()[0]
    assert out["n_kept"] == 256
    # standard error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert abs(out["est_distinct"] - n) / n < 0.25


def test_kmv_salted_equals_unsalted(spark):
    df = spark.createDataFrame(
        [("g%d" % (i % 3), i) for i in range(2000)], "g string, v long"
    )
    val = F.col("v").cast("string")
    a = kmv_sketch(df, ["g"], val, k=32, salted=True)
    b = kmv_sketch(df, ["g"], val, k=32, salted=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmv_merge_equals_sketch_of_union(spark):
    left = spark.createDataFrame([("g", i) for i in range(0, 600)], "g string, v long")
    right = spark.createDataFrame(
        [("g", i) for i in range(300, 900)], "g string, v long"
    )
    val = F.col("v").cast("string")
    merged = kmv_merge(
        kmv_sketch(left, ["g"], val, k=48),
        kmv_sketch(right, ["g"], val, k=48),
        ["g"],
        k=48,
    )
    direct = kmv_sketch(left.unionByName(right), ["g"], val, k=48)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    est = kmv_estimate(merged, ["g"], k=48).collect()[0]
    assert abs(est["est_distinct"] - 900) / 900 < 0.6  # k=48: loose bound


# ---------------------------------------------------------------------------
# exact quantiles


def test_exact_group_quantiles_known_values(spark):
    # group x: 1..100 -> p50=50, p90=90, p99=99; ceil semantics
    df = spark.createDataFrame(
        [("x", float(i)) for i in range(1, 101)], "g string, v double"
    )
    row = exact_group_quantiles(df, ["g"], "v").collect()[0]
    assert (row["p50"], row["p90"], row["p99"]) == (50.0, 90.0, 99.0)


def test_exact_group_quantiles_small_group(spark):
    df = spark.createDataFrame([("y", 7.0), ("y", 3.0)], "g string, v double")
    row = exact_group_quantiles(df, ["g"], "v").collect()[0]
    # n=2: idx50=ceil(1)=1 -> 3.0, idx90=ceil(1.8)=2 -> 7.0, idx99=2 -> 7.0
    assert (row["p50"], row["p90"], row["p99"]) == (3.0, 7.0, 7.0)


# ---------------------------------------------------------------------------
# DSIR


def test_word_bigrams_short_docs(spark):
    df = spark.createDataFrame(
        [("a b c",), ("solo",), ("x y",)], "text string"
    )
    rows = df.select(word_bigrams("text").alias("bg")).collect()
    assert rows[0]["bg"] == ["a b", "b c"]
    assert rows[1]["bg"] == []
    assert rows[2]["bg"] == ["x y"]


def test_dsir_scores_target_docs_rank_higher(spark):
    # target docs share a distinctive bigram vocabulary; raw docs don't
    rows = [(i, "alpha beta alpha beta alpha beta", "t") for i in range(10)]
    rows += [(100 + i, "gamma delta gamma delta gamma delta", "r") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    scored = dsir_scores(docs, F.col("kind") == "t").collect()
    by_id = {r["doc_id"]: r["dsir_score"] for r in scored}
    assert min(by_id[i] for i in range(10)) > max(
        by_id[100 + i] for i in range(10)
    )


def test_dsir_select_histogram_matches_global_window(spark):
    rows = [(i, f"w{i % 7} w{(i * 3) % 11} w{i % 5} w{(i + 1) % 7}", i % 3 == 0)
            for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    sel = dsir_select(docs, F.col("is_t"), 1, 4)
    scored = dsir_scores(docs, F.col("is_t"))
    w = Window.orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
    n = scored.count()
    expect = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= n // 4)
        .drop("r")
    )
    assert sorted(r["doc_id"] for r in sel.collect()) == sorted(
        r["doc_id"] for r in expect.collect()
    )


# ---------------------------------------------------------------------------
# retention


def test_cohort_retention_basic(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-02 09:00:00"),
            (2, "2024-01-01 11:00:00"),
            (2, "2024-01-01 12:00:00"),  # same day dedups
            (3, "2024-01-02 08:00:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-02", 0): 1,
    }


def test_cohort_retention_max_offset(spark):
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-20 10:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cohort_retention(ev, max_offset=7).collect()
    assert {r["day_offset"] for r in out} == {0}


def test_pagerank_rejects_bad_iterations(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)


# ---------------------------------------------------------------------------
# triangles


def _tri(spark, pairs):
    from ia_hadoop_tools_spark.operators.graph import triangle_count

    df = spark.createDataFrame(pairs, "src long, dst long")
    return triangle_count(df).collect()[0]["n_triangles"]


def test_triangle_count_k4(spark):
    import itertools

    k4 = list(itertools.combinations(range(4), 2))
    assert _tri(spark, k4) == 4


def test_triangle_count_square_is_zero(spark):
    assert _tri(spark, [(0, 1), (1, 2), (2, 3), (3, 0)]) == 0


def test_triangle_count_direction_and_dupes_ignored(spark):
    # K3 given with mixed directions + duplicates + a pendant edge
    assert _tri(spark, [(1, 2), (2, 1), (3, 2), (1, 3), (3, 4)]) == 1


# ---------------------------------------------------------------------------
# funnel


def _ev(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_funnel_counts_basic(spark):
    from ia_hadoop_tools_spark.operators.funnel import funnel_counts

    ev = _ev(
        spark,
        [
            # u1 completes all three in order
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-01 01:00:00"),
            (1, "c", "2024-01-01 02:00:00"),
            # u2 does b before a: step 2 never completes
            (2, "b", "2024-01-01 00:00:00"),
            (2, "a", "2024-01-01 01:00:00"),
            # u3 reaches step 2 only
            (3, "a", "2024-01-01 00:00:00"),
            (3, "b", "2024-01-01 00:30:00"),
        ],
    )
    out = {r["step"]: r["n_users"] for r in funnel_counts(ev, ("a", "b", "c"), 86400).collect()}
    assert out == {1: 3, 2: 2, 3: 1}


def test_funnel_window_expiry(spark):
    from ia_hadoop_tools_spark.operators.funnel import funnel_counts

    ev = _ev(
        spark,
        [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-03 00:00:00"),  # outside 1-day window
        ],
    )
    out = {r["step"]: r["n_users"] for r in funnel_counts(ev, ("a", "b"), 86400).collect()}
    assert out == {1: 1, 2: 0}


def test_funnel_same_timestamp_does_not_chain(spark):
    from ia_hadoop_tools_spark.operators.funnel import funnel_counts

    ev = _ev(
        spark,
        [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-01 00:00:00"),  # strict >: not counted
        ],
    )
    out = {r["step"]: r["n_users"] for r in funnel_counts(ev, ("a", "b"), 86400).collect()}
    assert out == {1: 1, 2: 0}


def test_funnel_uses_earliest_qualifying_times(spark):
    from ia_hadoop_tools_spark.operators.funnel import funnel_times

    ev = _ev(
        spark,
        [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-01 05:00:00"),
            (1, "b", "2024-01-01 01:00:00"),  # earliest b after a wins
            (1, "c", "2024-01-01 03:00:00"),  # after the EARLIEST b -> valid
        ],
    )
    row = funnel_times(ev, ("a", "b", "c"), 86400).collect()[0]
    assert str(row["t2"]) == "2024-01-01 01:00:00"
    assert str(row["t3"]) == "2024-01-01 03:00:00"


def test_funnel_rejects_single_step(spark):
    from ia_hadoop_tools_spark.operators.funnel import funnel_counts

    ev = _ev(spark, [(1, "a", "2024-01-01 00:00:00")])
    with pytest.raises(ValueError):
        funnel_counts(ev, ("a",), 60)


# ---------------------------------------------------------------------------
# collocations


def test_collocation_scores_ranks_fixed_phrase_top(spark):
    from ia_hadoop_tools_spark.operators.textops import collocation_scores

    # "new york" always adjacent; "the cat/dog/fish..." spreads "the" thin
    rows = [(f"new york trip {i % 7} the w{i % 13} the w{(i * 5) % 13}",)
            for i in range(300)]
    docs = spark.createDataFrame(rows, "text string")
    out = collocation_scores(docs, min_count=10).collect()
    scores = {(r["w1"], r["w2"]): r["score"] for r in out}
    ny = scores[("new", "york")]
    assert all(ny >= s for s in scores.values())
    # discount kills pairs at or below the threshold
    assert all(r["n_pair"] > 5 for r in out)


def test_pagerank_inedge_shortcut_equivalent_on_symmetric_graph(spark):
    edges = symmetric_edges(
        spark.createDataFrame(
            [(i, (i * 11) % 17) for i in range(50)], "src long, dst long"
        ).filter("src != dst"),
        "src",
        "dst",
    )
    full = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4).collect()}
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, iterations=4, all_nodes_have_inedges=True
        ).collect()
    }
    assert full == fast


def test_kmv_null_values_ignored(spark):
    df = spark.createDataFrame(
        [("g", str(i)) for i in range(10)] + [("g", None)] * 3,
        "g string, v string",
    )
    out = kmv_distinct(df, ["g"], F.col("v"), k=8).collect()[0]
    # 10 distinct real values; NULLs must not occupy min-k slots
    assert out["n_kept"] == 8
    small = kmv_distinct(df, ["g"], F.col("v"), k=64).collect()[0]
    assert small["n_kept"] == 10 and small["est_distinct"] == 10


def test_kmv_merge_rejects_larger_k(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame([("g", i) for i in range(100)], "g string, v long")
    s = kmv_sketch(df, ["g"], F.col("v").cast("string"), k=8)
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        kmv_merge(s, s, ["g"], k=16).collect()


def test_expectations_duplicate_rule_kinds(spark):
    from ia_hadoop_tools_spark.operators.expectations import expectations

    df = spark.createDataFrame([(5.0,), (50.0,), (500.0,)], "v double")
    out = [
        r["n_violations"]
        for r in expectations(
            df, [("range", "v", 0, 10), ("range", "v", 0, 100)]
        ).collect()
    ]
    assert out == [2, 1]


def test_zorder_span_guard():
    import pytest

    from ia_hadoop_tools_spark.plans.zorder import _quantize

    with pytest.raises(ValueError, match="2\\^53"):
        _quantize(F.lit(0), 0, 1 << 45, 16)


def test_group_quantiles_ignore_nulls_and_p0_is_min(spark):
    df = spark.createDataFrame(
        [("g", None), ("g", 1), ("g", 2), ("g", 3), ("h", None)],
        "g string, v long",
    )
    from ia_hadoop_tools_spark.operators.analytics import exact_group_quantiles

    rows = exact_group_quantiles(
        df, ["g"], "v", quantiles=[("p0", 0, 1), ("p50", 1, 2), ("p100", 1, 1)]
    ).collect()
    got = {r["g"]: (r["p0"], r["p50"], r["p100"]) for r in rows}
    # percentile_disc semantics over NON-NULL values: [1,2,3] -> 1/2/3;
    # the all-NULL group has no quantiles and is absent
    assert got == {"g": (1, 2, 3)}


def test_bm25_query_terms_pass_through_tokenizer(spark):
    from ia_hadoop_tools_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "dogs bark loud"), (3, "cat and dog")],
        "doc_id long, text string",
    )
    # punctuation/multi-word terms normalize like the corpus tokens
    assert {r["doc_id"] for r in bm25_topk(docs, ["Cat,"], k=5).collect()} == {1, 3}
    both = bm25_topk(docs, ["cat sat"], k=5).collect()
    assert both[0]["doc_id"] == 1  # matches both terms, ranks first
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no tokens"):
        bm25_topk(docs, ["!!!"], k=5)


def test_bm25_duplicate_terms_weight_the_summand(spark):
    from ia_hadoop_tools_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog dog bird")],
        "doc_id long, text string",
    )
    single = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, ["cat"], k=5).collect()}
    double = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, ["cat", "cat"], k=5).collect()}
    # scores are rounded to 6 decimals AFTER summing, so compare within
    # one rounding step of the doubled single-term score
    assert abs(double[1] - 2 * single[1]) <= 2e-6


def test_graph_rejects_non_integral_node_ids(spark):
    import pytest as _pytest

    from ia_hadoop_tools_spark.operators.graph import (
        symmetric_edges,
        triangle_count,
    )

    hosts = spark.createDataFrame(
        [("a.com", "b.com")], "s string, d string"
    )
    with _pytest.raises(ValueError, match="integral ids"):
        symmetric_edges(hosts, "s", "d")
    with _pytest.raises(ValueError, match="integral ids"):
        triangle_count(hosts, "s", "d")


def test_graph_eager_mode_releases_internal_storage(spark):
    from ia_hadoop_tools_spark.operators.graph import pagerank, triangle_count

    edges = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)]
        + [((i + 1) % 30, i) for i in range(30)],
        "src long, dst long",
    )

    def n_persist():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persist()
    lazy = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4).collect()}
    eager_df = pagerank(edges, iterations=4, materialize_every=2, eager=True)
    got = {r["node"]: r["rank"] for r in eager_df.collect()}
    assert got == lazy
    # only the returned frame's own checkpoint may remain
    assert n_persist() - before <= 1

    before = n_persist()
    n_lazy = triangle_count(edges).collect()[0]["n_triangles"]
    n_eager = triangle_count(edges, eager=True).collect()[0]["n_triangles"]
    assert n_eager == n_lazy
    assert n_persist() - before <= 1  # lazy call's persist; eager's released


def test_group_quantiles_reject_empty_quantiles(spark):
    import pytest

    from ia_hadoop_tools_spark.operators.analytics import (
        approx_group_quantiles,
    )

    df = spark.createDataFrame([("g", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="at least one quantile"):
        exact_group_quantiles(df, ["g"], "v", quantiles=())
    with pytest.raises(ValueError, match="at least one quantile"):
        approx_group_quantiles(df, ["g"], "v", quantiles=())
