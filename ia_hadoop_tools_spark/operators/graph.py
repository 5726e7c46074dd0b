"""Link-graph analytics: Pregel-style iterative PageRank on DataFrames.

A web archive's CDX cluster is one half of the archive's value; the other
half is the link graph extracted from WAT outlinks (the reference's WAT
pipeline, jobs/WATGenerator.java:48-120, exists to feed exactly this kind
of host-graph analysis). This module is the iterative-algorithm pattern
the engine needs for it: rank propagation as a per-iteration
join + aggregate, expressed so every iteration is one shuffle keyed on
the destination node.

Determinism contract: ranks are computed in SCALED INTEGER arithmetic
(bigint, scale = 1e9) with floor division, so the result is bit-exact
regardless of partitioning, accumulation order, or engine — a fixed
iteration count unrolls to plain ANSI SQL (see
``analytics_queries.SQL_PAGERANK``) and hashes identically. Floating
point would make sum order observable; integers make the oracle exact.

Scale shape (100 TB graph): edges are the big table; they are joined
once with out-degrees and persisted partitioned by ``src``, so each
iteration shuffles only the rank vector (one skinny (node, rank) row per
node) to the edge partitioning, then one groupBy(dst) shuffle for the
new ranks — the classic Pregel superstep cost, linear in |E| per
iteration with no driver-side state. ``materialize_every`` optionally
cuts lineage for deep iteration counts; the default keeps construction
fully lazy (no Spark job until the caller acts).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.plans.introspect import (
    leaf_bytes,
    max_partition_bytes,
    release_local_checkpoint,
)

#: fixed-point scale: rank 1.0 == 1_000_000_000
PR_SCALE = 1_000_000_000
#: damping factor 0.85 as an exact rational
DAMP_NUM, DAMP_DEN = 85, 100

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _node_col(df: DataFrame, name: str):
    """Validated bigint node-id column. Non-integral ids (e.g. host
    strings from a WAT link graph) must be pre-mapped by the caller —
    a silent cast('long') would turn them all NULL and return an empty
    (or single-NULL-node) graph with no error."""
    dtype = dict(df.dtypes).get(name)
    if dtype not in _INTEGRAL:
        raise ValueError(
            f"node id column {name!r} has type {dtype!r}; graph operators "
            "need integral ids — pre-map strings, e.g. "
            "F.xxhash64(col) or a dense-id join"
        )
    return F.col(name).cast("long")


def _damp_expr(c: str) -> str:
    """Exact overflow-free rewrite of ``(DAMP_NUM * c) div DAMP_DEN``
    for non-negative c: with c = DAMP_DEN*q + r this equals
    DAMP_NUM*q + (DAMP_NUM*r) div DAMP_DEN — same value, but the
    intermediate never exceeds the result (85 * a mega-hub's summed
    contributions could overflow bigint at web scale)."""
    return (
        f"({DAMP_NUM} * (({c}) div {DAMP_DEN}) "
        f"+ ({DAMP_NUM} * (({c}) % {DAMP_DEN})) div {DAMP_DEN})"
    )


def symmetric_edges(pairs: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Distinct directed edges both ways from a (src, dst) pair table.

    Symmetrizing guarantees every node has out-degree >= 1, so no rank
    mass dangles (the undirected-PageRank convention).
    """
    fwd = pairs.select(
        _node_col(pairs, src_col).alias("src"),
        _node_col(pairs, dst_col).alias("dst"),
    )
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).distinct()


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = PR_SCALE,
    materialize_every: int | None = None,
    cache_edges: bool | None = None,
    all_nodes_have_inedges: bool = False,
    eager: bool = False,
    epsilon: int | None = None,
    check_every: int = 1,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list (``src``, ``dst``).

    Update rule (all bigint, ``div`` = floor division)::

        contrib(u)   = rank_i(u) div outdeg(u)
        rank_{i+1}(v) = (15 * scale) div 100
                      + (85 * sum_{u->v} contrib(u)) div 100

    Ranks start at ``scale`` (1.0) per node — the unnormalized
    convention, so ranks are comparable across graph sizes. Nodes with
    no in-edges settle at the teleport floor. Dangling nodes (out-degree
    0, only possible on asymmetric graphs) contribute nothing, matching
    the "leaked mass" PageRank variant.

    Returns (``node`` long, ``rank`` long). Lazy: builds a ``2 *
    iterations``-join plan; pass ``materialize_every=k`` to
    localCheckpoint the rank vector every k iterations (runs jobs
    eagerly — only worth it past ~10 iterations, where plan depth itself
    becomes the cost). ``eager=True`` (ACTION) materializes the final
    vector and releases every internal persist and superseded
    checkpoint — long-lived-session mode; only the returned frame's own
    checkpoint blocks stay live.

    ``all_nodes_have_inedges=True`` (safe on symmetric graphs, where
    every node is some edge's dst) drops the per-iteration left join
    against the node list — the join only exists to hand in-edge-less
    nodes their teleport floor, so when none exist it is one shuffle per
    superstep of pure overhead.

    ``cache_edges`` default (round 12 — auto-decided, VERDICT r11 #4):
    ``True`` when checkpoints/convergence split the run into multiple
    actions (``materialize_every``/``epsilon``), where exchange reuse
    stops and the cache pays for itself, OR when the edge plan's LEAF
    size estimates exceed 8 x maxPartitionBytes (1 GiB at the default
    128 MB split) — at that size the lazy shape's ~2x-per-superstep
    re-execution of the edge pipeline re-pays the dominant scan+shuffle
    every iteration.  Measured crossover (OPTIMIZATION_r12.md §4 and
    BASELINE.md "Round-12 PAGERANK CACHE CROSSOVER": the registry
    part<->supplier graph, 5 supersteps, 8 GB heap): 21 MB leaves
    (sf0.1) lazy wins x1.2-1.65; 213 MB (sf1) parity; 2.1 GB (sf10) the
    lazy shape FAILS with SparkOutOfMemoryError — its subtrees execute
    concurrently within one action and exhaust execution memory — while
    the cached shape completes in ~95 s.  Any budget inside (256 MB, 2 GB) satisfies the
    measurements; 1 GiB is the midpoint and scales with the configured
    split size.  Small graphs keep the LAZY shape: within a single
    action the duplicated subtrees are cheap codegen pipelines running
    concurrently, and persisting measured ~20% SLOWER at bench SFs (the
    InMemoryRelation materialization serializes the run — round-11 A/B).
    Unknown-size leaves (RDD-backed frames such as ``createDataFrame``
    over local rows) and a failed statistics read stay lazy.  A cached
    or checkpointed input carries its real size and follows the budget.
    The decision costs zero jobs (optimizer leaf stats only) and is
    visible in the plan (InMemoryRelation appears only above the
    threshold).  An input the caller has already persisted is used as it
    is: ``pagerank`` neither persists nor unpersists it, and it is not
    among ``pr_caches``.

    ``epsilon`` (scaled-integer units, e.g. ``scale // 10**6`` for 1e-3
    rank units) switches to CONVERGENCE MODE: ``iterations`` becomes the
    cap, and every ``check_every`` supersteps the loop materializes the
    rank vector (eager localCheckpoint, node-sized), runs ONE more
    superstep, and compares the two CONSECUTIVE vectors; it stops when
    ``max |Δrank| < epsilon``. The delta is always between adjacent
    supersteps — comparing across a gap would report a periodic limit
    cycle whose period divides the gap as "converged". On graphs where
    the integral arithmetic reaches an EXACT fixed point (Δ = 0 — floor
    rounding lands there on some graphs), the early stop returns a
    vector bit-identical to any larger fixed iteration count; other
    graphs settle into a tiny limit cycle (observed amplitudes: single-
    digit units ≈ 1e-8 of scale), so pick epsilon above that — any
    practical tolerance (say ``scale // 10**6``) is orders of magnitude
    above it. Superseded checkpoints are released as in the fixed-count
    path. The result carries ``pr_supersteps`` (supersteps actually
    run), ``pr_converged`` and ``pr_delta`` attributes.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if epsilon is not None and epsilon < 1:
        raise ValueError(f"epsilon must be >= 1 scaled unit, got {epsilon}")
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    base = (scale * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    outdeg = edges.groupBy("src").agg(F.count("*").alias("__od"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    if cache_edges is None:
        cache_edges = materialize_every is not None or epsilon is not None
        if not cache_edges:
            size = leaf_bytes(edges)
            # unknown size stays lazy
            budget = 8 * max_partition_bytes(edges.sparkSession)
            cache_edges = size is not None and size > budget
    # a frame the caller already persisted stays theirs: never persisted
    # or released here
    if edges.storageLevel == StorageLevel.NONE:
        own = (edges, outdeg, nodes)
    else:
        own = (outdeg, nodes)
    if cache_edges:
        for c in own:
            c.persist()

    def superstep(ranks: DataFrame) -> DataFrame:
        # per-SOURCE contribution first: a node-sized join (rank vector
        # x out-degrees), so the big edge table is touched exactly once
        # per iteration, joined against the skinny contrib side (AQE
        # broadcasts it when it fits; at web scale both sides shuffle on
        # src — the Pregel superstep cost either way)
        per_src = outdeg.join(ranks, outdeg["src"] == ranks["node"]).select(
            "src", F.expr("rank div __od").alias("__contrib")
        )
        sums = (
            edges.join(per_src, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("__contrib").alias("__c"))
        )
        if all_nodes_have_inedges:
            return sums.select(
                "node",
                (F.lit(base) + F.expr(_damp_expr("__c"))).alias("rank"),
            )
        return nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(base) + F.expr(_damp_expr("coalesce(__c, 0L)"))
            ).alias("rank"),
        )

    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    supersteps, converged, delta = 0, False, None
    _last_cp = None
    if epsilon is not None:
        # convergence mode: each check checkpoints two CONSECUTIVE
        # vectors so the delta action reads two cached node-sized frames,
        # never the edge pipeline, and periodic limit cycles can't hide
        def consec_delta(a: DataFrame, b: DataFrame):
            return (
                b.select("node", F.col("rank").alias("__rn"))
                .join(a.select("node", F.col("rank").alias("__rp")), "node")
                .agg(F.max(F.abs(F.col("__rn") - F.col("__rp"))).alias("d"))
                .first()["d"]
            )

        while supersteps < iterations:
            ranks = superstep(ranks)
            supersteps += 1
            if supersteps % check_every == 0 and supersteps < iterations:
                a = ranks.localCheckpoint(eager=True)
                if _last_cp is not None:
                    release_local_checkpoint(_last_cp)
                b = superstep(a).localCheckpoint(eager=True)
                supersteps += 1
                delta = consec_delta(a, b)
                release_local_checkpoint(a)
                ranks = b
                _last_cp = b
                if delta is not None and delta < epsilon:
                    converged = True
                    break
    else:
        supersteps = iterations
        for i in range(iterations):
            ranks = superstep(ranks)
            if (
                materialize_every
                and (i + 1) % materialize_every == 0
                and i + 1 < iterations
            ):
                ranks = ranks.localCheckpoint(eager=True)
                if _last_cp is not None:
                    # free the superseded checkpoint's blocks now — the
                    # ContextCleaner is too lazy for deep iteration
                    # counts. The FINAL checkpoint stays live: the
                    # returned lazy plan computes through it.
                    release_local_checkpoint(_last_cp)
                _last_cp = ranks
    if eager:
        # materialize the final vector, then release every internal
        # persist/checkpoint — long-lived-session mode (lazy default
        # keeps them pinned so the caller's action can reuse them)
        ranks = ranks.localCheckpoint(eager=True)
        if _last_cp is not None:
            # the new checkpoint has materialized, so the superseded one's
            # blocks are safe to free even when ranks WAS that checkpoint
            release_local_checkpoint(_last_cp)
        if cache_edges:
            for c in own:
                c.unpersist()
    ranks.pr_supersteps = supersteps
    ranks.pr_converged = converged
    ranks.pr_delta = delta
    # release handles (the assign_cache convention): in lazy mode the
    # internal persists stay pinned for the caller's action — a long-lived
    # session unpersists them through pr_caches once done
    ranks.pr_caches = () if (eager or not cache_edges) else own
    return ranks


def triangle_count(
    pairs: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    eager: bool = False,
) -> DataFrame:
    """Global triangle count of an undirected graph, degree-ordered.

    Input is any (src, dst) pair table; it is normalized to canonical
    undirected edges (min, max) and deduplicated, so direction and
    duplicates don't matter. The enumeration orients every edge from its
    lower-(degree, id) endpoint to its higher one — the classic
    O(m^(3/2)) bound (Schank & Wagner 2005): a node's oriented
    out-degree is at most ~sqrt(2m), so the wedge join
    (u->v) x (v->w) stays near-linear even on skewed degree
    distributions, and each triangle is counted exactly once.

    Returns a single row (``n_triangles`` long). All joins are
    node-keyed shuffles; nothing touches the driver.

    The oriented edge table persists internally (read three times); the
    default lazy return keeps it pinned until the session ends or the
    cache is cleared. ``eager=True`` runs the count now (ACTION — one
    scalar crosses to the driver), releases the persist, and returns a
    local 1-row frame — the right mode for long-lived sessions.
    """
    sa, sb = _node_col(pairs, src_col), _node_col(pairs, dst_col)
    e = pairs.select(
        F.least(sa, sb).alias("a"),
        F.greatest(sa, sb).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    # ROUND-11 (guide §1.2, the CC-symmetrize idiom): explode one
    # 2-element array per edge instead of unioning two copies of `e` —
    # the union's children were separate subtrees, so the whole upstream
    # pair pipeline (for the registry row: the quadratic day-pair join)
    # executed twice inside the degree count. Values identical; measured
    # x0.94 med / x0.88 min on the registry row (scripts/ab_span_tri_r11.py).
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient a->b iff (deg, id) of a < (deg, id) of b — a strict total order
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        e.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("__e")
        )
        .select("__e.u", "__e.v")
    ).persist()  # read three times below; lazy until the action
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    tri = wedges.join(
        e3, (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v"))
    )
    out = tri.agg(F.count("*").alias("n_triangles"))
    if eager:
        n = out.collect()[0]["n_triangles"]
        oriented.unpersist()
        return pairs.sparkSession.createDataFrame(
            [(n,)], "n_triangles long"
        )
    # release handle for lazy-mode loop callers (pr_caches convention)
    out.tri_caches = (oriented,)
    return out


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node (out_degree, in_degree) from a directed edge list."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )
