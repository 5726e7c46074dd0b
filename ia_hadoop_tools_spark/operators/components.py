"""Connected components over near-duplicate pair edges.

The missing last step of every dedup family (MinHash/SimHash/embedding
pairs): near-dup PAIRS are not dedup GROUPS — transitive closure turns
(a,b),(b,c) into one {a,b,c} cluster with a canonical representative. Not in
the reference (its dedup is exact per-key, §2.6); this is the
training-data-pipeline extension that makes `minhash_lsh_pairs` &co usable
for actual corpus dedup.

Algorithm: iterative min-label propagation — every node starts as its own
component (its id), and each round adopts the minimum label reachable over
one hop, until a fixpoint. Rounds = graph diameter, and near-dup graphs are
shallow (duplicate clusters are dense, star-like); each round is one
shuffle-join of the (node, comp) table with the skinny edge list. The
monotone non-increasing label-sum gives a one-scalar convergence probe per
round (no row-by-row diff). Persist/unpersist keeps each iteration's
lineage O(1) — without it the plan doubles per round.

At 100 TB-scale graphs with long chains, use ``connected_components_star``
— the large-star/small-star formulation (Kiveris et al., "Connected
Components in MapReduce and Beyond"), same join primitive, O(log^2 n)
rounds on any topology; for near-dup dedup the plain loop converges in
2-4 rounds and does less work per round.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.plans.introspect import release_local_checkpoint

logger = logging.getLogger(__name__)


def _truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its logical plan to a leaf.

    Iterative graph loops MUST break lineage every round: each round's plan
    references the previous round's several times, so the analyzed logical
    tree grows ~6^rounds for the star loop (driver OOMs analyzing it long
    before any data is big — ``persist`` does NOT help; caching substitutes
    the *physical* scan, the logical tree still carries full lineage).
    Uses a reliable checkpoint when the session has a checkpoint dir (the
    cluster-correct choice: survives executor loss), else an eager
    ``localCheckpoint`` (fine for local/bounded loops).

    ``eager=False`` (round-11, guide §1.2 — remove whole jobs): the plan is
    cut IMMEDIATELY either way (the returned frame is a leaf over the
    checkpoint-marked RDD); laziness only defers block materialization to
    the caller's next action over the frame.  Loop callers whose very next
    statement is the convergence probe pass False so the probe job doubles
    as the materialization job — one job per round instead of two.  Callers
    that release a PARENT checkpoint before their next action must stay
    eager (an unmaterialized child cannot recompute through freed parent
    blocks).  Only the localCheckpoint branch honors it: a lazy RELIABLE
    checkpoint recomputes the whole plan a second time when the checkpoint
    files are written (the classic rdd.checkpoint caveat), so the cluster
    branch would pay double compute per round for the saved job.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component): component = min node id in the connected component.

    ``edges`` are undirected pairs; isolated nodes don't appear (callers
    union them back if every doc needs a row — see ``dedup_groups``).
    """
    from pyspark import StorageLevel

    # no distinct: duplicate edges cannot change a min-label propagation,
    # and deduping would cost a full shuffle of the edge list.
    # ROUND-11 OPTIMIZATION (guide §2.4 — don't run the same subtree
    # twice): symmetrize by exploding a 2-element array per edge instead
    # of unioning two copies of the edge plan — the union's two children
    # were separate subtrees, so materializing `sym` executed the whole
    # upstream pair pipeline (e.g. the full MinHash candidates-and-verify
    # plan in neardup_clusters) TWICE. One Generate over one pass now.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # seed with the one-hop minimum (node itself or any neighbor) — one
    # aggregation that replaces the first propagation round. Lineage is cut
    # every round (see _truncate_lineage): the loop references `labels`
    # twice per round, so an uncut plan doubles per iteration.
    labels = _truncate_lineage(
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("dst"), F.min("src")).alias("comp")),
        eager=False,  # the probe on the next line materializes it
    )

    def _probe(df):
        # type-safe one-scalar fingerprint of the label assignment:
        # xxhash64 works for string/long ids alike (F.sum("comp") is NULL
        # for string comps — silent one-round false convergence — and can
        # overflow long for 64-bit hash ids under ANSI); decimal(38,0)
        # keeps the sum exact. Stable iff no label changed, up to 64-bit
        # hash-sum collision (the star probe's accepted risk).
        return df.agg(
            F.sum(F.xxhash64("node", "comp").cast("decimal(38,0)"))
        ).first()[0]

    prev_probe = _probe(labels)
    converged = False
    for _ in range(max_iter):
        # one hop: each node offers its current comp to every neighbor
        offers = (
            sym.join(labels, sym["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "comp")
        )
        new_labels = _truncate_lineage(
            labels.unionByName(offers)
            .groupBy("node")
            .agg(F.min("comp").alias("comp")),
            eager=False,  # materialized by the probe below, BEFORE the
            # superseded parent's blocks are released
        )
        new_probe = _probe(new_labels)
        # new_labels is materialized: the superseded round's checkpoint
        # blocks can go now (the cleaner is too lazy for long loops)
        release_local_checkpoint(labels)
        labels = new_labels
        if new_probe == prev_probe:  # labels are monotone non-increasing
            converged = True
            break
        prev_probe = new_probe
    sym.unpersist()
    if not converged:
        # deep/chained graphs can exhaust the round budget; silent exit
        # would hand callers WRONG dedup groups with no signal
        logger.warning(
            "connected_components: label propagation did NOT converge in "
            "%d rounds (label sum still falling) — returned components may "
            "be split; raise max_iter or use connected_components_star for "
            "deep graphs", max_iter,
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds.

    The deep-graph variant (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): converges in O(log^2 n) rounds on ANY
    topology — a path graph that costs ``connected_components`` diameter
    rounds collapses logarithmically here. Same output contract as
    :func:`connected_components` (component = min node id; isolated nodes
    absent), so the two are drop-in swaps.

    Each round is two self-contained shuffle steps over the (skinny) edge
    list only — no separate labels table:

    - **large-star**: for every node u with m = min(N(u) ∪ {u}), rewire each
      strictly LARGER neighbor v to m.
    - **small-star**: orient edges u > v; rewire u and each of its smaller
      neighbors to their minimum.

    Convergence probe: (row count, sum of xxhash64(u,v)) of the edge set —
    order-independent, one scalar aggregation per round, stable iff the
    edge set stopped changing (up to 64-bit hash-sum collision).
    """
    raw = edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    e = _truncate_lineage(
        raw.filter(F.col("u") != F.col("v")).distinct(),
        eager=False,  # materialized by the initial probe below
    )
    # checkpointed (not persisted): nodes must stay computable after the
    # loop releases the initial edge checkpoint it derives from, and the
    # final labels join consumes it lazily after the loop. Node set comes
    # from the UNFILTERED pairs: a node whose only edge is a self-loop
    # must still get its singleton component row (the plain-loop variant
    # keeps it; dropping it here would break the drop-in-swap contract).
    nodes = _truncate_lineage(
        # explode-of-array instead of a union of two copies of the raw
        # pair plan: one pass over the upstream pipeline (see the
        # connected_components symmetrization note)
        raw.select(F.explode(F.array("u", "v")).alias("node")).distinct(),
        # lazy: consumed exactly once, by the (eager) final labels join —
        # whose materialization runs this plan against raw's captured
        # physical RDD, which no per-round release touches
        eager=False,
    )
    def _probe(df):
        # decimal(38,0) sum: ANSI-safe (a long sum of 64-bit hashes overflows)
        return tuple(
            df.agg(
                F.count("*"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).first()
        )

    probe = _probe(e)
    converged = False
    for _ in range(max_iter):
        # --- large-star ---
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star (on the large-star output, oriented u > v) ---
        o = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        smins = o.groupBy("u").agg(F.min("v").alias("m"))
        small = _truncate_lineage(
            o.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            eager=False,  # materialized by the probe below, BEFORE the
            # superseded edge checkpoint's blocks are released
        )
        new_probe = _probe(small)
        # small is materialized: release the superseded edge checkpoint
        release_local_checkpoint(e)
        e = small
        if new_probe == probe:
            converged = True
            break
        probe = new_probe
    if not converged:
        logger.warning(
            "connected_components_star: edge set still changing after %d "
            "rounds — components may be split", max_iter,
        )
    # at the fixpoint the edge set is a star forest: (non-min node -> its
    # component minimum); minima label themselves. Materialize the labels
    # BEFORE releasing the node/edge checkpoints they compute through.
    labels = _truncate_lineage(
        nodes.join(
            e.select(F.col("u").alias("node"), F.col("v").alias("comp")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min(F.coalesce("comp", "node")).alias("comp"))
    )
    release_local_checkpoint(e)
    release_local_checkpoint(nodes)
    return labels


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Assign every document a dedup group and a keep/drop verdict.

    Returns (id_col, group, keep): ``group`` is the component's min doc id
    (docs with no near-dup edges form their own singleton group) and
    ``keep`` marks the canonical representative — the classic
    keep-one-per-cluster corpus dedup step. The component table is tiny
    relative to the corpus (only docs that had a near-dup edge), so the
    attach join broadcasts in the common case.
    """
    comp = connected_components(pairs, id_a, id_b)
    out = (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("group"),
        )
    )
    return out.withColumn("keep", F.col(id_col) == F.col("group"))
