"""Similarity search over embedding columns (array<float>).

- ``ann_bruteforce_topk``: exact top-k cosine neighbors for a (small) query
  set. The query side is broadcast; the corpus is scanned once; per-query
  ranking is a window over (query_id). Scale path: corpus never shuffles on
  the cross join (broadcast nested loop), only the rank shuffles — and that
  is bounded by corpus_rows * n_queries, so keep the query set per-job small
  or go through the LSH variant.
- ``ann_lsh_topk``: random-hyperplane (SimHash-for-vectors) bucketing: sign
  bits of <v, plane_j> form a code; candidates = corpus rows whose code matches
  the query's code on at least one band. ~1/2^band_bits of the corpus is
  scored per query instead of all of it. Hyperplanes come from a fixed seed —
  deterministic, oracle-reproducible.
- ``embedding_neardup_pairs``: near-duplicate vector pairs (cosine >= t) via
  the same LSH codes: self-join per bucket, verify true cosine.

Vector math split (round 11, measured by scripts/ab_vec_r11.py):

- LSH PLANE dots (the band-hash inner loop — n_planes dots per row) run
  Arrow-batched (functions/vectorfns.plane_dots_arrow): numpy
  accumulation sequential over the dimension, bit-identical to the
  ``zip_with``+``aggregate`` fold it replaced, which was CodegenFallback
  (interpreted per element). Interleaved A/B: ann_lsh x0.37,
  embedding_neardup_lsh x0.50, embedding_neardup_capped x0.48.
- PER-PAIR dots and norms STAY column expressions (vectorfns.dot_product/
  l2_norm): they sit inside join+filter pipelines where the HOF evaluates
  inline and prunes immediately; routing them through an ArrowEvalPython
  boundary materializes every candidate pair's vectors across the Python
  boundary first — measured x1.1-2.6 SLOWER across all eight
  embedding-family registry queries with plane dots held fixed.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def hyperplanes(num: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (shared with SQL oracles)."""
    rng = random.Random(seed)
    return [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(num)]


def _lsh_code_bits(vec_col, planes: list[list[float]]):
    """One sign bit per hyperplane: 1 iff <v, plane> >= 0.

    A vector whose length differs from the plane dimension RAISES: the
    plane dots come back null for it, and every bit would otherwise
    silently come out 0 — identical codes for all vectors, turning the
    "approximate" search into a full cross join.

    ROUND-11 OPTIMIZATION (guide §4.2): the per-plane
    ``zip_with``+``aggregate`` dots were CodegenFallback — interpreted
    per ELEMENT (16 planes x dim evaluations per row) and disabling
    whole-stage codegen around them. All plane dots now come from ONE
    Arrow-batched pass (``plane_dots_arrow``: numpy accumulation
    sequential over the dim, vectorized over rows — bit-identical fold,
    asserted by scripts/probe_vec_codegen.py; measured 5.8x on the
    band-hash stage at sf0.1). The sign/raise guard stays JVM-side.
    """
    from ia_hadoop_tools_spark.functions.vectorfns import plane_dots_arrow

    dim = len(planes[0])
    dots = plane_dots_arrow(vec_col, planes)
    bits = []
    for p in range(len(planes)):
        dot = F.get(dots, p)
        # the otherwise-branch fires for a null dot: a length mismatch
        # (null plane-dots array) or a null vector — name the actionable
        # cause. (A NaN component compares NaN-largest into bit 1 on both
        # the old and new paths.)
        bits.append(
            F.when(dot >= 0.0, F.lit(1))
            .when(dot < 0.0, F.lit(0))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"LSH code undefined: vector length != plane "
                            f"dim {dim} (pass dim= matching the "
                            "embeddings) or a NaN/null component; got "
                            "length "
                        ),
                        F.size(vec_col).cast("string"),
                    )
                ).cast("int")
            )
        )
    return bits


def _band_keys(vec_col, num_planes: int, bands: int, dim: int, seed: int):
    """Banded LSH keys: array of ``bands`` strings ``"<b>_<bit>..<bit>"``.

    THE shared band-key builder (ann_lsh_topk / embedding_neardup_pairs /
    semdedup's oversized path all use it, and the SQL oracles mirror its
    exact format) — and the single home of the divisibility check:
    ``bands`` not dividing ``num_planes`` would silently drop planes
    (lower recall), and width 0 would make every key just the band index,
    degenerating the "approximate" search into a full cross join.
    """
    if bands < 1 or num_planes % bands != 0:
        raise ValueError(
            f"bands must divide num_planes (got num_planes={num_planes}, "
            f"bands={bands})"
        )
    planes = hyperplanes(num_planes, dim, seed)
    width = num_planes // bands
    bits = _lsh_code_bits(vec_col, planes)
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[bits[b * width + i].cast("string") for i in range(width)],
            )
            for b in range(bands)
        ]
    )


def ann_bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    Returns (query_id, neighbor_id, cosine, rank), rank 1..k by descending
    cosine, ties broken by ascending neighbor id (deterministic).
    """
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    # Precompute each side's norm ONCE per row (not per pair): the pair loop
    # then does a single dot product — 3x fewer vector traversals. The cosine
    # value is bit-identical (same per-vector sequential accumulation).
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    # corpus side spread across slots (the query side broadcasts); the
    # per-pair dot-product loop otherwise runs on one core for a
    # one-row-group corpus — no-op at scale
    c = ensure_min_partitions(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    denom = F.col("__cn") * F.col("__qn")
    cos = F.when(denom != 0.0, dot_product(F.col("__cvec"), F.col("__qvec")) / denom)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", F.round(cos, 6).alias("cosine"))
        # zero-norm rows have no defined similarity (guarded null cosine):
        # drop them rather than ranking them as "neighbors" — the same
        # policy assign_clusters/semdedup document for zero vectors
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing >=1 LSH band with the
    query. Same output shape as :func:`ann_bruteforce_topk`; recall < 1 by
    design (more planes/bands => higher recall, more candidates).

    Candidates-then-verify shape (the ``embedding_neardup_pairs``
    discipline): band rows carry ONLY (id, bucket) — the collision join
    and the distinct-pair dedup shuffle skinny rows, never vectors — and
    the cosine runs once per DISTINCT candidate after vectors join back.
    """
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    band_keys = _band_keys(F.col(vec_col), num_planes, bands, dim, seed)
    qb = queries.select(
        F.col(id_col).alias(query_id_col), F.explode(band_keys).alias("bucket")
    )
    # ROUND 12: the round-11 corpus-side spread measured SLOWER here
    # (ann_lsh x0.88/x0.93 flat, two interleaved A/Bs) — the band hash is
    # one Arrow pass and the candidate join shuffles skinny rows anyway;
    # the round-robin exchange of the vectors cost more than the extra
    # parallelism bought. ann_bruteforce_topk KEEPS its spread (x1.2-1.4:
    # its per-pair HOF cosine loop is the heavy case the spread exists for).
    csrc = corpus.select(id_col, vec_col)
    cb = csrc.select(
        F.col(id_col).alias("neighbor_id"), F.explode(band_keys).alias("bucket")
    )
    cand = (
        cb.join(F.broadcast(qb), on="bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    # norm once per vector, not per pair — candidates then cost one dot
    # product each (bit-identical cosine, same fold order)
    cv = csrc.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    qv = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    denom = F.col("__cn") * F.col("__qn")
    cos = F.when(
        denom != 0.0, dot_product(F.col("__cvec"), F.col("__qvec")) / denom
    )
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), query_id_col)
        .select(query_id_col, "neighbor_id", F.round(cos, 6).alias("cosine"))
        # zero-norm rows: no defined similarity — drop, as in bruteforce
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hash_centroids(
    corpus: DataFrame, num_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Fixed-size deterministic quantizer: the ``num_centroids`` corpus
    vectors with the smallest ``md5(cast(id as string))`` (uniform over ids,
    identical in Spark and DuckDB — the oracle reproduces the set)."""
    from ia_hadoop_tools_spark.functions.vectorfns import l2_norm

    return (
        corpus.select(
            F.col(id_col).alias("__cid"),
            F.col(vec_col).alias("__cvec"),
            l2_norm(F.col(vec_col)).alias("__cnorm"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy(F.col("__h").asc(), F.col("__cid").asc())
        .limit(num_centroids)
        .drop("__h")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 64,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means coarse quantizer: seeded init + ``iters`` Lloyd
    rounds; returns (``__cid``, ``__cvec``, ``__cnorm``) for
    :func:`ann_ivf_topk`'s ``centroids=``.

    Deterministic end-to-end: init is the hash-order selection
    (:func:`_hash_centroids`), assignment ties break to the lower centroid
    id, and the update is an exact elementwise mean — same input, same
    centroids, every run. Trained cells fit the data distribution, so cell
    sizes even out and probe recall rises vs the raw hash sample.

    Scale shape per round: assignment is the same broadcast-join +
    ``max_by`` aggregate as the query path (n * K dot products, map-side
    combinable); the mean update posexplodes assigned vectors into
    (cell, position) partial sums — shuffle rows bounded by
    K * dim * map_partitions, NOT by n. The loop cuts lineage per round
    (see operators/components._truncate_lineage — iterative plans grow
    exponentially otherwise); empty cells keep their previous centroid.
    """
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm
    from ia_hadoop_tools_spark.operators.components import _truncate_lineage

    # re-number centroids 0..K-1 so cell ids are stable across rounds
    cent = _truncate_lineage(
        _hash_centroids(corpus, num_centroids, id_col, vec_col).select(
            (F.row_number().over(Window.orderBy("__cid")) - 1).alias("__cid"),
            F.transform("__cvec", lambda x: x.cast("double")).alias("__cvec"),
            "__cnorm",
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
    )
    # zero-norm VECTORS or zero-norm seed CENTROIDS (an all-zero corpus
    # vector can be hash-sampled as a centroid) would make __cos NaN — and
    # NaN sorts ABOVE every double, so one zero centroid would win every
    # max_by assignment: pin both cases to -1 so they deterministically
    # lose to any real match (lowest-id tie-break otherwise)
    cos_c = F.round(
        F.when(
            (F.col("__norm") > 0) & (F.col("__cnorm") > 0),
            dot_product(F.col("__vec"), F.col("__cvec"))
            / (F.col("__norm") * F.col("__cnorm")),
        ).otherwise(F.lit(-1.0)),
        6,
    )
    for _ in range(iters):
        assigned = (
            vecs.crossJoin(F.broadcast(cent))
            .select("__vid", "__vec", F.col("__cid"), cos_c.alias("__cos"))
            .groupBy("__vid")
            .agg(
                F.max_by(
                    "__cid", F.struct(F.col("__cos"), -F.col("__cid"))
                ).alias("__cell"),
                F.first("__vec").alias("__vec"),
            )
        )
        means = (
            assigned.select(
                "__cell", F.posexplode("__vec").alias("__pos", "__x")
            )
            .groupBy("__cell", "__pos")
            # rounded mean: double avg is accumulation-order-dependent at
            # the last ulps, and unrounded means would make the trained
            # centroids drift run-to-run with partitioning
            .agg(F.round(F.avg("__x"), 6).alias("__m"))
            .groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__m"))
                ).alias("__pm")
            )
            .select(
                F.col("__cell").alias("__cid"),
                F.transform(
                    "__pm", lambda s: s["__m"].cast("double")
                ).alias("__cvec"),
            )
            .withColumn("__cnorm", l2_norm(F.col("__cvec")))
            .filter(F.col("__cnorm") > 0)
        )
        # empty cells keep their previous centroid (left-anti the updated)
        kept = cent.join(means.select("__cid"), "__cid", "left_anti")
        cent = _truncate_lineage(
            means.unionByName(kept.select("__cid", "__cvec", "__cnorm"))
        )
    return cent


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 64,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
    assign_method: str = "join",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    cells, probe only the ``nprobe`` nearest cells per query.

    Deterministic FIXED-SIZE coarse quantizer (oracle-reproducible): the
    centroids are the ``num_centroids`` corpus vectors with the smallest
    ``md5(cast(id as string))`` — a hash-order sample whose SIZE IS
    INDEPENDENT OF THE CORPUS, unlike a modulo/stride rule where the centroid
    count (and thus the broadcast and the n*n_cent assignment cost) grows
    linearly with n. md5-order is uniform over ids and identical in Spark and
    DuckDB, so the oracle reproduces the exact centroid set. Each vector is
    assigned to its max-cosine centroid (ties to the lower centroid id,
    cosine compared at 6dp). Output shape matches
    :func:`ann_bruteforce_topk`; recall < 1 by design.

    Scale shape: centroid selection is one ``TakeOrderedAndProject`` pass
    (per-partition top-K, constant-size driver merge); centroids broadcast
    twice (assignment + probing) at CONSTANT size; assignment is a map-side
    broadcast join + one partial-aggregatable ``max_by`` groupBy — n * K dot
    products, linear in the corpus; the probe join touches ~nprobe/K of the
    corpus per query instead of all of it. The cell-assignment table is the
    reusable "index" — persist it across query batches in a real deployment.
    """
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm

    cent = (
        _hash_centroids(corpus, num_centroids, id_col, vec_col)
        if centroids is None
        else centroids
    )
    # zero-norm guards on all three cosines (the hazard
    # train_ivf_centroids documents: NaN sorts ABOVE every double, so one
    # zero vector/centroid would win every max_by and every ranking);
    # null instead loses max_by and sorts last under `desc`
    den_c = F.col("__norm") * F.col("__cnorm")
    cos_c = F.round(
        F.when(
            den_c != 0.0,
            dot_product(F.col("__vec"), F.col("__cvec")) / den_c,
        ),
        6,
    )
    # nearest centroid per corpus vector: broadcast NL join + max_by aggregate
    # (partial map-side combine; no per-vector window shuffle). max over
    # (cosine, -cid) == max cosine, ties to the LOWER centroid id.
    # ``assign_method="projection"`` (round-11, same knob as
    # assign_clusters) folds the whole step into one map-only projection —
    # no k-row blowup, no exchange, one Arrow matrix pass for the dots;
    # max_by's struct ordering is reproduced exactly by greatest(struct)
    # (including the zero-norm-vector case, where every cosine is NULL and
    # both orderings fall through to the smallest centroid id).  Default
    # stays "join": faster at bench SFs, fully lazy construction.
    if assign_method not in ("join", "projection"):
        raise ValueError(
            f"assign_method must be 'join' or 'projection', got {assign_method!r}"
        )
    vecs = corpus.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
    )
    if assign_method == "projection":
        # eager plan-construction collect of the centroid table (bounded
        # by construction — num_centroids / PROJECTION_MAX_CENTROIDS);
        # ragged dims / oversized k fall back to the lazy join path
        cid_type = cent.schema["__cid"].dataType
        crows = sorted(
            cent.select(
                "__cid", "__cvec", F.col("__cnorm").alias("__cn")
            ).collect(),
            key=lambda r: r["__cid"],
        )
        mat = _projection_fallback(crows, "ann_ivf_topk")
        if mat is None:
            assign_method = "join"
    if assign_method == "projection":
        from ia_hadoop_tools_spark.functions.vectorfns import plane_dots_arrow

        if not crows:  # join path: empty broadcast side -> empty assigned
            assigned = vecs.select(
                "__vid", "__vec", "__norm",
                F.lit(None).cast(cid_type).alias("__cell"),
            ).filter(F.lit(False))
        elif not mat:
            # all centroid vectors NULL: every cosine is NULL on the join
            # path too, so every vector lands in the smallest centroid id
            best = _centroid_best_struct(
                crows, F.col("__norm"), F.lit(None), guarded=False
            )
            assigned = vecs.select(
                "__vid", "__vec", "__norm",
                (-best["__nid"]).cast(cid_type).alias("__cell"),
            )
        else:
            # one Arrow pass for the k dots + the self-dot; __norm is
            # sqrt(dots[k]) (bit-identical to l2_norm — see assign_clusters)
            dotted = corpus.select(
                F.col(id_col).alias("__vid"),
                F.col(vec_col).alias("__vec"),
                plane_dots_arrow(
                    F.col(vec_col), mat, with_self_dot=True,
                    single_eval=True,
                ).alias("__dots"),
            )
            norm = F.sqrt(F.col("__dots")[len(mat)])
            best = _centroid_best_struct(
                crows, norm, F.col("__dots"), guarded=False
            )
            # NaN-data parity — see assign_clusters: a NaN-component
            # vector keeps its NaN norm on the join path and lands in
            # the smallest usable centroid id (all cosines NaN)
            nan_row = (
                F.col("__dots").isNotNull()
                & F.col("__dots")[len(mat)].isNull()
            )
            smallest = min(
                r["__cid"] for r in crows if not _cvec_missing(r)
            )
            assigned = dotted.select(
                "__vid", "__vec",
                F.when(nan_row, F.lit(float("nan")))
                .otherwise(norm)
                .alias("__norm"),
                F.when(nan_row, F.lit(smallest).cast(cid_type))
                .otherwise((-best["__nid"]).cast(cid_type))
                .alias("__cell"),
            )
    else:
        assigned = (
            vecs.crossJoin(F.broadcast(cent))
            .select(
                "__vid", "__vec", "__norm",
                F.col("__cid"), cos_c.alias("__cos"),
            )
            .groupBy("__vid")
            .agg(
                F.max_by(
                    F.col("__cid"), F.struct(F.col("__cos"), -F.col("__cid"))
                ).alias("__cell"),
                F.first("__vec").alias("__vec"),
                F.first("__norm").alias("__norm"),
            )
        )
    # nprobe nearest cells per query (query set is small: window is cheap)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        l2_norm(F.col(vec_col)).alias("__qnorm"),
    )
    den_q = F.col("__qnorm") * F.col("__cnorm")
    qcos = F.round(
        F.when(
            den_q != 0.0,
            dot_product(F.col("__qvec"), F.col("__cvec")) / den_q,
        ),
        6,
    )
    wprobe = Window.partitionBy(query_id_col).orderBy(
        F.col("__qcos").desc(), F.col("__cid").asc()
    )
    probed = (
        q.crossJoin(F.broadcast(cent))
        .select(query_id_col, "__qvec", "__qnorm", "__cid", qcos.alias("__qcos"))
        .withColumn("__pr", F.row_number().over(wprobe))
        .filter(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qvec", "__qnorm", F.col("__cid").alias("__cell"))
    )
    den_vq = F.col("__norm") * F.col("__qnorm")
    cos_q = F.round(
        F.when(
            den_vq != 0.0,
            dot_product(F.col("__vec"), F.col("__qvec")) / den_vq,
        ),
        6,
    )
    scored = (
        assigned.join(F.broadcast(probed), on="__cell")
        .filter(F.col("__vid") != F.col(query_id_col))
        .select(
            query_id_col,
            F.col("__vid").alias("neighbor_id"),
            cos_q.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: auto_planes expected-bucket target (see embedding_neardup_pairs):
#: collision volume ~ n x bands x expected_bucket, so this must be a
#: small corpus-independent constant for the banded join to stay linear
_AUTO_TARGET_BUCKET = 64


def _auto_band_geometry(
    count: int, target: float, num_planes: int, bands: int
) -> tuple[int, int]:
    """Escalated ``(num_planes, bands)`` sizing a ``count``-member
    population into sub-buckets of ~``target`` expected members — the
    ONE auto-geometry rule shared by semdedup's oversized-cluster guard
    and embedding_neardup_pairs' auto_planes (review r10: the two
    inline copies had already drifted by a constant).

    Raise-only: the escalation is clamped at 24 bits per band, an
    explicitly finer caller geometry is never coarsened, and BANDS rise
    to at least ``AUTO_GUARD_BANDS`` — planes sizing fixes hot-bucket
    degeneracy but band COUNT fixes borderline recall (threshold 0.90:
    measured 0.84 recall at bands=4 vs 0.97 at bands=8; each band is
    one independent chance for a near-pair to collide)."""
    import math

    need = math.ceil(math.log2(max(2.0, count / target)))
    width_floor = num_planes // bands
    bands = max(bands, AUTO_GUARD_BANDS)
    return max(width_floor, min(24, need)) * bands, bands


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = 5000,
    auto_planes: bool = True,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold, id_a < id_b.

    LSH-bucketed self-join: near-identical vectors agree on almost all sign
    bits, so they collide in >=1 band with high probability; each bucket's
    pairs are verified with the true cosine.

    SCALE GUARDS (round-10 — the sf10 decade probe caught the default
    16-plane/4-band geometry degenerating: a band has only
    2^(num_planes/bands) buckets, so bucket size grows as
    corpus/2^width and the collision join is sum(|bucket|^2)):

    - ``auto_planes`` (default True): when the expected bucket size
      n/2^width exceeds ``max_bucket``/2, bits per band are raised so
      the expected bucket shrinks to ``_AUTO_TARGET_BUCKET`` (~64,
      capped at 24 bits) and the band count is raised to at least
      ``AUTO_GUARD_BANDS`` (band count is the borderline-recall knob —
      see semdedup's measured recall table). The target is a small
      CONSTANT, not a fraction of ``max_bucket``: total collision
      volume is ~n x bands x expected_bucket, so only a
      corpus-independent expected bucket keeps the join linear in n
      (sizing to ``max_bucket``/2 = 2500 still spilled ~10^10 collision
      rows at the sf10 probe). Raise-only: an explicitly finer caller
      geometry is never coarsened. Engaging runs ONE count() census job
      at construction (the semdedup precedent); pass
      ``auto_planes=False`` to pin the explicit geometry and keep
      construction lazy.
    - ``max_bucket`` (default 5000): buckets still over the cap after
      sizing (identical-vector boilerplate mass — no geometry separates
      exact duplicates) are dropped before the self-join via
      ``textops._drop_hot_buckets``; recall is lost only for pairs
      agreeing ONLY in dropped buckets, and the dropped-row count rides
      the first action as ``out.hot_bucket_obs``. ``None`` disables
      both guards (the registered oracle row pins that exact path).
    """
    from pyspark import StorageLevel

    if auto_planes and max_bucket is not None:
        _band_keys(F.col(vec_col), num_planes, bands, dim, seed)  # validate
        n = df.count()
        if n / (1 << (num_planes // bands)) > max_bucket / 2:
            num_planes, bands = _auto_band_geometry(
                n, _AUTO_TARGET_BUCKET, num_planes, bands
            )
    band_keys = _band_keys(F.col(vec_col), num_planes, bands, dim, seed)

    # The band self-join emits one row per COLLISION (a pair colliding in k
    # bands appears k times, and bucket sizes are corpus/2^band_bits — big).
    # So: (1) the banded rows carry ONLY (id, bucket) — no vectors — and the
    # collision join + distinct are skinny-row shuffles; (2) cosine runs ONCE
    # per DISTINCT candidate pair after joining vectors back (the same
    # candidates-then-verify shape as minhash_lsh_pairs).
    from ia_hadoop_tools_spark.operators.textops import _drop_hot_buckets

    # ROUND 12: the round-11 spread was MEASURED SLOWER here and removed
    # (embedding_neardup_lsh x0.78/x0.92, embedding_neardup_capped
    # x0.79/x0.92 flat, two interleaved A/Bs): the band hash is ONE Arrow
    # pass and every downstream step shuffles skinny (id, bucket) rows,
    # so the round-robin exchange of the vectors bought nothing
    src = df.select(id_col, vec_col)
    banded = _drop_hot_buckets(
        src.select(
            F.col(id_col).alias("id"), F.explode(band_keys).alias("bucket")
        ),
        max_bucket,
        "embedding_neardup_pairs",
    )
    hot_obs = getattr(banded, "hot_bucket_obs", None)
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, on="bucket")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm

    # Norms are computed once per VECTOR before the pair join, not once per
    # pair: the per-pair work drops to a single dot product (3x fewer array
    # traversals on ~1M candidates), and the cosine stays bit-identical —
    # same sequential accumulation for both the norm and the dot.
    normed = src.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__n")
    )
    va = normed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = normed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.when(denom != 0.0, dot_product(F.col("__va"), F.col("__vb")) / denom)
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    # release handle (the shingle_cache convention in textops.py): the
    # returned lazy plan computes through the persisted band table, so
    # loop callers unpersist it themselves once done
    out.band_cache = banded
    if hot_obs is not None:
        out.hot_bucket_obs = hot_obs
    return out


def _centroid_best_struct(
    rows: list, en, dots, guarded: bool
) -> "Column":
    """``greatest(struct(round(cos, 6), -cid), ...)`` over driver-collected
    centroid rows — the SAME struct ordering ``max``/``max_by`` apply to the
    join-path's per-pair structs (ties to the smaller cid, NULL cosine
    fields order below every non-null cosine, NaN above), so the winner is
    identical row for row.  ``rows`` are (__cid, __cvec, __cn) sorted by
    __cid; ``en``/``dots`` are the caller's norm / plane_dots_arrow columns.

    ``guarded`` mirrors the two join shapes exactly:

    - True (assign_clusters — inner join ON ``den != 0``): a centroid is a
      CANDIDATE only when its denom is nonzero, so each struct is wrapped
      in ``when(den != 0, ...)`` — a NULL struct, which ``greatest`` skips
      like the join drops the pair.  Null-vector centroids (den always
      null) are skipped outright.  ``greatest(...) IS NULL`` then means
      "no candidate at all" == the join emitted no row.
    - False (ann_ivf_topk — crossJoin, every centroid is a candidate):
      non-candidates contribute a NULL-COSINE struct (cos is
      ``when(den != 0, ...)``), which loses to any non-null cosine but
      still carries its -cid for the all-null case — exactly max_by over
      the crossJoin's structs (a zero-norm vector lands in the smallest
      centroid id on both paths).
    """
    structs = []
    j = 0
    for r in rows:
        nid = F.lit(-r["__cid"]).cast("long")
        if _cvec_missing(r):
            # null vector OR null component: l2_norm is NULL on the join
            # path, so den is always null — never a join candidate
            # (guarded) / a NULL-cosine struct (unguarded)
            if guarded:
                continue
            structs.append(
                F.struct(
                    F.lit(None).cast("double").alias("__cos"),
                    nid.alias("__nid"),
                )
            )
            continue
        den = en * F.lit(r["__cn"])
        if guarded:
            structs.append(
                F.when(
                    den != 0.0,
                    F.struct(
                        F.round(dots[j] / den, 6).alias("__cos"),
                        nid.alias("__nid"),
                    ),
                )
            )
        else:
            structs.append(
                F.struct(
                    F.round(F.when(den != 0.0, dots[j] / den), 6).alias(
                        "__cos"
                    ),
                    nid.alias("__nid"),
                )
            )
        j += 1
    if not structs:
        return None
    return F.greatest(*structs) if len(structs) > 1 else structs[0]


def _cvec_missing(r) -> bool:
    """A centroid with a NULL vector or any NULL component: its HOF norm
    is NULL on the join path, so it is never a candidate there — the
    projection path must exclude it from the plane matrix (None cannot
    enter a float64 matrix) and mirror the join semantics instead."""
    return r["__cvec"] is None or any(x is None for x in r["__cvec"])


def _centroid_matrix(rows: list) -> list[list[float]]:
    """Rectangular plane matrix from the usable centroid vectors (the
    projection path needs fixed-dim centroids; the join path pads ragged
    dims to a null dot, which has no matrix equivalent — raise loudly)."""
    mat = [list(r["__cvec"]) for r in rows if not _cvec_missing(r)]
    if len({len(v) for v in mat}) > 1:
        raise ValueError(
            "projection assignment needs fixed-dimension centroids; got "
            f"dims {sorted({len(v) for v in mat})}"
        )
    return mat


#: projection-path centroid ceiling (ADVICE r11): _centroid_best_struct
#: builds one round/when/struct per centroid folded by greatest(), so an
#: unbounded k yields an O(k) expression tree (codegen/analysis blowup)
#: on top of the eager plan-construction collect.  Above this, the
#: projection request silently falls back to the join path (warning
#: emitted), which handles any k via the broadcast join.
PROJECTION_MAX_CENTROIDS = 512


def _projection_fallback(rows: list, what: str):
    """(matrix, reason) for the projection assignment path: the
    rectangular centroid matrix, or ``None`` plus a warning when the
    centroid set needs the join path (ragged dims — which the join
    null-pads to a lost argmax instead of raising — or a centroid count
    past the expression-tree ceiling).  ``rows`` may be empty (callers
    handle the empty/all-null cases before the matrix is needed)."""
    import warnings

    if len(rows) > PROJECTION_MAX_CENTROIDS:
        warnings.warn(
            f"{what}: {len(rows)} centroids exceed the projection-path "
            f"ceiling ({PROJECTION_MAX_CENTROIDS}); falling back to the "
            "join assignment (same results; the per-centroid expression "
            "tree would dominate past this size)",
            stacklevel=3,
        )
        return None
    try:
        return _centroid_matrix(rows) if rows else []
    except ValueError:
        warnings.warn(
            f"{what}: mixed centroid dimensions; falling back to the "
            "join assignment (ragged dims null-pad to a lost argmax "
            "there — identical semantics, no fixed-dim matrix exists)",
            stacklevel=3,
        )
        return None


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    method: str = "join",
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment: (id_col, cluster_id, cos).

    The centroid table BROADCASTS (it is tiny by construction — k-means k,
    or a fixed slice); the corpus is scanned once and never shuffles for the
    assignment. Ties break toward the SMALLEST centroid id, and cosines are
    rounded to 6 decimals BEFORE ranking, so the assignment is deterministic
    and bit-stable across engines (the oracle applies the same rule).
    Zero-norm vectors assign to no centroid and are dropped (documented —
    they carry no direction to cluster by).

    ``method`` (round-11, the pagerank ``cache_edges`` pattern — a
    parameterised scale-dependent plan choice, measured both ways):

    - ``"join"`` (default): broadcast NL join -> k rows per vector ->
      groupBy argmax.  Fastest at bench SFs (the Python boundary is a
      fixed ~0.7 s at local[32], dwarfing 2k rows); keeps construction
      fully lazy.
    - ``"projection"``: collect the bounded centroid table once (k rows
      by construction) and fold the whole argmax into ONE map-only
      projection — ``plane_dots_arrow`` (one Arrow-batched matrix pass
      returning the k dots AND the self-dot, so the norm is
      ``sqrt(dots[k])`` — bit-identical to ``l2_norm`` with no separate
      HOF column for the optimizer to re-inline) + per-centroid
      ``when(den != 0, struct(round(cos, 6), -cid))`` folded by
      ``greatest`` (the same struct ordering the join path's ``max``
      uses; a NULL struct == not a join candidate).  Plan: the argmax
      exchange is gone and the n*k interpreted HOF dot evaluations
      (~4k element-evals per vector at k=64, dim=64) become one numpy
      pass.  Measured crossover (OPTIMIZATION_r11.md §9b,
      interleaved, values identical at every scale): 2k vectors join
      0.77 s / projection 2.06 s; 20k parity (2.51 / 2.77); 200k
      projection WINS (6.12 / 5.12) and the gap grows with n — at
      cluster scale the per-vector CPU and the corpus exchange dominate
      the one k-row collect job.  Edge parity pinned: zero vectors,
      zero/NULL centroids, ties, ragged-dim vectors (kept with NULL
      cosine, exactly the join semantics).
    """
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    if method not in ("join", "projection"):
        raise ValueError(f"method must be 'join' or 'projection', got {method!r}")
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"),
        F.col(centroid_vec_col).alias("__cvec"),
        l2_norm(F.col(centroid_vec_col)).alias("__cn"),
    )
    if method == "projection":
        # NOTE: the projection path collects the centroid table EAGERLY at
        # plan-construction time (bounded by PROJECTION_MAX_CENTROIDS);
        # ragged dims / oversized k fall back to the lazy join path
        rows = sorted(c.collect(), key=lambda r: r["__cid"])
        mat = _projection_fallback(rows, "assign_clusters")
        if mat is None:
            method = "join"
    if method == "projection":
        from ia_hadoop_tools_spark.functions.vectorfns import plane_dots_arrow

        if not rows or not mat:
            # join path: empty (or all-null-vector) broadcast side means
            # no pair ever satisfies den != 0 -> empty output
            return df.select(
                F.col(id_col),
                F.lit(None).cast("long").alias("cluster_id"),
                F.lit(None).cast("double").alias("cos_to_centroid"),
            ).filter(F.lit(False))
        # ONE Arrow pass yields the k plane dots AND the self-dot; the norm
        # is sqrt(dots[k]) — bit-identical to l2_norm, and crucially NOT a
        # separate interpreted-HOF column that filter pushdown / projection
        # collapse would re-inline into all k structs (measured x1.9 at 20k
        # vectors before this; OPTIMIZATION_r11.md §9b)
        src = ensure_min_partitions(df.select(id_col, vec_col)).select(
            F.col(id_col),
            plane_dots_arrow(
                F.col(vec_col), mat, with_self_dot=True, single_eval=True
            ).alias("__dots"),
        )
        en = F.sqrt(F.col("__dots")[len(mat)])
        best = _centroid_best_struct(
            rows, en, F.col("__dots"), guarded=True
        )
        # NaN-DATA parity (round 12): Arrow's return conversion folds NaN
        # into NULL, but the join path KEEPS a NaN-component vector (its
        # HOF norm is NaN, NaN != 0 holds, every cosine is NaN, and NaN
        # sorts above every double — so the argmax falls to the smallest
        # candidate id).  Such rows are detectable for free: the dots
        # array is non-null but its self-dot slot is (only NaN folds to
        # null there).  Corner: a WRONG-LENGTH vector that also carries
        # NaN gets cos NaN here vs the join's NULL (same membership, same
        # cluster id).
        nan_row = (
            F.col("__dots").isNotNull() & F.col("__dots")[len(mat)].isNull()
        )
        smallest = min(r["__cid"] for r in rows if not _cvec_missing(r))
        return (
            src.select(
                F.col(id_col),
                F.when(nan_row, F.lit(smallest))
                .otherwise(-best["__nid"])
                .cast("long")
                .alias("cluster_id"),
                F.when(nan_row, F.lit(float("nan")))
                .otherwise(best["__cos"])
                .alias("cos_to_centroid"),
                F.when(nan_row, F.lit(True))
                .otherwise(best.isNotNull())
                .alias("__member"),
            )
            # exactly the join path's membership rule: a row survives iff
            # at least one (vector, centroid) pair had denom != 0 (a
            # surviving row can still carry a NULL cosine — ragged-dim
            # vectors null the dot but not the denom, as in the join path)
            .filter(F.col("__member"))
            .drop("__member")
        )
    # ROUND 12: the round-11 spread was MEASURED SLOWER on this path and
    # removed (prototype_prune x0.85/x0.96 flat, two interleaved A/Bs;
    # semdedup parity) — the argmax groupBy shuffles right after, so the
    # extra round-robin exchange of the vectors bought nothing.  The
    # projection path above KEEPS its spread (its single Arrow pass is
    # the whole computation; unmeasured at bench SFs, not benched).
    e = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__en")
    )
    denom = F.col("__en") * F.col("__cn")
    cos = F.round(
        dot_product(F.col(vec_col), F.col("__cvec")) / denom, 6
    )
    scored = (
        e.join(F.broadcast(c), denom != 0.0)
        .select(F.col(id_col), F.col("__cid"), cos.alias("__cos"))
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("__cos"), (-F.col("__cid")).alias("__nid"))).alias(
            "__best"
        )
    )
    return best.select(
        F.col(id_col),
        (-F.col("__best.__nid")).cast("long").alias("cluster_id"),
        F.col("__best.__cos").alias("cos_to_centroid"),
    )


def _semdedup_oversized_dups(
    lsh_src: DataFrame,
    *,
    threshold: float,
    cap: int,
    num_planes: int,
    bands: int,
    dim: int,
    seed: int,
    id_col: str,
    vec_col: str,
):
    """Dup ids inside oversized clusters, quadratic bounded by ``cap``.

    Input is (id, cluster_id, vec, __n) rows of clusters whose size exceeds
    the cap. Candidates come from banded sign-LSH sub-buckets keyed on
    ``(cluster_id, bucket)``; a sub-bucket still over the cap (all-identical
    boilerplate) switches to a linear pass against its min-id representative
    instead of the pairwise join. The census window and the pairwise
    self-join shuffle on the SAME key, so Catalyst reuses the exchange.
    Returns (dup_ids_df with one ``__dup_id`` column, Observation).
    """
    from pyspark.sql import Observation

    band_keys = _band_keys(F.col(vec_col), num_planes, bands, dim, seed)
    # skinny band rows: (cluster_id, bucket, id) — vectors join back only
    # for the per-distinct-pair verify (candidates-then-verify, as in
    # embedding_neardup_pairs)
    exploded = lsh_src.select(
        F.col("cluster_id"), F.explode(band_keys).alias("__bucket"), F.col(id_col)
    )
    obs = Observation("semdedup.oversized")
    exploded = exploded.observe(
        obs, F.count(F.lit(1)).alias("oversized_rows")
    )
    w = Window.partitionBy("cluster_id", "__bucket")
    marked = exploded.withColumn("__bn", F.count("*").over(w)).withColumn(
        "__rep", F.min(id_col).over(w)
    )
    small = marked.filter(F.col("__bn") <= cap)
    l = small.select(
        "cluster_id", "__bucket", F.col(id_col).alias("__ida")
    )
    r = small.select(
        "cluster_id", "__bucket", F.col(id_col).alias("__idb")
    )
    cand_small = (
        l.join(r, on=["cluster_id", "__bucket"])
        .filter(F.col("__ida") < F.col("__idb"))
        .select("__ida", "__idb")
    )
    # hot sub-bucket: O(B) representative pass — __rep is the bucket min,
    # so __rep < id holds for every emitted pair by construction
    cand_hot = (
        marked.filter((F.col("__bn") > cap) & (F.col(id_col) != F.col("__rep")))
        .select(F.col("__rep").alias("__ida"), F.col(id_col).alias("__idb"))
    )
    cand = cand_small.unionByName(cand_hot).dropDuplicates(["__ida", "__idb"])
    from ia_hadoop_tools_spark.functions.vectorfns import dot_product

    va = lsh_src.select(
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = lsh_src.select(
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.round(
        F.when(denom != 0.0, dot_product(F.col("__va"), F.col("__vb")) / denom),
        6,
    )
    dups = (
        cand.join(va, "__ida")
        .join(vb, "__idb")
        .filter(cos >= threshold)
        .select(F.col("__idb").alias("__dup_id"))
    )
    return dups, obs


#: minimum band count the semdedup guard escalates to when it engages
#: (scripts/probe_semdedup_recall.py: borderline recall at threshold
#: 0.90 is 0.84 with 4 bands but >= 0.95 with 8 — more bands = more
#: independent collision chances). Raise-only: explicit caller bands
#: above this are kept.
AUTO_GUARD_BANDS = 8


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    auto_planes: bool = True,
    assign_method: str = "join",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering the embedding space and dropping near-identical vectors
    WITHIN each cluster only.

    The whole point at 100 TB scale: all-pairs cosine is O(n^2), but
    near-duplicates land in the same cluster, so the quadratic term is
    bounded by the LARGEST CLUSTER, not the corpus — assignment is a
    broadcast join (no corpus shuffle), the within-cluster self-join
    shuffles once on cluster_id (co-located), and k scales with corpus
    size to keep clusters bounded.

    Keep rule (deterministic): a vector is a duplicate iff some
    same-cluster vector with a SMALLER id has cosine >= threshold to it —
    the lowest-id member of every near-dup neighborhood survives. (The
    paper keeps the member with lowest cosine-to-centroid; the id rule is
    the deterministic, oracle-checkable variant of the same policy.)

    ``max_cluster_size`` bounds the quadratic when centroids are badly
    placed (boilerplate embeddings collapsing onto one centroid — nothing
    else bounds the LARGEST cluster). Clusters over the cap are routed
    through banded sign-LSH sub-buckets (the ``embedding_neardup_pairs``
    scheme, keyed on ``(cluster_id, band_bucket)``): near-identical
    vectors agree on almost all sign bits, so they still collide in >=1
    band w.h.p. Sub-buckets that THEMSELVES exceed the cap (all-identical
    boilerplate — the exact mass the guard exists for) are NOT dropped:
    they fall back to a linear representative pass, comparing each member
    only to the bucket's min-id vector, which marks the boilerplate mass
    dup in O(B) instead of O(B^2). Recall inside oversized clusters is
    approximate (a pair colliding in no band, or in only hot buckets while
    dissimilar to the hot rep, is missed) — documented, same contract as
    ``textops._drop_hot_buckets``. With the default ``None`` the exact
    path runs for every cluster and results are unchanged (the oracle
    pins this path). Routed-row metrics ride the first action on the
    ``out.oversized_obs`` Observation (``oversized_rows`` band rows).

    GUARDED-PATH RECALL (measured, scripts/probe_semdedup_recall.py —
    borderline pairs engineered at threshold+0.005 inside one oversized
    cluster, cap=100, the worst case for banding): bands=4 recall
    0.84 / 0.94 / 1.00 at threshold 0.90 / 0.95 / 0.99; bands=8 (the
    recall-escalation knob — narrower match per band, more chances to
    collide) 0.97 / 0.999 / 1.00. False dups are impossible at any
    setting (every candidate is verified against the exact cosine).
    Near-identical boilerplate is unaffected: the skew probe's dup set
    stays bit-identical to exact (delta 0) at 59x speedup.

    ``auto_planes`` (default True) makes the sub-bucket geometry scale
    with the data: a band has 2^(num_planes/bands) buckets, so a DIVERSE
    cluster larger than ~buckets*cap would make every sub-bucket hot and
    degenerate the guard to the rep-only pass (measured ~1% borderline
    recall). When the guard engages, bits per band are raised until the
    expected bucket size is ~cap/2 (capped at 24) AND the band count is
    raised to at least ``AUTO_GUARD_BANDS`` (= 8; round-7 — band count
    is the borderline-recall knob, see the probe numbers above, so the
    default geometry now hits >= 0.95 recall at threshold 0.90 with no
    manual tuning; raise-only, explicit larger ``bands`` are kept).
    This runs the cluster census eagerly at construction — one tiny job
    over the persisted assignment every action needs anyway. Pass
    ``auto_planes=False`` to pin the explicit ``num_planes``/``bands``
    geometry.

    Returns (id_col, cluster_id, is_dup).
    """
    from pyspark import StorageLevel

    from ia_hadoop_tools_spark.functions.vectorfns import dot_product, l2_norm

    # The assignment subtree feeds THREE consumers (the a/b sides of the
    # within-cluster self-join and the final dup-mark join), and its
    # broadcast-NLJ has no exchange for ReuseExchange to dedup — without a
    # persist the corpus would re-score against every centroid 3x per
    # action (same pattern as embedding_neardup_pairs' banded persist).
    # ROUND-11 OPTIMIZATION (guide §5 — cache the thing every consumer
    # reads): persist the vector-attached frame, not the bare assignment.
    # The old shape cached `assigned` and re-ran the assigned-x-corpus
    # join once per self-join side; now scoring AND the vector join run
    # once, and the census/final-verdict consumers read the same cache
    # (they only project (id, cluster_id) off it).
    withvec = (
        assign_clusters(
            df, centroids, id_col=id_col, vec_col=vec_col, method=assign_method
        )
        .join(df.select(id_col, vec_col), id_col)
        .select(
            F.col(id_col),
            "cluster_id",
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("__n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    assigned = withvec.select(id_col, "cluster_id")
    oversized_obs = None
    if max_cluster_size is None:
        exact_src, lsh_src = withvec, None
    else:
        if max_cluster_size < 2:
            raise ValueError("max_cluster_size must be >= 2")
        # validate the EXPLICIT geometry even though auto_planes may
        # rescale it — a non-dividing bands/num_planes combo is caller
        # error, not something to silently repair
        if bands < 1 or num_planes % bands != 0:
            raise ValueError(
                f"bands must divide num_planes (got num_planes="
                f"{num_planes}, bands={bands})"
            )
        # cluster census is <= k rows (one per centroid) — broadcast the
        # routing join so the corpus is scanned, never shuffled, to route
        sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("__csz"))
        routed = withvec.join(F.broadcast(sizes), "cluster_id")
        exact_src = routed.filter(F.col("__csz") <= max_cluster_size).drop("__csz")
        lsh_src = routed.filter(F.col("__csz") > max_cluster_size).drop("__csz")
        if auto_planes:
            # SUB-BUCKET GEOMETRY MUST SCALE WITH THE OVERSIZED CLUSTER:
            # a band has 2^(planes/bands) buckets, so a diverse cluster
            # larger than ~buckets*cap makes EVERY sub-bucket hot and the
            # guard degenerates to the rep-only pass (the round-6 recall
            # probe measured ~1% borderline recall in exactly that
            # regime). Pick bits so expected bucket size ~ cap/2; the
            # census collect is one tiny job over the (persisted)
            # assignment every action needs anyway — it makes
            # construction eager, documented in the docstring.
            mx = sizes.agg(F.max("__csz").alias("m")).collect()[0]["m"] or 0
            if mx > max_cluster_size:
                # expected sub-bucket ~cap/2 (this guard's historical
                # target; the shared rule documents the raise-only and
                # bands-escalation semantics)
                num_planes, bands = _auto_band_geometry(
                    mx, max_cluster_size / 2.0, num_planes, bands
                )
    a = exact_src.select(
        F.col(id_col).alias("__ida"),
        F.col("cluster_id").alias("__ca"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = exact_src.select(
        F.col(id_col).alias("__idb"),
        F.col("cluster_id").alias("__cb"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    # zero-norm guard: Spark treats NaN as LARGER than any double, so an
    # unguarded 0/0 here would pass `>= threshold` and mark a zero vector
    # a duplicate of everything in its cluster; null compares false
    denom_ab = F.col("__na") * F.col("__nb")
    cos = F.round(
        F.when(
            denom_ab != 0.0,
            dot_product(F.col("__va"), F.col("__vb")) / denom_ab,
        ),
        6,
    )
    dup_ids = (
        a.join(b, (F.col("__ca") == F.col("__cb")) & (F.col("__ida") < F.col("__idb")))
        .filter(cos >= threshold)
        .select(F.col("__idb").alias("__dup_id"))
    )
    if lsh_src is not None:
        dup_lsh, oversized_obs = _semdedup_oversized_dups(
            lsh_src,
            threshold=threshold,
            cap=max_cluster_size,
            num_planes=num_planes,
            bands=bands,
            dim=dim,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
        )
        dup_ids = dup_ids.unionByName(dup_lsh)
    dup_ids = dup_ids.distinct()
    out = (
        assigned.join(
            dup_ids, F.col(id_col) == F.col("__dup_id"), "left_outer"
        )
        .select(
            F.col(id_col),
            "cluster_id",
            F.col("__dup_id").isNotNull().alias("is_dup"),
        )
    )
    # release handle (the shingle_cache convention in textops.py) — the
    # persisted frame is the vector-attached one now
    out.assign_cache = withvec
    out.oversized_obs = oversized_obs
    return out


def prototype_prune(
    df: DataFrame,
    centroids: DataFrame,
    keep_frac: float = 0.8,
    drop: str = "prototypes",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    assign_method: str = "join",
) -> DataFrame:
    """Cluster-aware data pruning by prototypicality — the D4 step that
    composes with :func:`semdedup` (Tirumala et al. 2023 "D4: Improving
    LLM Pretraining via Document De-Duplication and Diversification";
    Sorscher et al. 2022 "Beyond neural scaling laws" SSL-prototypes).

    Assigns every vector to its nearest centroid (:func:`assign_clusters`
    — broadcast, corpus never shuffles for the assignment), ranks within
    each cluster by cosine-to-centroid, and keeps a ``keep_frac``
    fraction of each cluster:

    - ``drop='prototypes'`` (the D4 default): rank ASCENDING cosine —
      near-centroid documents are the semantically redundant "templates"
      (boilerplate, near-identical pages) and the FARTHEST survive.
    - ``drop='outliers'`` (SSL-prototypes' easy-data regime / the noisy
      web-tail cut): rank DESCENDING cosine — the CLOSEST survive.

    Returns (``id_col``, ``cluster_id``, ``cos_to_centroid``,
    ``cluster_rank``, ``keep``) — verdicts, not a filtered frame (the
    :func:`~ia_hadoop_tools_spark.operators.components.dedup_groups`
    shape), so callers can audit the cut before applying it.

    Deterministic and engine-exact: cosines are rounded to 6 dp BEFORE
    ranking (the :func:`assign_clusters` rule), rank ties break id-asc,
    and the per-cluster keep count is pure 64-bit integer arithmetic —
    ``(size * keep_ppm) div 1_000_000`` with ``keep_ppm =
    round(keep_frac * 1e6)`` — so no float multiply can flip a boundary
    row between engines.  floor semantics: a cluster smaller than
    ``1/keep_frac`` can keep zero documents (documented; pass
    ``keep_frac=1.0`` to keep all).

    Scale shape (100 TB): two skinny corpus-sized exchanges — the
    assignment's partial-aggregated ``max_by`` groupBy on the id (one
    row per id survives map-side) and the window's hash partition on
    ``cluster_id`` of ``(id, cluster, cos)`` rows; the embedding column
    is projected away before either shuffle.  Per-cluster sort is
    partition-local and bounded by cluster size: k-means-trained
    centroids (:func:`train_ivf_centroids`) keep cells balanced, and at
    larger corpora the operator scales by raising k, not by skewing
    cells.

    Zero-norm vectors carry no direction to cluster by and are absent
    from the output entirely (the :func:`assign_clusters` rule) — they
    are neither kept nor dropped; audit them separately if they exist.
    """
    if not 0.0 <= keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in [0, 1], got {keep_frac}")
    if drop not in ("prototypes", "outliers"):
        raise ValueError(
            f"drop must be 'prototypes' or 'outliers', got {drop!r}"
        )
    keep_ppm = int(round(keep_frac * 1e6))
    assigned = assign_clusters(
        df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        method=assign_method,
    )
    order = (
        F.col("cos_to_centroid").asc()
        if drop == "prototypes"
        else F.col("cos_to_centroid").desc()
    )
    w = Window.partitionBy("cluster_id").orderBy(order, F.col(id_col).asc())
    wc = Window.partitionBy("cluster_id")
    ranked = assigned.select(
        id_col,
        "cluster_id",
        "cos_to_centroid",
        F.row_number().over(w).alias("cluster_rank"),
        F.count("*").over(wc).alias("__sz"),
    )
    return ranked.select(
        id_col,
        "cluster_id",
        "cos_to_centroid",
        "cluster_rank",
        (
            F.col("cluster_rank")
            <= F.expr(f"(__sz * {keep_ppm}) div 1000000")
        ).alias("keep"),
    )
