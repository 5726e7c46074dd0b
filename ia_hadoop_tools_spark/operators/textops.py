"""Document-table operators: text stats, language ID, fingerprinting, and
near-duplicate detection (MinHash+LSH, SimHash, exact n-gram Jaccard).

These are the training-data-pipeline extensions (BASELINE.json north star) —
not in the reference, but designed like its operators: deterministic,
sort/shuffle-conscious, oracle-checkable.

Scale notes (100 TB of documents):
- Everything before the candidate join is a narrow per-row projection in
  codegen (shingles/hashes/signatures) — no Python, no shuffle.
- MinHash LSH shuffles once on the band bucket key (pairs never materialize
  globally; only within-bucket). Band buckets with heavy collisions (boiler-
  plate text) are the skew risk — AQE skew-join splitting handles the join,
  and `max_bucket` caps pathological buckets (logged, not silently dropped).
- Exact-Jaccard verification joins candidate pairs back to shingle sets —
  cost proportional to candidate count, not n^2.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from ia_hadoop_tools_spark.functions.hashfns import (
    hash32,
    minhash_permutations,
    permute_hash,
)
from ia_hadoop_tools_spark.functions.textfns import (
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    word_shingles,
)
from ia_hadoop_tools_spark.plans.introspect import leaf_bytes, max_partition_bytes


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to ``n`` (default: defaultParallelism) iff
    the input is SMALL — small enough that its scan cannot yield ~n splits.

    CPU-bound per-row operators (shingling, hashing, vector math) inherit the
    scan's partitioning; a small table in one parquet row group runs on ONE
    core. At 100 TB inputs already have thousands of partitions and this is a
    no-op.

    ROUND-11 (guide §1.2 — the decision must not cost a job): the old
    ``df.rdd.getNumPartitions()`` probe silently EXECUTES every upstream
    AQE stage when the plan contains a shuffle or broadcast join (``.rdd``
    forces adaptive planning of the whole query) — measured 1.6 s and one
    full join job at plan-BUILD time on the novel_docs batch. Decide from
    the optimizer's size estimates instead, summed over the plan's LEAF
    relations (zero execution): small leaves bound the whole plan's output
    — any derived table is at most join-multiplied small data, exactly the
    case the spread exists for — while the post-join estimate itself is
    non-CBO-inflated (observed 36 GB for a 0.6 MB broadcast join) and
    would mis-skip. Threshold ``n * maxPartitionBytes`` mirrors the old
    partition-count rule: a leaf set big enough to yield ~n scan splits
    (or any shuffle above it, which yields shuffle.partitions) never
    repartitions.  Cached and checkpointed inputs carry real leaf
    estimates and follow the same rule; RDD-backed leaves (Long.Max
    estimates) and a failed statistics read leave the plan unchanged.
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    size = leaf_bytes(df)
    limit = n * max_partition_bytes(df.sparkSession)
    # unknown size (RDD-backed leaves, failed read): leave the plan alone
    if size is None or size >= limit:
        return df
    return df.repartition(n)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add token/char/punct/stopword/quality columns (pure projection)."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        F.length(c).alias("n_chars_computed"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(stopword_ratio(c, "en"), 6).alias("stopword_ratio_en"),
        F.round(quality_score(c), 6).alias("quality"),
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    model: DataFrame | None = None,
    id_col: str = "doc_id",
    **lang_nb_kwargs,
) -> DataFrame:
    """Add a ``lang_pred`` column.

    Default: the zero-model stopword-vote heuristic (pure column
    expression, no join).  With ``model`` (a ``train_lang_nb`` frame):
    the trained char n-gram NB path (``operators/langid.lang_nb``) —
    CCNet/fastText-style classification; extra kwargs (``n``,
    ``max_chars``) pass through and must match training.  The trained
    path joins predictions back by ``id_col`` (broadcast model, skinny
    prediction rows — the text column still never shuffles) and the
    returned frame carries the persisted model as ``.model_cache``
    (the lang_nb release-handle convention — unpersist it in loops
    passing plan-distinct models; the attribute lives on the RETURNED
    OBJECT only and is lost by any further transformation, so capture
    it before chaining — or persist the model yourself, in which case
    no internal persist happens).  The default heuristic path sets NO
    such attribute (nothing is cached there)."""
    if model is None:
        return df.withColumn("lang_pred", lang_id(F.col(text_col)))
    from ia_hadoop_tools_spark.operators.langid import lang_nb

    preds = lang_nb(
        df, model, text_col=text_col, id_col=id_col, **lang_nb_kwargs
    )
    out = df.join(preds.select(id_col, "lang_pred"), id_col, "left")
    # propagate lang_nb's release handle (review r9: dropping it here
    # re-created the loop-caller cache leak the handle exists to fix)
    out.model_cache = preds.model_cache
    return out


def normalize_corpus(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    digits: bool = True,
    punct: bool = False,
) -> DataFrame:
    """Add the CCNet-style dedup-normalized text column
    (``functions/textfns.normalize_text``): lowercase, control chars
    stripped, digits -> 0, optional ASCII punctuation strip, whitespace
    collapsed.  Run it BEFORE exact/MinHash dedup so trivial variants
    (case, digit runs, spacing) collapse into one group — the Wenzek et
    al. 2020 preprocessing step; a pure codegen projection."""
    from ia_hadoop_tools_spark.functions.textfns import normalize_text

    return df.withColumn(
        out_col, normalize_text(F.col(text_col), digits=digits, punct=punct)
    )


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 8) -> DataFrame:
    """Add a rolling-hash ``fingerprint`` column (min k-char shingle hash)."""
    return df.withColumn("fingerprint", doc_fingerprint(F.col(text_col), k))


def dedup_exact_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ids_only: bool = False,
) -> DataFrame:
    """Exact content dedup: keep the min-id representative per distinct text.

    Default path returns (id, text): a hash-groupBy on the text itself —
    the output carries the text, so the text must shuffle exactly once and
    map-side partial aggregation collapses duplicates before it does; an
    extra digest column would be pure overhead.

    ``ids_only=True`` is the 100 TB path: group on ``(md5(text),
    length(text))`` so the shuffle carries one skinny row per distinct
    document and return only the winning ids (re-attach text via a join if
    needed). A collision would need two different texts with equal MD5 AND
    equal length — the same digest-identity assumption the reference's CDX
    digest dedup makes (CdxDedupReducer).
    """
    if ids_only:
        return (
            df.groupBy(
                F.md5(F.col(text_col)).alias("__h"),
                F.length(F.col(text_col)).alias("__n"),
            )
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
    return (
        df.groupBy(F.col(text_col))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, text_col)
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
) -> DataFrame:
    """(id, shingles): distinct word-shingle set; too-short docs dropped.

    The too-short filter tests the CHEAP precondition (token count >= n, which
    is exactly "shingle set non-empty") on the raw text, NOT ``size(shingles)``
    on the computed column: a size-on-result filter gets predicate-pushed below
    any upstream repartition and drags the whole interpreted shingle expression
    into a pre-shuffle single-partition Filter — measured 85x slower at sf0.1.
    """
    from ia_hadoop_tools_spark.functions.textfns import tokens

    shingles = F.array_distinct(word_shingles(F.col(text_col), shingle_words))
    return (
        df.filter(F.size(tokens(F.col(text_col))) >= shingle_words)
        .select(F.col(id_col), shingles.alias("shingles"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_words: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig): MinHash signature per document.

    sig[j] = min over shingles of ((a_j * (hash32(s) mod p) + b_j) mod p) —
    coefficients from the fixed seed so oracles can reproduce exactly.
    Docs with no shingles (shorter than the shingle width) are dropped.

    Shape: explode shingles -> hash each ONCE -> one hash-aggregate with
    ``num_perm`` min() columns. The md5 runs once per (doc, shingle); partial
    mins combine map-side, so the shuffle carries one row per doc. (A per-row
    array formulation re-inlines the hash array into every permutation under
    projection collapse — 16x the work.)
    """
    from ia_hadoop_tools_spark.functions.hashfns import MERSENNE_P

    perms = minhash_permutations(num_perm)
    if shingles is None:
        shingles = shingle_sets(
            ensure_min_partitions(df.select(id_col, text_col)),
            id_col, text_col, shingle_words,
        )
    hashed = (
        shingles
        .select(F.col(id_col), F.explode("shingles").alias("__s"))
        .select(F.col(id_col), (hash32(F.col("__s")) % MERSENNE_P).alias("__h"))
    )
    aggs = [
        # the shared helper (its DuckDB mirror permute_hash_sql is what
        # the oracle runs): __h is already reduced mod p, so this is the
        # identical expression — one definition, no drift
        F.min(permute_hash(F.col("__h"), a, b)).alias(f"__sig{j}")
        for j, (a, b) in enumerate(perms)
    ]
    sigs = hashed.groupBy(id_col).agg(*aggs)
    return sigs.select(
        F.col(id_col), F.array(*[f"__sig{j}" for j in range(num_perm)]).alias("sig")
    )


def band_key_array(num_perm: int, bands: int):
    """Array expression of LSH band keys over a ``sig`` column.

    Key b = "b_sig[b*r]_..._sig[b*r+r-1]" (r = num_perm // bands): two docs
    collide on band b iff that signature slice is identical. Shared by
    :func:`minhash_lsh_pairs` (self-join) and the persistent corpus index
    (``operators/dedup_index.py``) so both sides of a cross-corpus probe
    derive byte-identical bucket keys.
    """
    if bands < 1 or bands > num_perm or num_perm % bands != 0:
        # bands > num_perm silently yields rows=0: every key collapses to
        # "b", ALL docs share every bucket, and the self-join goes O(n^2)
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, "
            f"bands={bands})"
        )
    rows = num_perm // bands
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[F.col("sig").getItem(b * rows + r) for r in range(rows)],
            )
            for b in range(bands)
        ]
    )


def report_hot_bucket_drops(df: DataFrame, what: str = "lsh_pairs") -> int:
    """Log a warning if the pair DataFrame's hot-bucket cap ENGAGED.

    The hot-bucket caps on the pair operators (``minhash_lsh_pairs``,
    ``simhash_pairs``, ``embedding_neardup_pairs``) silently change the
    recall contract when a bucket actually exceeds ``max_bucket`` —
    pairs agreeing ONLY in dropped buckets are excluded.  Call this
    AFTER the first action on the result (the dropped count rides the
    action as an ``Observation``, so the read here is free); it logs one
    ``logging`` warning when band rows were dropped so interactive
    callers notice the contract engaging, and returns the dropped-row
    count (0 when the cap never engaged, or when ``df`` carries no
    observation — cap disabled or rows produced by an older path).

    Deliberately NOT automatic: ``Observation.get`` blocks until an
    action runs, so an eager in-operator warning would either launch a
    census job at construction (the round-10 laziness fix removed
    exactly that) or leak a waiting thread per construction.
    """
    obs = getattr(df, "hot_bucket_obs", None)
    if obs is None:
        return 0
    import logging

    dropped = obs.get.get("hot_band_rows") or 0
    if dropped > 0:
        logging.getLogger(__name__).warning(
            "%s: hot-bucket cap engaged — %d band rows dropped; pairs "
            "agreeing only in dropped buckets are excluded (raise "
            "max_bucket or pass max_bucket=None for exhaustive recall)",
            what,
            dropped,
        )
    return int(dropped)


def _drop_hot_buckets(
    exploded: DataFrame, max_bucket: int | None, what: str
) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket`` members — lazily.

    One boilerplate bucket of size B yields B^2/2 candidate rows in the
    banded self-join — AQE splits the shuffle but not the quadratic blowup,
    so pathological buckets must be removed BEFORE the join. The cap is a
    window count over the bucket key: the window's shuffle partitions on
    exactly the key the downstream self-join uses, so Catalyst reuses the
    exchange — no census job, no cache, and constructing the DataFrame
    launches ZERO Spark jobs (this is a lazy builder; the old eager
    ``.first()`` census ran a job per construction).

    The dropped-row count rides the real action as an ``Observation``
    (``df.hot_bucket_obs``): after the caller's first action,
    ``obs.get["hot_band_rows"]`` is the number of band rows removed —
    metrics collection costs no extra job. Docs in a dropped bucket still
    pair via their other bands (recall degrades only for pairs agreeing
    ONLY on the pathological band — exactly the boilerplate collisions
    being excluded).
    """
    if max_bucket is None:
        return exploded
    from pyspark.sql import Observation

    marked = exploded.withColumn(
        "__bn", F.count("*").over(Window.partitionBy("bucket"))
    )
    obs = Observation(f"{what}.hot_buckets")
    marked = marked.observe(
        obs,
        F.sum(
            F.when(F.col("__bn") > max_bucket, 1).otherwise(0)
        ).alias("hot_band_rows"),
    )
    out = marked.filter(F.col("__bn") <= max_bucket).drop("__bn")
    out.hot_bucket_obs = obs
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Pipeline: shingle once (persisted — signatures AND verification read it;
    recomputing shingles is the dominant CPU at scale) -> signature -> explode
    band keys -> drop buckets over ``max_bucket`` (see ``_drop_hot_buckets``)
    -> self-join per bucket -> distinct candidate pairs -> verify true
    Jaccard on the shingle sets -> threshold.
    """
    from pyspark import StorageLevel

    sh = shingle_sets(
        ensure_min_partitions(df.select(id_col, text_col)), id_col, text_col, shingle_words
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_words, shingles=sh)
    # Band rows carry only (id, bucket) — the shingle arrays stay OUT of the
    # self-join and are re-attached only to surviving candidate pairs.
    exploded = sigs.select(
        F.col(id_col), F.explode(band_key_array(num_perm, bands)).alias("bucket")
    )
    exploded = _drop_hot_buckets(exploded, max_bucket, "minhash_lsh_pairs")
    left = exploded.alias("l")
    right = exploded.alias("r")
    cand = (
        left.join(right, on="bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union.cast("double")
    out = (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # cache + metrics handles: `shingle_cache.unpersist()` releases the one
    # persisted table once the caller's action is done; `hot_bucket_obs.get`
    # (after an action) reports band rows dropped by the max_bucket cap.
    out.shingle_cache = sh
    if hasattr(exploded, "hot_bucket_obs"):
        out.hot_bucket_obs = exploded.hot_bucket_obs
    return out


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Add a ``simhash`` column: bit i is set iff sum over tokens of
    (2*bit_i(hash32(token)) - 1) > 0. Token multiplicity weights naturally;
    tokenless docs get simhash 0.

    Shape: explode tokens -> hash each ONCE -> one hash-aggregate with
    ``bits`` sum() columns (map-side combinable), then a single join back —
    instead of ``bits`` per-row array traversals that each re-inline the
    hash computation under projection collapse.
    """
    if not 1 <= bits <= 32:
        # hash32 is a 32-bit hash: bits > 32 would silently produce dead
        # always-zero upper bits (wasted aggregates + degenerate bands)
        raise ValueError(f"bits must be 1..32 (hash32 source), got {bits}")
    from ia_hadoop_tools_spark.functions.textfns import tokens

    toks = tokens(F.col(text_col))  # the engine-wide shared tokenizer
    hashed = (
        ensure_min_partitions(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(toks).alias("__t"))
        .select(F.col(id_col), hash32(F.col("__t")).alias("__h"))
    )
    aggs = [
        F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"__b{i}")
        for i in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*aggs)
    acc = None
    for i in range(bits):
        term = F.when(F.col(f"__b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = term if acc is None else acc + term
    sums = sums.select(F.col(id_col), acc.alias("__simhash"))
    return (
        df.join(sums, on=id_col, how="left")
        .withColumn("simhash", F.coalesce(F.col("__simhash"), F.lit(0).cast("long")))
        .drop("__simhash")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    band_bits: int = 8,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(simhash) <= max_hamming.

    Candidate generation blocks on ``bits/band_bits`` bands of the fingerprint
    (pigeonhole: any pair within distance d shares at least one of d+1 bands
    intact) — the self-join happens per band bucket, never globally. Buckets
    over ``max_bucket`` are dropped with a logged count (boilerplate
    protection; see ``_drop_hot_buckets``).
    """
    sh = simhash(df, id_col, text_col, bits).select(id_col, "simhash")
    nbands = max(max_hamming + 1, bits // band_bits)
    width = bits // nbands
    bandkeys = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                (F.shiftright(F.col("simhash"), b * width) % F.lit(1 << width)).cast("string"),
            )
            for b in range(nbands)
        ]
    )
    e = sh.select(id_col, "simhash", F.explode(bandkeys).alias("bucket"))
    e = _drop_hot_buckets(e, max_bucket, "simhash_neardup_pairs")
    l, r = e.alias("l"), e.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    out = (
        l.join(r, on="bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    if hasattr(e, "hot_bucket_obs"):
        out.hot_bucket_obs = e.hot_bucket_obs
    return out


#: default per-shingle document-frequency bound for
#: ``ngram_jaccard_pairs`` — the same number as the LSH operators'
#: ``max_bucket`` default, for the same reason: one shingle shared by B
#: docs contributes B^2/2 rows to the inverted-index join, so an
#: unbounded default is a corpus-scale footgun (a boilerplate shingle in
#: 10^6 docs makes the default plan 10^12-row on that key).  Pass
#: ``max_df=None`` explicitly for the exact/verifier contract.
DEFAULT_JACCARD_MAX_DF = 5000

#: default candidate-volume budget for ``ngram_jaccard_pairs``: the
#: per-shingle ``max_df`` cap bounds each KEY, but the join's total
#: volume is sum(df^2) over surviving shingles — and that is quadratic
#: in corpus size for a fixed vocabulary even when NO shingle reaches
#: the cap.  Measured (round-11 sf10 decade probe): the synthetic sf10
#: corpus has max df 2,500 — the 5,000 cap never engages — yet
#: sum(df^2) = 2.8e10 candidate rows, which filled an 80 GB disk with
#: shuffle spill.  2e9 rows (~32 GB of (shingle,id,id) shuffle) is the
#: largest volume a 32-slot single box absorbs comfortably; on a real
#: cluster raise it deliberately.
DEFAULT_JACCARD_MAX_CANDIDATES = 2_000_000_000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_JACCARD_MAX_DF,
    max_candidates: int | None = DEFAULT_JACCARD_MAX_CANDIDATES,
) -> DataFrame:
    """n-gram Jaccard similar pairs (id_a < id_b, jaccard >= threshold).

    Inverted-index join: explode distinct shingles, equi-join on the shingle,
    count shared shingles per pair, then |A∪B| = |A|+|B|-|A∩B|. Exact over
    the surviving shingle space, but quadratic in per-shingle document
    frequency (MinHash LSH is the scale path; this is the verifier /
    small-corpus path).

    ``max_df`` is the standard inverted-index pruning knob: shingles
    appearing in more than ``max_df`` documents are dropped, bounding the
    join at max_df^2 rows per shingle. Jaccard is then computed over the
    SURVIVING shingle space (sizes shrink too — the same semantics as
    stop-word removal): exact duplicates still score 1.0, while pairs whose
    only overlap was dropped boilerplate disappear. The DEFAULT is
    ``DEFAULT_JACCARD_MAX_DF`` (= the LSH operators' ``max_bucket``
    default) so no single key explodes — matching every other
    pair-producing API since round 11; pass ``max_df=None`` explicitly
    for the fully exact contract (the registered oracle row does,
    mirroring exhaustive search).

    ``max_candidates`` is the TOTAL-volume guard the per-key cap cannot
    provide (see ``DEFAULT_JACCARD_MAX_CANDIDATES``: a corpus where no
    shingle reaches ``max_df`` can still carry a sum(df^2) that fills
    the cluster's shuffle disks — the round-11 sf10 probe hit exactly
    that).  It is LAZY — no job at construction: the surviving
    inverted-index volume aggregates into a 1-row broadcast, and a
    ``raise_error`` gate on the join input fails the ACTION fast (first
    tasks, before the join shuffle materializes) with the measured
    volume and remediation (lower ``max_df``, or use
    ``minhash_lsh_pairs`` — candidates-by-signature-collision scales
    where candidates-by-shared-shingle cannot).  ``None`` disables.
    Only active on the ``max_df`` path: with ``max_df=None`` you asked
    for exhaustive search and get exactly that.
    """
    from pyspark import StorageLevel

    # shingle once, persist: the plan reads this THREE times (sizes + both
    # sides of the inverted-index join) — without the cache the whole
    # tokenize+shingle pipeline re-runs per reference.
    shingles = (
        shingle_sets(
            ensure_min_partitions(df.select(id_col, text_col)),
            id_col, text_col, shingle_words,
        )
        .select(F.col(id_col).alias("id"), F.col("shingles").alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inv = shingles.select("id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        # Lazy max_df pruning: a window count over the shingle key — the
        # SAME key the inverted-index join shuffles on, so the exchange is
        # reused and no census job runs at construction time. Sizes are
        # computed over the SURVIVING shingle space, so jaccard stays a true
        # Jaccard of the pruned sets (exact dup -> 1.0).
        inv = inv.withColumn(
            "__df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("__df") <= max_df)
        if max_candidates is not None:
            # total-volume guard, still lazy: each surviving row carries
            # its shingle's df, so sum(__df) over rows == sum(df^2) over
            # shingles == the join's candidate-row count.  The 1-row agg
            # broadcasts into a raise_error gate evaluated on the join
            # INPUT — an over-budget corpus fails in the first map tasks
            # with the measured volume, not after filling the shuffle
            # disks (round-11 sf10 probe: 2.8e10 candidates, 80 GB
            # spill, zero shingles at the cap).
            vol = inv.agg(
                F.coalesce(F.sum("__df"), F.lit(0)).alias("__cand_vol")
            )
            gate = F.when(
                F.col("__cand_vol") > max_candidates,
                F.raise_error(
                    F.format_string(
                        "ngram_jaccard_pairs: candidate volume %s exceeds "
                        "max_candidates=%s — lower max_df (per-shingle df "
                        "cap), raise max_candidates deliberately, or use "
                        "minhash_lsh_pairs (signature-collision candidates "
                        "scale where shared-shingle candidates cannot)",
                        F.col("__cand_vol"),
                        F.lit(str(max_candidates)),
                    )
                ),
            ).otherwise(F.lit(True))
            inv = inv.join(F.broadcast(vol), gate, "inner").drop(
                "__cand_vol"
            )
        inv = inv.drop("__df").persist(StorageLevel.MEMORY_AND_DISK)
        sizes = inv.groupBy("id").agg(F.count("*").alias("n"))
    else:
        sizes = shingles.select("id", F.size("sh").alias("n"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    out = (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # cache handles — call .unpersist() on these once the result has been
    # materialized (bench/driver runs clearCache() between queries)
    out.shingle_cache = shingles
    out.index_cache = inv if max_df is not None else None
    return out


def novel_docs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Incremental cross-corpus dedup: flag each NEW-batch doc against an
    EXISTING corpus — the "what survives ingestion" primitive of a rolling
    training-data pipeline (the cross-corpus analog of the reference's
    STAGED-INCLUDED manifest cycle, cdx/notes.txt:19-36, applied to text).

    Output, one row per new doc:
      - ``exact_dup``: some corpus doc has byte-identical text
      - ``n_near``: corpus docs with n-gram Jaccard >= ``threshold``
      - ``is_novel``: neither exact nor near

    Scale shape: the exact check joins on ``xxhash64(text)`` (skinny) and
    verifies text equality only on hash-equal rows; the near check is the
    cross-corpus inverted-index join (candidates-then-verify, cost tracks
    shared-shingle volume, never |new| x |corpus|). ``max_df`` prunes
    boilerplate shingles by their document frequency across BOTH sides,
    same semantics as :func:`ngram_jaccard_pairs`. At 100 TB swap the
    inverted index for the MinHash band join (:func:`minhash_lsh_pairs`
    buckets built on the corpus once, reused per batch).
    """
    from pyspark import StorageLevel

    # --- exact: hash-first, verify text on the (rare) hash-equal rows
    nh = new_df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__t"),
        F.xxhash64(text_col).alias("__h"),
    )
    # dedup on (hash, text) — hash alone would discard one of a colliding
    # pair and silently miss exact duplicates of it, re-introducing the
    # hash-identity reliance the text-equality verify exists to remove
    ch = corpus_df.select(
        F.xxhash64(text_col).alias("__h"), F.col(text_col).alias("__ct")
    ).dropDuplicates(["__h", "__ct"])
    exact = (
        nh.join(ch, "__h")
        .filter(F.col("__t") == F.col("__ct"))
        .select("id")
        .distinct()
        .withColumn("exact_dup", F.lit(True))
    )

    # --- near: cross inverted-index join -> exact jaccard verify
    new_sh = (
        shingle_sets(
            ensure_min_partitions(new_df.select(id_col, text_col)),
            id_col, text_col, shingle_words,
        )
        .select(F.col(id_col).alias("id"), F.col("shingles").alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cor_sh = (
        shingle_sets(
            ensure_min_partitions(corpus_df.select(id_col, text_col)),
            id_col, text_col, shingle_words,
        )
        .select(F.col(id_col).alias("cid"), F.col("shingles").alias("csh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inv_n = new_sh.select("id", F.explode("sh").alias("shingle"))
    inv_c = cor_sh.select("cid", F.explode("csh").alias("shingle"))
    if max_df is not None:
        # Lazy, unconditional pruning: the hot-shingle set (document
        # frequency across BOTH sides > max_df) is tiny by construction and
        # broadcasts into left-anti joins — one broadcast exchange, reused
        # for both sides; no census job runs at construction time.
        hot = (
            inv_n.select("shingle")
            .unionByName(inv_c.select("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        # NO broadcast hint: |hot| is corpus-dependent (bounded only by
        # total_occurrences/max_df — a small max_df over a big corpus
        # makes it huge); the hint would override the broadcast threshold
        # and OOM the driver instead of degrading to a shuffle anti-join.
        # AQE broadcasts automatically whenever hot is actually small.
        inv_n = inv_n.join(hot, "shingle", "left_anti")
        inv_c = inv_c.join(hot, "shingle", "left_anti")
        inv_n = inv_n.persist(StorageLevel.MEMORY_AND_DISK)
        inv_c = inv_c.persist(StorageLevel.MEMORY_AND_DISK)
        sizes_n = inv_n.groupBy("id").agg(F.count("*").alias("n_a"))
        sizes_c = inv_c.groupBy("cid").agg(F.count("*").alias("n_b"))
    else:
        sizes_n = new_sh.select("id", F.size("sh").alias("n_a"))
        sizes_c = cor_sh.select("cid", F.size("csh").alias("n_b"))
    shared = (
        inv_n.join(inv_c, "shingle")
        .groupBy("id", "cid")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    near = (
        shared.join(sizes_n, "id")
        .join(sizes_c, "cid")
        .filter(F.round(jac, 6) >= threshold)
        .groupBy("id")
        .agg(F.count("*").alias("n_near"))
    )

    out = (
        new_df.select(F.col(id_col).alias("id"))
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .fillna({"exact_dup": False, "n_near": 0})
        .select(
            F.col("id").alias(id_col),
            "exact_dup",
            "n_near",
            (~F.col("exact_dup") & (F.col("n_near") == 0)).alias("is_novel"),
        )
    )
    # cache handles — unpersist after materialization if running many batches
    out.shingle_caches = (new_sh, cor_sh)
    out.index_caches = (inv_n, inv_c) if max_df is not None else None
    return out


def collocation_scores(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    discount: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Word2vec-style phrase mining: score adjacent word pairs by how much
    more often they co-occur than chance (Mikolov et al. 2013 §4).

    Integer-exact variant of ``score = (c12 - delta) * N / (c1 * c2)``:
    the scaled numerator and the floor division keep results bit-stable
    under any partitioning (no float accumulation), so the DuckDB oracle
    matches exactly. Pairs with ``c12 <= discount`` or ``c12 <
    min_count`` are dropped (the word2vec discount kills rare-pair
    noise).

    Returns (``w1``, ``w2``, ``n_pair``, ``score``); higher score =
    stronger collocation ("new york" class pairs).

    Scale shape: two groupBys (pairs, unigrams) with full map-side
    combine over vocabulary-bounded key spaces, then a broadcast-sized
    unigram join (vocab << corpus; for web-scale vocabularies the join
    keys are still words — shuffle degrades gracefully).
    """
    from ia_hadoop_tools_spark.operators.importance import word_bigrams

    # SAME tokenization as word_bigrams (portable whitespace class,
    # empties removed): a single-space split here would count unigrams
    # over a different token stream than the pair side on messy text
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.col(text_col), "[ \t\n\f\r]+"),
                lambda t: t != "",
            )
        ).alias("w")
    )
    n_total = words.groupBy().agg(F.count("*").alias("__n"))
    uni = words.groupBy("w").agg(F.count("*").alias("__c"))
    pairs = (
        docs.select(F.explode(word_bigrams(text_col)).alias("__bg"))
        .select(
            F.split(F.col("__bg"), " ").getItem(0).alias("w1"),
            F.split(F.col("__bg"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(
            (F.col("n_pair") >= min_count) & (F.col("n_pair") > discount)
        )
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("__c").alias("__c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("__c").alias("__c2"))
    # no broadcast HINT on the unigram tables: a hint overrides
    # autoBroadcastJoinThreshold unconditionally, so a web-scale vocab
    # would OOM the driver instead of degrading to the shuffle join the
    # docstring promises — let AQE pick (it broadcasts when small).
    # decimal(38,0) arithmetic: (n_pair * N * scale) overflows int64 at
    # ~1e9-word corpora; the decimal `div` floor matches DuckDB HUGEINT
    # `//` exactly and the final score fits bigint.
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.expr(
                f"cast(((cast(n_pair as decimal(38,0)) - {discount})"
                f" * __n * {scale})"
                f" div (cast(__c1 as decimal(38,0)) * __c2) as bigint)"
            ).alias("score"),
        )
    )


def corpus_stats(
    df: DataFrame,
    by: str | None = "source",
    text_col: str = "text",
    distinct: str = "exact",
) -> DataFrame:
    """Per-source corpus report card — the numbers a training team
    watches per ingest: (``source``, ``n_docs``, ``n_tokens``,
    ``mean_tokens``, ``max_tokens``, ``n_chars``, ``n_unique_texts``,
    ``dup_frac``).

    One aggregation job over the corpus; ``by=None`` rolls the whole
    corpus into a single ``source='ALL'`` row.  Tokens use the engine's
    one word rule (lowercase + WORD_SPLIT, empties dropped — the
    lm_quality/classifier tokenizer), so ``n_tokens`` here is the same
    count `corpus-pack` budgets against.  NULL text counts as an empty
    document (0 tokens / 0 chars), not a dropped row.

    ``mean_tokens`` and ``dup_frac`` are fixed-order divisions of exact
    long aggregates (no float accumulation), so the row is engine-exact
    and oracle-checkable.  ``distinct='exact'`` counts unique texts via
    ``count_distinct(md5)`` — the shuffle carries one skinny
    (source, digest) row per distinct document (the dedup_exact_text
    digest-identity assumption); ``distinct='approx'`` is the 100 TB
    path (HLL++ ``approx_count_distinct``, one pass, no distinct
    shuffle — pair it with the kmv/hll sketch rows when the bound
    matters).
    """
    if distinct not in ("exact", "approx"):
        raise ValueError(
            f"distinct must be 'exact' or 'approx', got {distinct!r}"
        )
    from ia_hadoop_tools_spark.operators.bpe import WORD_SPLIT

    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.size(F.filter(F.split(F.lower(t), WORD_SPLIT), lambda x: x != ""))
    src = F.col(by) if by is not None else F.lit("ALL")
    rows = df.select(
        src.alias("source"),
        toks.alias("__t"),
        F.length(t).alias("__c"),
        F.md5(t).alias("__h"),
    )
    uniq = (
        F.count_distinct("__h")
        if distinct == "exact"
        else F.approx_count_distinct("__h")
    )
    return rows.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("__t").alias("n_tokens"),
        (F.sum("__t").cast("double") / F.count("*")).alias("mean_tokens"),
        F.max("__t").cast("long").alias("max_tokens"),
        F.sum("__c").alias("n_chars"),
        uniq.alias("n_unique_texts"),
        # clamped at 0: the approx path's HLL estimate can overshoot
        # n_docs on mostly-distinct sources (the current_stats rule in
        # streaming/stats_stream.py); a no-op for the exact path, so the
        # oracle's unclamped division still matches
        F.greatest(
            F.lit(0.0),
            (F.count("*") - uniq).cast("double") / F.count("*"),
        ).alias("dup_frac"),
    )
