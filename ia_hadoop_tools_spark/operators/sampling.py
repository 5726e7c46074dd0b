"""Deterministic corpus sampling and training-sequence packing.

Training-data pipelines need reproducible subsets and mixes — not
``df.sample`` (seed-stable only per partitioning) but content-addressed
sampling: a row's in/out decision depends only on its id, so any re-run,
re-partitioning, or incremental extension agrees with the last one. Same
idea as the reference's deterministic partition-by-key routing
(AlphaPartitioner), applied to sampling.

- ``sample_hash``: keep rows where md5(id) mod M < fraction*M.
- ``sample_stratified``: per-stratum fractions (e.g. per ``source`` or per
  language) — the standard training-mix reweighting step.
- ``pack_sequences``: assign documents to fixed-token-budget training bins:
  cumulative token count per stratum (one window), bin = cumsum div budget.
  Greedy-by-sort-order packing — deterministic, one shuffle per stratum
  column, and the bin id is reproducible given (order, budget).

All pure codegen projections/windows — no Python, exact SQL oracles.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MOD = 1_000_000


def _hash_bucket(id_col: str, salt: str = ""):
    # hashfns.hash32 (the engine's ONE md5-prefix hash, byte-identical to
    # the previous inline copy) -> [0, _MOD); content-addressed and
    # reproducible in any engine with md5 (DuckDB oracle: hash32_sql)
    from ia_hadoop_tools_spark.functions.hashfns import hash32

    return hash32(F.col(id_col).cast("string"), salt=salt) % _MOD


def hash_fraction_predicate(
    id_col: str, fraction: float, salt: str = ""
):
    """Boolean Column keeping ~``fraction`` of rows, content-addressed on
    ``id_col`` — the engine's ONE hash-sampling convention (md5-prefix
    mod 1e6), exposed so callers (e.g. the corpus-buckets calibration
    slice) never re-implement it.  ``salt`` decorrelates independent
    samples.  Resolution is 1/_MOD: any nonzero fraction keeps at least
    one grid step (a raw ``int()`` truncation silently kept NOTHING for
    fractions under 1e-6)."""
    thr = int(fraction * _MOD)
    if fraction > 0:
        thr = max(1, thr)
    return _hash_bucket(id_col, salt=salt) < thr


def sample_hash(
    df: DataFrame, fraction: float, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ~``fraction`` sample keyed on ``id_col`` content."""
    return df.filter(_hash_bucket(id_col) < int(fraction * _MOD))


#: above this many strata the CASE expression nests too deep (Catalyst
#: stack) — switch to a broadcast threshold join, value-identical
_STRATA_CASE_MAX = 64


def sample_stratified(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (training-mix reweighting).

    ``fractions`` maps stratum value -> keep fraction; strata not listed
    (including NULL strata) keep ``default_fraction``.  Up to
    ``_STRATA_CASE_MAX`` strata the threshold lookup inlines as a CASE
    expression (one codegen filter, no shuffle); past that — e.g.
    per-HOST fractions from :func:`temperature_fractions` over a real
    crawl — a nested CASE would overflow Catalyst's stack, so the
    thresholds become a broadcast left join + the same filter,
    value-identical by construction.
    """
    bucket = _hash_bucket(id_col)
    if len(fractions) <= _STRATA_CASE_MAX:
        thr = F.lit(int(default_fraction * _MOD))
        for val, frac in sorted(fractions.items()):
            thr = F.when(
                F.col(strata_col) == val, F.lit(int(frac * _MOD))
            ).otherwise(thr)
        return df.filter(bucket < thr)
    spark = df.sparkSession
    thr_df = spark.createDataFrame(
        [(k, int(v * _MOD)) for k, v in sorted(fractions.items())],
        "__stratum: string, __thr: int",
    )
    return (
        df.join(
            F.broadcast(thr_df),
            df[strata_col] == thr_df["__stratum"],
            "left",
        )
        .filter(
            bucket
            < F.coalesce(F.col("__thr"), F.lit(int(default_fraction * _MOD)))
        )
        .drop("__stratum", "__thr")
    )


def temperature_fractions(
    df: DataFrame,
    alpha: float,
    target_rows: int,
    strata_col: str = "source",
    weight_col: str | None = None,
) -> dict[str, float]:
    """Per-stratum keep fractions implementing temperature sampling —
    the multilingual-LM mixing scheme (XLM / mBERT style): stratum s
    with share p_s of the corpus is sampled with probability
    q_s ∝ p_s^alpha, renormalized.  alpha=1 keeps the natural mix,
    alpha=0 equalizes strata, between damps the head.  Feed the result
    to :func:`sample_stratified`:

        fracs = temperature_fractions(docs, 0.7, 1_000_000)
        mix = sample_stratified(docs, fracs)

    ``weight_col`` weights by a column sum (e.g. ``n_tokens`` to hit a
    TOKEN budget) instead of row count.  Oversubscribed strata
    (q_s * target > size) cap at fraction 1.0 and their shortfall is
    redistributed to the uncapped strata (waterfill, <= #strata
    rounds), so the expected kept total meets ``target_rows`` whenever
    the corpus can.

    Scale shape: ONE map-side-combinable aggregation bounded by the
    stratum count; everything after is driver arithmetic on that
    bounded dict — so keep strata cardinality bounded (per registered
    DOMAIN, not per raw host, for web corpora).  Rows whose stratum is
    NULL are excluded from the shares (and, with
    sample_stratified's default_fraction=0, from the sample) — assign
    them a stratum first if they must participate.  The expectation is
    exact up to the sampler's 1/1e6 hash-grid resolution: each nonzero
    fraction is rounded UP to the grid so no stratum silently
    contributes zero rows (truncation used to zero out fractions under
    1e-6 — exactly the giant-stratum case); the realized sample varies
    by the binomial noise of :func:`sample_hash`'s md5 buckets.
    """
    import math

    if not (isinstance(alpha, (int, float)) and math.isfinite(alpha)):
        raise ValueError(f"alpha must be finite, got {alpha!r}")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1, got {target_rows}")
    agg = (
        F.sum(weight_col) if weight_col else F.count(F.lit(1))
    ).alias("__c")
    sizes = {
        r[strata_col]: float(r["__c"] or 0)
        for r in df.groupBy(strata_col).agg(agg).collect()
        if r[strata_col] is not None
    }
    sizes = {k: v for k, v in sizes.items() if v > 0}
    if not sizes:
        return {}
    total = sum(sizes.values())
    weights = {k: (v / total) ** alpha for k, v in sizes.items()}
    if min(weights.values()) == 0.0:
        # (share)^alpha underflowed for some stratum — the waterfill
        # would divide by a zero weight sum (or silently assign keep
        # fraction 0.0); an alpha this extreme is a caller error
        raise ValueError(
            f"alpha={alpha} underflows the weight of some stratum to 0 "
            "(share^alpha < double min) — use a smaller alpha"
        )
    fracs: dict[str, float] = {}
    remaining = float(target_rows)
    live = dict(weights)
    # waterfill: strata whose quota exceeds their size cap at 1.0 and
    # release the excess to the rest; terminates in <= len(sizes) rounds
    while live and remaining > 0:
        wsum = sum(live.values())
        capped = {
            k for k in live if sizes[k] <= remaining * live[k] / wsum
        }
        if not capped:
            for k in live:
                fracs[k] = (remaining * live[k] / wsum) / sizes[k]
            remaining = 0
            break
        for k in capped:
            fracs[k] = 1.0
            remaining -= sizes[k]
            del live[k]
    # quantize UP to the sampler's hash grid: int(frac * _MOD) in
    # sample_stratified would truncate a sub-1e-6 fraction to a
    # keep-nothing threshold, silently emptying the biggest stratum
    return {
        k: min(math.ceil(min(f, 1.0) * _MOD), _MOD) / _MOD
        for k, f in sorted(fracs.items())
    }


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    strata_col: str | Sequence[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each doc a training-sequence bin under a token budget.

    Concat-and-chunk layout (the GPT-style packing): docs are concatenated
    in ``id_col`` order (per stratum if given) into one token stream, the
    stream is cut every ``budget`` tokens, and each doc reports the bin
    containing its FIRST token plus its offset within that bin —
    ``seq_start`` is the doc's global token offset. The sort order makes
    the layout exactly reproducible.

    Scale shape: with a ``strata_col`` the cumulative sum is one window
    per stratum. WITHOUT one it is a GLOBAL prefix sum, which must not
    become a single-partition window (one task sorting the corpus): the
    frame is range-sorted on ``id_col``, each partition runs a LOCAL
    window, and bounded per-partition totals (one row per partition,
    driver-side exclusive prefix) shift the local sums — bit-identical to
    the single window because ``id_col`` rows are totally ordered across
    range partitions. The sorted frame is ``localCheckpoint``ed (NOT
    merely persisted) so the partition boundaries seen by the totals
    pass and the output pass are the same: range boundaries are sampled
    with a seed derived from the RDD id, so a persisted block lost to
    executor failure would be recomputed in a FRESH execution whose
    re-sampled boundaries can shift ``__pid`` labels under the stale
    driver-collected offsets — silently wrong ``seq_start`` exactly at
    the scale this path targets (round-5 advisor finding; the
    write_zipnum must-not-recompute idiom). Release via
    ``out.pack_cache``.
    ``bin`` uses integer ``div`` — a double division would misround near
    2^53 and diverge from the integer SQL oracle.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    _check_output_columns(
        df, ["seq_start", "bin", "bin_offset", "__pid"], "pack_sequences"
    )
    if strata_col:
        # str or sequence of strata columns (e.g. ("split", "shard") in
        # assemble_corpus's one-pass plan) — same per-stratum window
        strata = (
            [strata_col] if isinstance(strata_col, str) else list(strata_col)
        )
        w = (
            Window.partitionBy(*strata)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = df.withColumn(
            "seq_start",
            (F.sum(token_col).over(w) - F.col(token_col)).cast("long"),
        )
        cache = None
    else:
        spark = df.sparkSession
        cache = (
            df.repartitionByRange(id_col)
            .sortWithinPartitions(id_col)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        totals = sorted(
            (r["__pid"], r["__t"])
            for r in cache.groupBy("__pid")
            .agg(F.sum(token_col).alias("__t"))
            .collect()
        )  # one row per partition — bounded driver state
        offs, acc = [], 0
        for pid, t in totals:
            offs.append((pid, acc))
            acc += int(t or 0)
        off_df = spark.createDataFrame(offs or [(0, 0)], "__pid int, __off long")
        lw = (
            Window.partitionBy("__pid")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = (
            cache.join(F.broadcast(off_df), "__pid", "left")
            .withColumn(
                "seq_start",
                (
                    F.sum(token_col).over(lw)
                    - F.col(token_col)
                    + F.coalesce("__off", F.lit(0))
                ).cast("long"),
            )
            .drop("__pid", "__off")
        )
    out = out.withColumn(
        "bin", F.expr(f"seq_start div {int(budget)}")
    ).withColumn("bin_offset", F.col("seq_start") % budget)
    out.pack_cache = cache
    return out


def release_pack_cache(out: DataFrame) -> None:
    """Free the checkpoint blocks behind a :func:`pack_sequences` result
    (global-prefix-sum path only; no-op otherwise). ``unpersist()`` alone
    would miss the localCheckpoint RDD's storage blocks."""
    cache = getattr(out, "pack_cache", None)
    if cache is not None:
        from ia_hadoop_tools_spark.plans.introspect import release_local_checkpoint

        release_local_checkpoint(cache)


def _check_output_columns(df: DataFrame, outputs: Sequence[str], op: str):
    # withColumn silently REPLACES an existing column, so a caller's
    # frame already carrying an output/scratch name would lose data with
    # no warning (round-7 advisor finding) — fail loudly instead
    clash = [c for c in outputs if c in df.columns]
    if clash:
        raise ValueError(
            f"{op}: input already has column(s) {clash}; rename or drop "
            "them first (the operator would silently overwrite them)"
        )


def _split_expr(id_expr, splits: list[tuple[str, float]]):
    """The content-addressed split CASE over an arbitrary id expression
    (validates ``splits``): split_corpus applies it to ``id_col``;
    split_leakage_near re-applies the identical expression to each pair
    side, so pair splits are bit-identical to split_corpus with zero
    extra join or shuffle."""
    import math

    from ia_hadoop_tools_spark.functions.hashfns import hash32

    if not splits:
        raise ValueError("splits must be non-empty")
    for name, frac in splits:
        # a negative / NaN fraction would pass a sum-only check and
        # silently produce non-monotonic CASE bounds (empty split,
        # mis-sized neighbors) — validate each entry
        if not name:
            raise ValueError("split names must be non-empty")
        if not (isinstance(frac, (int, float)) and math.isfinite(frac)):
            raise ValueError(f"split {name!r}: fraction {frac!r} not finite")
        if frac < 0:
            raise ValueError(f"split {name!r}: fraction {frac} < 0")
    total = sum(f for _, f in splits)
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    names = [n for n, _ in splits]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate split names: {names}")
    bucket = hash32(id_expr.cast("string"), salt="split:") % _MOD
    expr = F.lit(None).cast("string")
    cum = 0.0
    # build the CASE back-to-front so earlier splits win their range
    bounds = []
    for name, frac in splits:
        cum += frac
        bounds.append((name, int(round(cum * _MOD))))
    for name, ub in reversed(bounds):
        expr = F.when(bucket < ub, F.lit(name)).otherwise(expr)
    return expr


def split_corpus(
    df: DataFrame,
    splits: list[tuple[str, float]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Adds ``split``: deterministic, disjoint train/val/test-style
    assignment by cumulative hash ranges — the eval-split step every
    training pipeline needs to be reproducible AND stable under corpus
    growth (a doc's split never changes when other docs are added,
    unlike any sort/row_number scheme).

    ``splits`` is ordered (name, fraction) with fractions summing to
    <= 1; rows whose bucket falls past the cumulative total get a NULL
    split (kept, so the caller decides — sum to 1.0 to assign all).
    The hash is salted ('split:') so ranges do NOT correlate with
    sample_hash / sample_stratified buckets: sampling 10% then
    splitting stays unbiased.

    One codegen CASE over the md5 bucket — no shuffle, no Python; exact
    SQL oracle via hashfns.hash32_sql.  Raises if the input already has
    a ``split`` column (withColumn would silently overwrite it).
    """
    _check_output_columns(df, ["split"], "split_corpus")
    return df.withColumn("split", _split_expr(F.col(id_col), splits))


def split_leakage(
    df: DataFrame,
    splits: list[tuple[str, float]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-split contamination audit: groups of IDENTICAL ``text_col``
    content that straddle more than one split — the leakage that makes
    validation loss a lie (the val doc IS a train doc).

    Content-addressed split assignment is growth-stable but knows
    nothing about duplicate text: two byte-identical docs with
    different ids hash independently and can land in different splits.
    This returns one row per leaking text group: ``text_md5``,
    ``n_docs``, ``n_splits``, ``splits`` (sorted comma-joined split
    list), ``min_doc_id`` (a representative to inspect).  Empty result
    = no exact-text leakage.  For NEAR-duplicate leakage use
    :func:`split_leakage_near` (MinHash-LSH pairs whose sides disagree
    on split — same composition, approximate contract).

    Scale shape: one groupBy on the text hash (skinny rows — the text
    itself reduces to md5 map-side), all aggregates map-side-combinable;
    output is bounded by the number of DUPLICATE groups, not the corpus.
    """
    assigned = split_corpus(df, splits, id_col=id_col).filter(
        F.col("split").isNotNull()
    )
    return (
        assigned.select(
            F.md5(F.col(text_col)).alias("text_md5"),
            "split",
            F.col(id_col),
        )
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias(
                "splits"
            ),
            F.min(id_col).alias("min_doc_id"),
        )
        .filter(F.col("n_splits") > 1)
    )


def cap_per_stratum(
    df: DataFrame,
    n: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``n`` rows per stratum — the RefinedWeb/Gopher
    "limit documents per domain" anti-boilerplate rule (one domain's
    template pages must not dominate the mix), the documents-table
    sibling of the CDX day-limit (operators/daylimit.py, which caps per
    (urlkey, day) in TIMESTAMP order per
    mapreduce/GlobalWaybackMergeMapper.java:20-83).

    Selection inside a stratum is by salted content hash of ``id_col``
    (ties: id asc) — a seeded uniform N-sample per stratum that is
    deterministic at any parallelism and independent of input order,
    NOT first-N-by-id (which would bias toward old docs).  Different
    ``seed`` => a different representative sample.  Note: unlike
    ``sample_hash``, a per-stratum COUNT cap cannot be growth-stable —
    adding docs to a full stratum displaces whichever now hash-sort
    last.

    Scale shape: one window per stratum (rank over the stratum
    partition, hash order) — the same shape as day_limit, eligible for
    Spark's WindowGroupLimit pushdown (rank filter ``<= n`` prunes
    map-side before the shuffle).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    _check_output_columns(df, ["__rn"], "cap_per_stratum")
    from ia_hadoop_tools_spark.functions.hashfns import hash32

    key = hash32(F.col(id_col).cast("string"), salt=f"cap:{seed}:")
    w = Window.partitionBy(strata_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def split_leakage_near(
    df: DataFrame,
    splits: list[tuple[str, float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 5000,
) -> DataFrame:
    """NEAR-duplicate eval-split contamination audit — the leakage mode
    real corpora actually have (exact dups are usually deduped before
    splitting, but a val doc that is a 90%-Jaccard rewrite of a train
    doc still makes validation loss a lie).

    Composes :func:`split_corpus`'s content-addressed assignment with
    the MinHash-LSH near-duplicate pair detector
    (operators/textops.minhash_lsh_pairs — banded candidates, exact
    Jaccard verification): returns one row per near-dup pair whose
    sides land in DIFFERENT splits — ``(id_a, id_b, jaccard, split_a,
    split_b)`` with id_a < id_b and jaccard >= ``threshold``.  Pairs
    with an unassigned (NULL-split) side are dropped.  Empty result =
    no near-dup leakage at this threshold.  Exact-duplicate leakage is
    the cheaper :func:`split_leakage`.

    Scale shape: the pair detector is the dominant cost and is fully
    bucketed (band self-join + hot-bucket cap — no all-pairs stage);
    the split labels are NOT joined back — ``split_corpus``'s CASE is a
    pure function of the id, so each side's split is recomputed as a
    codegen projection on the surviving pairs (bit-identical to the
    assignment, zero extra shuffle).  Output is bounded by the near-dup
    pair count.  Release ``out.shingle_cache`` after the action.
    """
    from ia_hadoop_tools_spark.operators.textops import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        df.select(id_col, text_col),
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_words=shingle_words,
        threshold=threshold,
        max_bucket=max_bucket,
    )
    split_a = _split_expr(F.col("id_a"), splits)
    split_b = _split_expr(F.col("id_b"), splits)
    out = (
        pairs.select(
            "id_a",
            "id_b",
            "jaccard",
            split_a.alias("split_a"),
            split_b.alias("split_b"),
        )
        .filter(
            F.col("split_a").isNotNull()
            & F.col("split_b").isNotNull()
            & (F.col("split_a") != F.col("split_b"))
        )
    )
    # propagate the detector's release/metrics handles
    out.shingle_cache = pairs.shingle_cache
    if hasattr(pairs, "hot_bucket_obs"):
        out.hot_bucket_obs = pairs.hot_bucket_obs
    return out


_HASH_SPACE = 1 << 32  # hash32 range
#: curriculum strata-census bound: strata x phases rows collected
_CENSUS_CAP = 8192
#: strata-mode auto-escalation bound (curriculum_shuffle): a validated
#: large census is accepted up to this many (stratum, phase) rows
#: (~50 MB of driver transfer at ~50 B/row); past it the caller must
#: opt in with census_cap=
_CENSUS_HARD_CAP = 1 << 20


def _shuffle_key(id_col: str, seed: int, epoch: int):
    # content-addressed pseudorandom order key: the seed AND epoch salt
    # the hash, so an epoch bump is a full decorrelated re-shuffle with
    # zero extra machinery (the reference's AlphaPartitioner routing —
    # jobs/BuildCluster.java:71-209 — pointed at a pseudorandom key)
    from ia_hadoop_tools_spark.functions.hashfns import hash32

    return hash32(
        F.col(id_col).cast("string"), salt=f"shuffle:{seed}:{epoch}:"
    )


def corpus_shuffle(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    epoch: int = 0,
    id_col: str = "doc_id",
    strata_col: str | None = None,
) -> DataFrame:
    """Seeded deterministic global training-order shuffle: adds ``shard``
    (int, ``[0, n_shards)``) and ``pos`` (long, 0-based order within the
    shard) — the last verb of a training-data pipeline (BuildCluster's
    total-order sort in reverse: training wants seeded *disorder*).

    Determinism contract: same (seed, epoch) => identical shard
    assignment AND intra-shard order at ANY parallelism, because nothing
    here samples — the order key is a salted content hash of ``id_col``,
    the shard is a fixed-width slice of the hash space
    (``key * n_shards div 2^32`` — balanced for a uniform hash, exact
    integer math in any engine), and ties (hash collisions) break on
    ``id_col``.  ``repartitionByRange`` would have been the obvious
    routing but its sampled boundaries shift with input partitioning, so
    it can NOT honor the contract; the content-addressed slice can.
    Different seeds (or epochs) => decorrelated orders: epoch N+1 is a
    fresh shuffle, not a rotation.

    Scale shape: one codegen projection + one window per shard
    (``row_number`` over the shard partition, ordered by the hash).  The
    per-shard sort is shard-sized — exactly the sort ANY shard writer
    pays — and shard count is the parallelism knob: at 100 TB pick
    n_shards so a shard fits an executor's sort budget (e.g. 10k shards
    of ~10 GB).  No sampling pass, no global window, no driver state.

    ``strata_col`` (optional) scopes ``pos`` to (stratum, shard) — one
    independent shuffle per stratum in a SINGLE pass/plan, bit-identical
    to running corpus_shuffle per stratum slice (the hash key does not
    depend on the stratum), which is how assemble_corpus shuffles every
    split in one scan instead of one scan per split.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    _check_output_columns(df, ["__shuffle_key", "shard", "pos"], "corpus_shuffle")
    key = _shuffle_key(id_col, seed, epoch)
    parts = ([strata_col] if strata_col else []) + ["shard"]
    w = Window.partitionBy(*parts).orderBy("__shuffle_key", id_col)
    return (
        df.withColumn("__shuffle_key", key)
        .withColumn(
            "shard",
            F.expr(f"__shuffle_key * {int(n_shards)} div {_HASH_SPACE}").cast(
                "int"
            ),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__shuffle_key")
    )


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    epoch: int = 0,
    id_col: str = "doc_id",
    phase_col: str | None = None,
) -> int:
    """Materialize :func:`corpus_shuffle` as ``shard=<i>/`` parquet dirs,
    one file per shard, rows stored in shuffle order; returns the row
    count (observed on the write itself — no output read-back).

    Routing is ``repartition(n_shards, shard)`` — a pure function of the
    shard id, so every shard lands wholly in one task and each
    ``shard=i`` directory gets exactly ONE file whose row order is the
    contract order (``sortWithinPartitions`` on (shard, pos)).  Readers
    that stream a shard file sequentially replay the training order
    without re-sorting.

    ``phase_col`` switches the order to :func:`curriculum_shuffle` —
    phase-major across the shard sequence, seeded shuffle within each
    phase — for curriculum / annealing-phase training runs.
    """
    from pyspark.sql import Observation

    if phase_col is not None:
        out = curriculum_shuffle(
            df, n_shards, phase_col, seed=seed, epoch=epoch, id_col=id_col
        )
    else:
        out = corpus_shuffle(df, n_shards, seed=seed, epoch=epoch, id_col=id_col)
    obs = Observation()
    (
        out.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return int(obs.get["n"])


def hamilton_alloc(counts: list, n_shards: int) -> list:
    """Largest-remainder (Hamilton) apportionment of ``n_shards`` whole
    shards to phases by ``counts``, with a minimum of ONE shard per
    (nonempty) phase — the :func:`curriculum_shuffle` allocation as a
    pure function, mirrored verbatim by its SQL oracle's CTEs.

    Pure integer arithmetic (exact quotas, remainder ranks with ties to
    the earlier phase), so the result is deterministic and
    engine-portable.  Invariants (property-tested): allocations sum to
    exactly ``n_shards``; every phase gets >= 1; after the min-1 floor
    the extras deviate from the exact proportional quota by < 1 shard
    (the Hamilton quota property on the spare pool).
    """
    n_phases = len(counts)
    if n_phases == 0:
        return []
    if n_phases > n_shards:
        raise ValueError(
            f"hamilton_alloc: {n_phases} phases > {n_shards} shards"
        )
    if any(c <= 0 for c in counts):
        raise ValueError("hamilton_alloc: counts must be positive")
    total = sum(counts)
    spare = n_shards - n_phases
    base = [(c * spare) // total for c in counts]
    rem = [(c * spare) % total for c in counts]
    leftover = spare - sum(base)
    by_rem = sorted(range(n_phases), key=lambda i: (-rem[i], i))
    bonus = set(by_rem[:leftover])
    return [1 + base[i] + (1 if i in bonus else 0) for i in range(n_phases)]


def curriculum_shuffle(
    df: DataFrame,
    n_shards: int,
    phase_col: str,
    seed: int = 0,
    epoch: int = 0,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    census_cap: int | None = None,
) -> DataFrame:
    """Phase-major deterministic training order — the data-ordering step
    of curriculum / annealing-phase training (Bengio et al. 2009
    curriculum learning; the end-of-run high-quality annealing mix
    modern pretraining recipes schedule): global order is ``phase_col``
    ascending, seeded-shuffled WITHIN each phase, emitted in the same
    (``shard``, ``pos``) shape as :func:`corpus_shuffle` so shard
    readers replay it unchanged.

    Each phase owns a CONTIGUOUS shard range sized by exact phase
    counts: every nonempty phase gets one shard, and the remaining
    ``n_shards - P`` distribute by :func:`hamilton_alloc` (largest
    remainder of the exact integer quota, ties to the earlier phase) —
    deterministic, no float in the allocation.  Within a phase the
    shard is the :func:`corpus_shuffle` fixed-width hash slice over the
    phase's own range, so the determinism contract carries over: same
    (seed, epoch) => identical (shard, pos) at ANY parallelism; an
    epoch bump decorrelates the within-phase order while the phase
    ranges stay put (the phase assignment is the caller's column, e.g.
    an ``lm_buckets``/``nb_quality`` cut — content-addressed when the
    scorer is).

    ``strata_col`` (the :func:`corpus_shuffle` strata contract) scopes
    the WHOLE construction per stratum in one pass: counts, allocation,
    shard ranges, and ``pos`` are all per (stratum) — bit-identical to
    running curriculum_shuffle on each stratum slice separately, which
    is how :func:`~ia_hadoop_tools_spark.operators.assemble.
    assemble_corpus` orders every split of an annealing version in a
    single scan.

    Cost over :func:`corpus_shuffle`: ONE extra map-side-combinable
    count aggregation whose driver transfer is bounded (phases are
    buckets, not ids — more phases than shards is rejected), plus a
    broadcast join of the allocation table.  The strata-mode census is
    soft-capped at ``_CENSUS_CAP`` rows: past it, a 1-row validation
    aggregate distinguishes a LEGITIMATE large census (many strata,
    each within ``n_shards`` phases — accepted up to
    ``_CENSUS_HARD_CAP``, the driver-transfer bound) from an id-like
    ``phase_col`` (rejected).  ``census_cap`` overrides both bounds
    when set — the explicit opt-in for driver transfers past the hard
    cap (the allocation is computed driver-side; budget ~50 bytes per
    (stratum, phase) row).  NULL phases (or strata) are rejected — a
    silent "last phase" default would reorder data on a data-quality
    bug.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    _check_output_columns(
        df,
        ["__shuffle_key", "__p", "__s", "__pstart", "__palloc", "shard", "pos"],
        "curriculum_shuffle",
    )
    # bounded census: the take() caps the driver transfer even when
    # phase_col is pathologically high-cardinality (e.g. an id column
    # by mistake) — if a row over the cap exists we either fail or (in
    # strata mode) validate before collecting more
    if census_cap is not None and census_cap < 1:
        raise ValueError(f"census_cap must be >= 1, got {census_cap}")
    if strata_col is None:
        cap = n_shards + 1 if census_cap is None else census_cap
    else:
        cap = _CENSUS_CAP if census_cap is None else census_cap
    gcols = ([F.col(strata_col).alias("__s")] if strata_col else []) + [
        F.col(phase_col).alias("__p")
    ]
    census = df.groupBy(*gcols).agg(F.count("*").alias("__c"))
    rows = census.take(cap + 1)
    if len(rows) > cap and strata_col is not None and census_cap is None:
        # soft cap exceeded (ADVICE r8): many strata x a valid per-
        # stratum phase count can legitimately outgrow _CENSUS_CAP
        # (e.g. 20 strata x 500 phases at n_shards=512).  ONE 1-row
        # aggregate decides: legitimate censuses (max phases per
        # stratum <= n_shards) are accepted up to the hard driver-
        # transfer bound; id-like phase columns are rejected here
        # without ever collecting them.
        stats = (
            df.groupBy(F.col(strata_col).alias("__s"))
            .agg(
                F.count_distinct(F.col(phase_col)).alias("__np"),
                # count_distinct ignores NULLs, so a NULL-phase row
                # would otherwise surface as the misleading id-like
                # error below instead of the NULL diagnosis (review r9)
                F.sum(
                    F.col(phase_col).isNull().cast("long")
                ).alias("__nulls"),
            )
            .agg(
                F.max("__np").alias("__mx"),
                F.sum("__np").alias("__tot"),
                F.sum("__nulls").alias("__nn"),
            )
            .first()
        )
        if stats["__nn"] and stats["__nn"] > 0:
            raise ValueError(
                "curriculum_shuffle: phase_col/strata_col contain NULLs — "
                "assign every document a phase (or filter) before ordering"
            )
        if stats["__mx"] > n_shards:
            raise ValueError(
                f"curriculum_shuffle: a stratum has {stats['__mx']} "
                f"phases — every phase needs at least one of the "
                f"{n_shards} shards per stratum (an id-like phase_col "
                f"is a bug, not a curriculum)"
            )
        if stats["__tot"] > _CENSUS_HARD_CAP:
            raise ValueError(
                f"curriculum_shuffle: census has {stats['__tot']} "
                f"(stratum, phase) rows, past the driver-transfer "
                f"bound {_CENSUS_HARD_CAP}; pass "
                f"census_cap={stats['__tot']} to opt in"
            )
        cap = int(stats["__tot"])
        rows = census.take(cap + 1)
    if len(rows) > cap:
        raise ValueError(
            f"curriculum_shuffle: census exceeds {cap} (stratum, phase) "
            f"rows — every phase needs at least one of the {n_shards} "
            f"shards per stratum (an id-like phase_col is a bug, not a "
            f"curriculum)"
        )
    if any(r["__p"] is None for r in rows) or (
        strata_col is not None and any(r["__s"] is None for r in rows)
    ):
        raise ValueError(
            "curriculum_shuffle: phase_col/strata_col contain NULLs — "
            "assign every document a phase (or filter) before ordering"
        )
    if not rows:
        # empty corpus: same output shape, no allocation to compute
        return corpus_shuffle(
            df, n_shards, seed=seed, epoch=epoch, id_col=id_col,
            strata_col=strata_col,
        )
    by_stratum: dict = {}
    for r in rows:
        st = r["__s"] if strata_col is not None else None
        by_stratum.setdefault(st, []).append((r["__p"], r["__c"]))
    amap_rows = []
    for st, pcs in by_stratum.items():
        pcs.sort()
        if len(pcs) > n_shards:
            where = f" in stratum {st!r}" if strata_col is not None else ""
            raise ValueError(
                f"curriculum_shuffle: {len(pcs)} phases{where} need at "
                f"least that many shards, got n_shards={n_shards}"
            )
        alloc = hamilton_alloc([c for _, c in pcs], n_shards)
        acc = 0
        for (ph, _c), a in zip(pcs, alloc):
            amap_rows.append((st, ph, acc, a))
            acc += a
    cond = F.col(phase_col) == F.col("__p")
    if strata_col is not None:
        amap = df.sparkSession.createDataFrame(
            amap_rows, ["__s", "__p", "__pstart", "__palloc"]
        )
        cond = cond & (F.col(strata_col) == F.col("__s"))
    else:
        # no strata: an all-None __s column would defeat schema inference
        amap = df.sparkSession.createDataFrame(
            [r[1:] for r in amap_rows], ["__p", "__pstart", "__palloc"]
        )
    key = _shuffle_key(id_col, seed, epoch)
    parts = ([strata_col] if strata_col else []) + ["shard"]
    w = Window.partitionBy(*parts).orderBy("__shuffle_key", F.col(id_col))
    return (
        df.join(F.broadcast(amap), cond)
        .drop("__p", "__s")
        .withColumn("__shuffle_key", key)
        .withColumn(
            "shard",
            (
                F.col("__pstart")
                + F.expr(f"__shuffle_key * __palloc div {_HASH_SPACE}")
            ).cast("int"),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__shuffle_key", "__pstart", "__palloc")
    )
