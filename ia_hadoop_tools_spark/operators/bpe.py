"""BPE tokenizer training prep: corpus-scale symbol-pair statistics and
an iterative merge trainer.

The scale trick is the one every real BPE trainer uses: collapse the
corpus to a WORD-FREQUENCY vocabulary first (one shuffle over tokens,
output bounded by distinct-word count, not corpus size), then do all
pair counting and merging on the vocabulary weighted by word count.  At
100 TB the corpus pass is embarrassingly parallel + one bounded groupBy;
every one of the (typically 30k-50k) merge iterations afterwards touches
only the vocab — millions of rows, not billions.

``bpe_pair_counts`` is the first-merge statistic (adjacent character
pairs weighted by word frequency) and is fully SQL-expressible — it
carries the registry oracle.  ``bpe_train`` runs the driver-side merge
loop (pick argmax pair, merge it inside every affected word's symbol
sequence, recount) with persist + periodic eager lineage cuts; old
checkpoint blocks are released explicitly (``DataFrame.unpersist`` does
not free localCheckpoint storage, and the ContextCleaner is too lazy
for a 30k-iteration loop).  It is pinned by a differential test against
a pure-Python reference trainer rather than a SQL oracle (iterative,
data-dependent control flow).

Ties in the argmax are broken lexicographically on the pair so training
is deterministic under any partitioning.  All merge-pair literals enter
the plan as bound ``lit`` values, never interpolated SQL text — symbols
containing quotes or backslashes train correctly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.plans.introspect import release_local_checkpoint

#: split pattern for the corpus -> word pass. Pinned to the explicit
#: ASCII class because \\s differs across engines (Java includes \\x0B,
#: RE2/DuckDB does not, Python's str.split() adds Unicode spaces); the
#: oracle and the test reference use this same class.
WORD_SPLIT = "[ \\t\\n\\f\\r]+"


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (w, wc) word-frequency vocabulary. One shuffle, output
    bounded by |distinct words|.  The corpus explode is CPU-bound, so a
    small single-row-group input is spread across all slots first
    (no-op at scale — see textops.ensure_min_partitions)."""
    from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions

    return (
        ensure_min_partitions(df.select(F.col(text_col).alias("__t")))
        .select(F.explode(F.split(F.col("__t"), WORD_SPLIT)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Adjacent-character-pair counts over the corpus, computed on the
    vocabulary: (pair, n) where n = sum of word counts containing the
    pair at each position.  The top row is BPE's first merge.

    Plan shape: token explode -> vocab groupBy (the only corpus-sized
    shuffle) -> per-word pair explode (bounded by vocab * word length)
    -> vocab-sized groupBy.
    """
    vocab = word_vocab(df, text_col)
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "wc",
        )
        .groupBy("pair")
        .agg(F.sum("wc").alias("n"))
    )
    return pairs.filter(F.col("n") >= min_count)


def _pair_stats(vocab: DataFrame) -> DataFrame:
    """(a, b, n) over a (syms array<string>, wc) vocab."""
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.get(F.col("syms"), i).alias("a"),
                        F.get(F.col("syms"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "wc",
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").alias("n"))
    )


def _merge_pair(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every adjacent (a, b) in each word's symbol sequence with
    the merged symbol a+b — left-to-right, non-overlapping, matching the
    standard BPE merge rule.

    Pure Column-level ``aggregate`` fold over the symbol array (the
    merge literals are bound ``lit`` values — no SQL text interpolation,
    so quotes/backslashes in symbols are safe).  The fold state is
    (out array, pending symbol); the finish step flushes the pending
    symbol.  Left-to-right non-overlap falls out of the fold order: once
    (a, b) merges, pending resets, so the second b of "a b b" cannot
    merge again.
    """
    lit_a, lit_b, lit_ab = F.lit(a), F.lit(b), F.lit(a + b)

    def step(acc, s):
        hit = acc["pend"].eqNullSafe(lit_a) & s.eqNullSafe(lit_b)
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(lit_ab)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["pend"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
                .alias("out"),
                s.alias("pend"),
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )
    return vocab.withColumn(
        "syms", F.aggregate(F.col("syms"), init, step, finish)
    )


#: symbol-boundary markers inside the encoder's fold state: every symbol
#: is wrapped as OPEN+sym+CLOSE (ASCII record/unit separators).  Both are
#: stripped from input text before encoding so neither can occur inside
#: a symbol (documented caveat, mirrored by the oracle).
BPE_OPEN = "\x1e"
BPE_CLOSE = "\x1f"


def _check_merges(merges: list[tuple[str, str]]) -> None:
    """Reject merge symbols that would corrupt the wrapped fold state.

    Input TEXT is sanitized (the U+001E/U+001F markers are translated
    away before wrapping), but the merge table is caller-supplied — a
    hand-edited ``--merges`` TSV whose symbol contains a marker would
    otherwise silently produce wrong tokens.  Mirror the input
    sanitization as a loud contract instead."""
    for a, b in merges:
        for sym in (a, b):
            if not sym:
                raise ValueError(f"empty BPE merge symbol in pair ({a!r}, {b!r})")
            if BPE_OPEN in sym or BPE_CLOSE in sym:
                raise ValueError(
                    "BPE merge symbol contains a reserved boundary marker "
                    f"(U+001E/U+001F): ({a!r}, {b!r})"
                )


def _encode_word(word, merges: list[tuple[str, str]]):
    """Column: ``word`` encoded by ``merges`` (in training order) as a
    boundary-wrapped token string ``OPEN t1 CLOSE OPEN t2 CLOSE ...``.

    Encoding state is a wrapped STRING, not a symbol array: applying one
    merge (a, b) is ``replace(state, ‹a›‹b›, ‹ab›)`` — string ``replace``
    is left-to-right and non-overlapping in both Spark and DuckDB, which
    is exactly the standard BPE merge rule.  The two-marker wrapping is
    load-bearing: a match must start with OPEN and end with CLOSE, so it
    can never bind a symbol SUFFIX on its left (state ‹xa›‹b› does not
    contain ‹a›‹b›) nor a symbol PREFIX on its right, and adjacent
    matches share no characters, so ‹a›‹b›‹a›‹b› merges BOTH pairs
    (a plain single-separator state gets each of those wrong).  The
    whole merge table enters the plan as ONE bound array literal folded
    by ``aggregate``, so an n-merge tokenizer is a single codegen'd
    expression — no Python, no join, no per-merge plan growth.

    The initial state wraps each character via regexp_replace(
    '(?s)(.)', OPEN + '$1' + CLOSE).  DOTALL is load-bearing: without it
    Java '.' skips the Unicode line terminators U+2028/U+2029/U+0085 —
    which survive WORD_SPLIT (an explicit ASCII class) and so CAN occur
    inside a word — leaving unwrapped characters that corrupt tokens and
    break parity with the RE2-based DuckDB oracle (whose '.' excludes
    only \\n, already removed by the word split).  Java '.' matches one
    UTF-16 code unit, so astral-plane characters (outside the BMP) would
    split into surrogate halves; callers tokenizing such text should
    pre-filter or accept byte-ish granularity there.  Mirrors
    bpe_train's symbol granularity for BMP text, which is what the
    differential test pins.
    """
    _check_merges(merges)
    boundary = BPE_CLOSE + BPE_OPEN
    merge_lits = (
        F.array(
            *[
                F.lit(BPE_OPEN + a + BPE_CLOSE + BPE_OPEN + b + BPE_CLOSE)
                for a, b in merges
            ]
        )
        if merges
        else F.array().cast("array<string>")
    )
    init = F.regexp_replace(word, "(?s)(.)", BPE_OPEN + "$1" + BPE_CLOSE)
    return F.aggregate(
        merge_lits,
        init,
        # replacement ‹ab› = the merge literal minus its interior CLOSE+OPEN
        lambda acc, m: F.replace(acc, m, F.replace(m, F.lit(boundary), F.lit(""))),
    )


def _tokens_of_state(state):
    """Column: token array from a wrapped encoder state."""
    return F.split(
        F.rtrim(F.ltrim(state, F.lit(BPE_OPEN)), F.lit(BPE_CLOSE)),
        BPE_CLOSE + BPE_OPEN,
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a trained BPE merge list: adds
    ``out_col`` = array<string> of tokens (document order preserved).

    Pure expression path — split to words, fold the merge table over
    each word (see :func:`_encode_word`), flatten.  Every word
    occurrence is encoded independently, which keeps this a zero-shuffle
    map; when the corpus has heavy word repetition and only COUNTS are
    needed, :func:`bpe_token_counts` dictionary-encodes the distinct
    vocabulary instead and is the cheaper scale path.

    The boundary markers (U+001E/U+001F) are stripped from the input
    first so the fold state can never collide with text.
    """
    clean = F.translate(F.col(text_col), BPE_OPEN + BPE_CLOSE, "")
    words = F.filter(F.split(clean, WORD_SPLIT), lambda w: w != F.lit(""))
    toks = F.flatten(
        F.transform(words, lambda w: _tokens_of_state(_encode_word(w, merges)))
    )
    return df.withColumn(out_col, toks)


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_tokens) per document under a trained BPE merge
    list — the tokenizer-true sequence-length statistic every packing /
    budget decision upstream of training needs.

    Scale shape (the same vocabulary trick as the trainer): encode each
    DISTINCT word once (vocab-bounded fold pass), then join the per-word
    token count back to the (doc, word, occurrences) table — one
    word-keyed shuffle each side, partial-aggregated; no corpus-sized
    fold.  Word repetition across 100 TB makes the distinct-word table
    orders of magnitude smaller than the token stream.  Empty /
    whitespace-only documents yield no row (nothing to tokenize);
    left-join against the corpus if zeros matter.
    """
    clean = F.translate(F.col(text_col), BPE_OPEN + BPE_CLOSE, "")
    doc_words = (
        df.select(
            F.col(id_col),
            F.explode(F.filter(F.split(clean, WORD_SPLIT), lambda w: w != F.lit(""))).alias(
                "w"
            ),
        )
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("occ"))
    )
    word_costs = (
        doc_words.select("w")
        .distinct()
        .withColumn(
            "toks_per",
            F.size(_tokens_of_state(_encode_word(F.col("w"), merges))),
        )
    )
    return (
        doc_words.join(word_costs, "w")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_words"),
            F.sum(F.col("occ") * F.col("toks_per")).alias("n_tokens"),
        )
    )


def _initial_symbol_vocab(df: DataFrame, text_col: str) -> DataFrame:
    return (
        word_vocab(df, text_col)
        .withColumn("syms", F.filter(F.split("w", ""), lambda s: s != F.lit("")))
        .select("syms", "wc")
        .persist()
    )


#: vocab row count at or below which the merge loop runs SINGLE-PARTITION
#: (round 12, VERDICT r11 #5): a 1-partition child satisfies the stats
#: groupBy's ClusteredDistribution outright, so every per-merge argmax job
#: is ONE stage with ZERO exchanges instead of a 2-stage AQE round trip —
#: the measured per-step floor of the sequential trainer.  Above the
#: threshold (large word vocabularies at corpus scale) the vocab keeps its
#: source partitioning.
BPE_ONE_PARTITION_VOCAB_ROWS = 65536


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    materialize_every: int = 8,
    symbol_vocab: DataFrame | None = None,
    vocab_rows: int | None = None,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(a, b, count), ...] in
    merge order.  ACTION: runs 1 corpus job + jobs per merge that touch
    only the vocabulary (corpus-independent size).

    Every step persists the new vocab and materializes it BEFORE
    unpersisting its parent (so no step recomputes from the corpus);
    every ``materialize_every`` steps the logical plan is cut with an
    eager localCheckpoint whose predecessor's blocks are explicitly
    released — bounded executor storage at any merge count.

    ``symbol_vocab`` (round-11 optimization) lets a caller training
    several tokenizers over the SAME corpus (e.g. the strict-batch
    equivalence contract, which runs this trainer AND the batched one)
    share one persisted ``_initial_symbol_vocab`` frame — the corpus
    pass runs once instead of per trainer.  A caller-supplied frame is
    NEVER unpersisted here (the caller owns its lifecycle); results are
    identical since the frame is exactly what would be recomputed.

    ``vocab_rows`` (round 12): the vocabulary's known row count, when the
    caller has already materialized/counted it.  At or below
    ``BPE_ONE_PARTITION_VOCAB_ROWS`` the merge loop runs over a
    single-partition vocab, which removes the exchange (and the second
    AQE stage) from every per-merge stats/argmax job — the driver-loop
    latency that dominates this trainer at any corpus size, since every
    per-merge job touches only the vocab.  Merge results are unaffected
    by partitioning (integer count sums; deterministic tie-break).
    """
    owns_vocab = symbol_vocab is None
    base_vocab = (
        _initial_symbol_vocab(df, text_col) if owns_vocab else symbol_vocab
    )
    vocab = base_vocab
    if vocab_rows is not None and vocab_rows <= BPE_ONE_PARTITION_VOCAB_ROWS:
        vocab = vocab.coalesce(1)
    initial = vocab

    def _release(frame: DataFrame) -> None:
        if owns_vocab or frame is not initial:
            frame.unpersist()

    merges: list[tuple[str, str, int]] = []
    prev = vocab
    prev_is_checkpoint = False
    last_checkpoint: DataFrame | None = None
    # ROUND-11 OPTIMIZATION (guide §1.2: remove whole jobs before tuning
    # per-task work): the old loop ran vocab.count() after every persist
    # to materialize the child BEFORE unpersisting its parent — one extra
    # vocab-sized job per merge, doubling the job count of the sequential
    # path.  Instead persist LAZILY and defer the parent's unpersist until
    # the NEXT iteration's stats job has materialized the child (the
    # stats job computes through the child's persist, caching it as a
    # side effect).  Same safety property — no step ever recomputes from
    # the corpus — at one vocab job per merge instead of two.
    pending_unpersist: DataFrame | None = None
    for step_i in range(num_merges):
        # ROUND-12: argmax over (n desc, a asc, b asc) as ONE single-row
        # aggregate — min of struct(-n, a, b) is the same total order
        # (struct comparison is field-lexicographic; -n asc == n desc,
        # string fields compare in UTF-8 byte order == codepoint order).
        # The previous orderBy().limit(1) compiled to TakeOrderedAndProject,
        # which under AQE costs an extra materialization round per job —
        # measured 385 -> 224 ms/step on the cached one-partition vocab
        # (the per-step floor of this driver-loop trainer).
        top = (
            _pair_stats(vocab)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("nn"),
                        F.col("a").alias("a"),
                        F.col("b").alias("b"),
                    )
                ).alias("m")
            )
            .collect()
        )
        # the stats job above materialized `vocab`'s cache — the deferred
        # parent can be released now
        if pending_unpersist is not None:
            _release(pending_unpersist)
            pending_unpersist = None
        m = top[0]["m"] if top else None
        if m is None or -m["nn"] < 2:
            break
        a, b, n = m["a"], m["b"], -m["nn"]
        merges.append((a, b, n))
        if step_i + 1 == num_merges:
            # the final merged vocab is never read again — materializing
            # it would be one wasted vocab-sized job per training call
            break
        vocab = _merge_pair(vocab, a, b)
        if (step_i + 1) % materialize_every == 0:
            # eager cut: materializes BEFORE the parent is dropped, and
            # truncates the stacked fold-expression lineage
            vocab = vocab.localCheckpoint(eager=True)
            if last_checkpoint is not None:
                release_local_checkpoint(last_checkpoint)
            last_checkpoint = vocab
            if not prev_is_checkpoint:
                _release(prev)
            prev_is_checkpoint = True
        else:
            vocab = vocab.persist()  # lazy: next stats job materializes
            if not prev_is_checkpoint:
                pending_unpersist = prev
            prev_is_checkpoint = False
        prev = vocab
    if pending_unpersist is not None:
        _release(pending_unpersist)
    if not prev_is_checkpoint:
        _release(prev)
    if last_checkpoint is not None and last_checkpoint is not prev:
        release_local_checkpoint(last_checkpoint)
    elif prev_is_checkpoint:
        release_local_checkpoint(prev)
    if owns_vocab and initial is not base_vocab:
        # the coalesce wrapper replaced `initial`: release the underlying
        # persisted frame the wrapper reads through
        base_vocab.unpersist()
    return merges


def _select_batch(
    top: list,
    remaining: int,
    batch_size: int,
    strict: bool,
) -> tuple[list[tuple[str, str, int]], set[str], set[str]]:
    """Greedy symbol-disjoint batch from the (n desc, a, b)-ordered top.

    strict=True takes the longest DISJOINT PREFIX (stops at the first
    conflicting pair) — required for the sequential-equivalence proof in
    :func:`bpe_train_batched`; strict=False skips conflicting pairs and
    keeps admitting disjoint ones (bigger batches, approximate order).
    """
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for row in top:
        if len(batch) >= min(batch_size, remaining):
            break
        a, b, n = row["a"], row["b"], row["n"]
        if n < 2:
            break
        # the FIRST pair is always admitted (it is the sequential argmax,
        # a==b included); later pairs conflict on any shared symbol
        if batch and (a in used or b in used or a == b):
            if strict:
                break
            continue
        batch.append((a, b, n))
        used.add(a)
        used.add(b)
    lefts = {a for a, _, _ in batch}
    rights = {b for _, b, _ in batch}
    return batch, lefts, rights


def _created_pair_caps(
    stats: DataFrame,
    lefts: set[str],
    rights: set[str],
    merged_syms: set[str] = frozenset(),
) -> tuple[dict[str, int], dict[str, int], dict[str, int]]:
    """Per-symbol bounds on pairs a batch merge can CREATE or INFLATE.

    Merging (a, b) -> ab creates pairs (x, ab) and (ab, y); every
    occurrence of (x, ab) was an occurrence of old pair (x, a), and every
    (ab, y) an occurrence of (b, y). So max-over-x n(x, a) and
    max-over-y n(b, y) bound every created-pair count.

    ``merged_syms`` are the concatenated strings a+b the batch would
    mint. If such a string COLLIDES with a symbol s already in the vocab
    (reachable via a different merge history), pairs involving s are not
    created fresh — they GAIN the created occurrences on top of their
    round-start count, so the created-pair bound alone no longer caps
    them. ``emax[s]`` = the max round-start count of any pair touching s,
    the extra term the strict admission check must add (round-5 advisor
    finding). One filtered aggregation over the (already computed,
    persisted) stats frame covers all three maps.
    """
    lmax: dict[str, int] = {}
    rmax: dict[str, int] = {}
    emax: dict[str, int] = {}
    if not lefts and not rights and not merged_syms:
        return lmax, rmax, emax
    llist, rlist, mlist = list(lefts), list(rights), list(merged_syms)
    rows = (
        stats.filter(
            F.col("b").isin(llist)
            | F.col("a").isin(rlist)
            | F.col("a").isin(mlist)
            | F.col("b").isin(mlist)
        )
        .select(
            F.when(F.col("b").isin(llist), F.col("b")).alias("ls"),
            F.when(F.col("a").isin(rlist), F.col("a")).alias("rs"),
            F.when(F.col("a").isin(mlist), F.col("a")).alias("ma"),
            F.when(F.col("b").isin(mlist), F.col("b")).alias("mb"),
            "n",
        )
        .groupBy("ls", "rs", "ma", "mb")
        .agg(F.max("n").alias("m"))
        .collect()
    )
    for r in rows:
        if r["ls"] is not None:
            lmax[r["ls"]] = max(lmax.get(r["ls"], 0), r["m"])
        if r["rs"] is not None:
            rmax[r["rs"]] = max(rmax.get(r["rs"], 0), r["m"])
        for ms in (r["ma"], r["mb"]):
            if ms is not None:
                emax[ms] = max(emax.get(ms, 0), r["m"])
    return lmax, rmax, emax


def _created_pair_caps_local(
    rows,
    lefts: set[str],
    rights: set[str],
    merged_syms: set[str] = frozenset(),
) -> tuple[dict[str, int], dict[str, int], dict[str, int]]:
    """:func:`_created_pair_caps` over ALREADY-COLLECTED stats rows —
    the one-partition merge loop collects the (tiny, vocab-bounded)
    stats table once per round, so the caps maxima come from the same
    rows with zero extra Spark jobs. Same maxima, same maps."""
    lmax: dict[str, int] = {}
    rmax: dict[str, int] = {}
    emax: dict[str, int] = {}
    for r in rows:
        a, b, n = r["a"], r["b"], r["n"]
        if b in lefts:
            lmax[b] = max(lmax.get(b, 0), n)
        if a in rights:
            rmax[a] = max(rmax.get(a, 0), n)
        if a in merged_syms:
            emax[a] = max(emax.get(a, 0), n)
        if b in merged_syms:
            emax[b] = max(emax.get(b, 0), n)
    return lmax, rmax, emax


def bpe_train_batched(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    batch_size: int = 16,
    materialize_every: int = 8,
    strict: bool = True,
    rounds_out: list[int] | None = None,
    symbol_vocab: DataFrame | None = None,
    vocab_rows: int | None = None,
) -> list[tuple[str, str, int]]:
    """:func:`bpe_train` with MULTIPLE compatible merges per driver
    round — the fix for the one-driver-round-trip-per-merge cost (a 32k
    vocab is 32k sequential Spark jobs on the sequential path).

    A batch is a set of symbol-disjoint pairs applied in one plan before
    the next recount.  ``strict=True`` (default) is provably identical to
    :func:`bpe_train` on EVERY corpus; the argument, for the admitted
    prefix p_1..p_k of the (n desc, a, b)-ordered pair list:

    - applying a symbol-disjoint merge never changes another admitted
      pair's count, and drives the applied pair's own count to 0;
    - counts of old pairs never INCREASE under any merge, and the list is
      a prefix (stop at the FIRST conflict), so at sequential step j
      every un-applied old pair still counts <= n_j, with equal-count
      pairs lex-greater (sort order);
    - pairs CREATED by earlier batch merges stay strictly below n_j:
      every occurrence of a created (x, ab) was an occurrence of old
      (x, a), and of (ab, y) an occurrence of (b, y), so their counts are
      bounded by per-symbol maxima read from the same stats frame — a
      pair is only admitted while its count strictly exceeds the running
      bound (the ``cap`` truncation below);
    - if a minted string a+b COLLIDES with a symbol s already in the
      vocab (same surface string via a different merge history), pairs
      touching s keep their round-start count and additionally gain the
      created occurrences, so the admission bound adds the max
      round-start count of any pair touching s (the ``coll`` term —
      zero whenever no collision symbol exists, the overwhelmingly
      common case).

    Hence the sequential argmax at step j is exactly p_j, tie-break
    included.  ``strict=False`` skips conflicting pairs instead of
    stopping (bigger batches — the usual fast-trainer approximation) and
    drops the equivalence guarantee; merge COUNTS it reports are still
    the true counts at round start.

    Driver rounds: ceil(num_merges / achieved_batch) with ~3 small jobs
    per round (top-K, created-pair caps, materialize) vs 2 per merge
    sequentially.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    owns_vocab = symbol_vocab is None
    base_vocab = (
        _initial_symbol_vocab(df, text_col) if owns_vocab else symbol_vocab
    )
    vocab = base_vocab
    # single-partition merge loop for small vocabularies — every
    # per-round stats/top-K job becomes one exchange-free stage (see
    # bpe_train's ``vocab_rows``); results are partitioning-independent
    one_part = (
        vocab_rows is not None
        and vocab_rows <= BPE_ONE_PARTITION_VOCAB_ROWS
    )
    if one_part:
        vocab = vocab.coalesce(1)
    initial = vocab

    def _release(frame: DataFrame) -> None:
        if owns_vocab or frame is not initial:
            frame.unpersist()

    merges: list[tuple[str, str, int]] = []
    prev = vocab
    prev_is_checkpoint = False
    last_checkpoint: DataFrame | None = None
    applied_since_cut = 0
    # deferred-unpersist protocol (see bpe_train): the round's stats job
    # materializes the lazily-persisted vocab, so the parent persists are
    # released AFTER that job instead of paying a count() job per round
    pending_unpersist: DataFrame | None = None
    while len(merges) < num_merges:
        # ROUND-12: on the one-partition (small-vocab-hint) path the
        # stats table is vocab-bounded and tiny — collect it ONCE per
        # round and derive both the ordered top list (driver sort; the
        # (-n, a, b) tuple key is the exact (n desc, a asc, b asc)
        # order — Python string comparison is codepoint order, equal to
        # Spark's UTF-8 binary collation) and the created-pair caps from
        # the same rows.  That is ONE job per round instead of two
        # (TakeOrderedAndProject — which under AQE pays an extra
        # materialization round per job, measured ~140 ms/step — plus
        # the caps aggregation over the persisted stats), and the
        # stats persist disappears with its second consumer.  Large
        # vocabularies keep the bounded limit() collect.
        all_rows = None
        if one_part:
            all_rows = _pair_stats(vocab).collect()
            all_rows.sort(key=lambda r: (-r["n"], r["a"], r["b"]))
            top = all_rows[: max(64, 4 * batch_size)]
            stats = None
        else:
            stats = _pair_stats(vocab).persist()
            top = (
                stats.orderBy(
                    F.col("n").desc(), F.col("a").asc(), F.col("b").asc()
                )
                .limit(max(64, 4 * batch_size))
                .collect()
            )
        if pending_unpersist is not None:
            _release(pending_unpersist)
            pending_unpersist = None
        batch, lefts, rights = _select_batch(
            top, num_merges - len(merges), batch_size, strict
        )
        if strict and len(batch) > 1:
            merged_syms = {a + b for a, b, _ in batch}
            if one_part:
                lmax, rmax, emax = _created_pair_caps_local(
                    all_rows, lefts, rights, merged_syms
                )
            else:
                lmax, rmax, emax = _created_pair_caps(
                    stats, lefts, rights, merged_syms
                )
            kept = [batch[0]]
            cap = 0
            coll = 0
            minted = {batch[0][0] + batch[0][1]}
            for a, b, n in batch[1:]:
                pa, pb, _ = kept[-1]
                cap = max(cap, lmax.get(pa, 0), rmax.get(pb, 0))
                # pa+pb colliding with an EXISTING symbol s: pairs on s
                # keep their round-start count (<= emax[s]) AND gain the
                # created occurrences (<= cap), so the admission bound is
                # the sum — advisor round-5 equivalence-hole fix
                coll = max(coll, emax.get(pa + pb, 0))
                if n <= cap + coll:
                    break
                # two symbol-disjoint merges can mint the SAME string
                # (('a','bc') and ('ab','c') both mint 'abc'); a pair on
                # that string would then gain occurrences from BOTH
                # merges, which no single-mint bound covers — stop the
                # prefix at a duplicate mint (round-6 review finding)
                if a + b in minted:
                    break
                minted.add(a + b)
                kept.append((a, b, n))
            batch = kept
        if stats is not None:
            stats.unpersist()
        if not batch:
            break
        if rounds_out is not None:
            rounds_out.append(len(batch))
        for a, b, n in batch:
            merges.append((a, b, n))
            vocab = _merge_pair(vocab, a, b)
        if len(merges) >= num_merges:
            # final vocab is never recounted — skip the materialize
            break
        applied_since_cut += len(batch)
        if applied_since_cut >= materialize_every:
            vocab = vocab.localCheckpoint(eager=True)
            if last_checkpoint is not None:
                release_local_checkpoint(last_checkpoint)
            last_checkpoint = vocab
            if not prev_is_checkpoint:
                _release(prev)
            prev_is_checkpoint = True
            applied_since_cut = 0
        else:
            vocab = vocab.persist()  # lazy: next round's stats job materializes
            if not prev_is_checkpoint:
                pending_unpersist = prev
            prev_is_checkpoint = False
        prev = vocab
    if pending_unpersist is not None:
        _release(pending_unpersist)
    if not prev_is_checkpoint:
        _release(prev)
    if last_checkpoint is not None and last_checkpoint is not prev:
        release_local_checkpoint(last_checkpoint)
    elif prev_is_checkpoint:
        release_local_checkpoint(prev)
    if owns_vocab and initial is not base_vocab:
        # the coalesce wrapper replaced `initial`: release the underlying
        # persisted frame the wrapper reads through
        base_vocab.unpersist()
    return merges
