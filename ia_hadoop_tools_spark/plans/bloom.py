"""Explicit Bloom-filter join pruning — the "runtime filter" pattern as a
reusable, cross-job artifact.

The shape: a probe table far too big to move (lineitem at 100 TB) is
semi-joined to a build side that is too big to broadcast as raw keys but
whose MEMBERSHIP fits in a fixed-size bit mask (millions of keys -> one
1 MiB mask).  Building the mask is one scan with per-partition partial
ORs, OR-reduced through a bounded second level of tasks so the driver
only ever collects ``MASK_REDUCE_PARTITIONS`` rows — constant driver
state at any data size; probing is an Arrow-vectorized bit test applied
BEFORE the join's shuffle, so non-matching probe rows never leave their
input partition.  A final exact semi-join removes the Bloom false
positives, so results are bit-identical to the plain semi-join.

Catalyst does an automatic in-query version of this
(``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects a
BloomFilter aggregate below the probe-side shuffle).  This module is the
EXPLICIT variant for when the filter must cross job boundaries: build
once, keep the mask (plain ``bytes``), prune every future batch — the
same build-once/probe-many economics as ``operators/dedup_index.py``.
Reference parity: the manifest-membership prune (STAGED minus INCLUDED)
in jobs/SummaryGenerator.java:48-96 is the exact-set ancestor of this
pattern; the Bloom mask is its bounded-memory form.

Mask format: an 8-byte header (magic ``BF``, version, key-type class,
``num_hashes`` as little-endian uint32) followed by the bit array.  The
header makes the cross-job reuse path self-describing: probing with a
mask built under different parameters raises instead of silently
dropping true matches (a false NEGATIVE the verify join could never
repair).  Integral key columns are canonicalized to bigint before
hashing on both sides, so an ``int`` probe against a ``bigint`` build
matches exactly like the equi-join's implicit coercion; other type
mismatches are rejected loudly via the type-class byte.

Determinism: ``xxhash64`` is a fixed published function, double hashing
(Kirsch–Mitzenmacher) derives the k probe positions from two JVM-side
hash columns, and false positives are removed by the exact verify join —
so the composed result is exactly the semi-join, independent of
partitioning.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ia_hadoop_tools_spark.plans.introspect import leaf_bytes, max_partition_bytes

#: second-hash salt; any fixed literal works, it only has to match
#: between build and probe (both call :func:`_hash_cols`).
BLOOM_SALT = 0x9E3779B1

DEFAULT_NUM_BITS = 1 << 23  # 8M bits = 1 MiB mask
DEFAULT_NUM_HASHES = 5

#: second-level OR-reduce width: the driver collects at most this many
#: mask rows regardless of the build side's partition count.
MASK_REDUCE_PARTITIONS = 64

_MAGIC = b"BF"
_VERSION = 1
_HEADER_LEN = 8
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}
_TYPE_CLASS_INTEGRAL = 0


def _key_dtype(df: DataFrame, key_col: str) -> str:
    for name, dtype in df.dtypes:
        if name == key_col:
            return dtype
    raise KeyError(f"column {key_col!r} not in {df.columns}")


def _type_class(dtype: str) -> int:
    """1-byte key-type tag stored in the mask header. Integral types all
    map to one class (they hash as bigint); others get a stable non-zero
    byte so a build/probe type mismatch is detected, not silent.

    The tag is a sha1 byte (uniform over 255 values), not a byte-sum —
    the old ``sum(bytes) % 254`` collided for any two dtypes with equal
    byte sums (e.g. anagram struct field names), which would let a
    mismatched probe silently drop true matches. One byte can still
    collide across jobs (1/255); where BOTH frames are in hand
    (:func:`bloom_semi_join`) the dtype strings are compared exactly.
    """
    if dtype in _INTEGRAL_TYPES:
        return _TYPE_CLASS_INTEGRAL
    import hashlib

    return 1 + (hashlib.sha1(dtype.encode()).digest()[0] % 255)


def _canon_key(df: DataFrame, key_col: str) -> tuple[Column, int]:
    dtype = _key_dtype(df, key_col)
    col = F.col(key_col)
    if dtype in _INTEGRAL_TYPES:
        col = col.cast("bigint")
    return col, _type_class(dtype)


def _hash_cols(key: Column) -> tuple[Column, Column]:
    """The two 64-bit hash streams shared by build and probe."""
    return (
        F.xxhash64(key),
        F.xxhash64(key, F.lit(BLOOM_SALT)),
    )


def _pack_header(type_class: int, num_hashes: int) -> bytes:
    return struct.pack("<2sBBI", _MAGIC, _VERSION, type_class, num_hashes)


def _unpack_header(mask: bytes) -> tuple[int, int]:
    if len(mask) < _HEADER_LEN or mask[:2] != _MAGIC:
        raise ValueError(
            "not a bloom mask (missing BF header); rebuild with bloom_build"
        )
    magic, version, type_class, num_hashes = struct.unpack(
        "<2sBBI", mask[:_HEADER_LEN]
    )
    if version != _VERSION:
        raise ValueError(f"unsupported bloom mask version {version}")
    return type_class, num_hashes


def _positions(
    h1: np.ndarray, h2: np.ndarray, i: int, num_bits: int
) -> np.ndarray:
    """i-th double-hash position; uint64 wrap-around is intentional."""
    return (h1 + np.uint64(i) * h2) % np.uint64(num_bits)


def _or_fold(num_hashes: int, nbytes: int):
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mask = np.zeros(nbytes, dtype=np.uint8)
        saw = False
        for b in batches:
            if not len(b):
                continue
            saw = True
            a1 = b["__h1"].to_numpy(dtype=np.int64).view(np.uint64)
            a2 = b["__h2"].to_numpy(dtype=np.int64).view(np.uint64)
            for i in range(num_hashes):
                pos = _positions(a1, a2, i, nbytes * 8)
                np.bitwise_or.at(
                    mask,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
                )
        if saw:
            yield pd.DataFrame({"mask": [mask.tobytes()]})

    return fold


def _or_masks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    acc = None
    for b in batches:
        for m in b["mask"]:
            a = np.frombuffer(m, dtype=np.uint8)
            acc = a.copy() if acc is None else (acc | a)
    if acc is not None:
        yield pd.DataFrame({"mask": [acc.tobytes()]})


def _needs_mask_reduce(df: DataFrame) -> bool:
    """True when the scan could yield more than MASK_REDUCE_PARTITIONS
    partitions — decided from the optimizer's LEAF size estimates, zero
    execution (round-11: an ``.rdd.getNumPartitions()`` probe executes
    every upstream AQE stage when the build side contains a shuffle or
    broadcast join — see textops.ensure_min_partitions). Conservative
    toward APPLYING the second reduce level: an unknown or inflated
    estimate costs one repartition of KB-sized mask rows; skipping it
    wrongly would collect a mask row per partition on the driver."""
    size = leaf_bytes(df)
    limit = MASK_REDUCE_PARTITIONS * max_partition_bytes(df.sparkSession)
    # unknown size: apply the bounded extra level (tiny rows)
    return size is None or size > limit


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> bytes:
    """Build a self-describing Bloom mask over ``df[key_col]``.
    ACTION: runs one job.

    One scan: the two hash columns are computed JVM-side, each partition
    folds its rows into a local ``num_bits/8``-byte mask inside
    ``mapInPandas`` (numpy bit-sets over Arrow batches), a bounded
    second task level ORs those partials, and the driver ORs at most
    ``MASK_REDUCE_PARTITIONS`` rows — driver state is constant in both
    the row count and the partition count.
    """
    if num_bits % 8:
        raise ValueError("num_bits must be a multiple of 8")
    key, type_class = _canon_key(df, key_col)
    h1, h2 = _hash_cols(key)
    hashed = df.select(h1.alias("__h1"), h2.alias("__h2"))
    nbytes = num_bits // 8

    partials = hashed.mapInPandas(_or_fold(num_hashes, nbytes), "mask binary")
    if _needs_mask_reduce(hashed):
        # bounded second level: without it the driver would collect one
        # mask row PER PARTITION (1 MiB x 10^5+ partitions at 100 TB)
        partials = partials.repartition(MASK_REDUCE_PARTITIONS).mapInPandas(
            _or_masks, "mask binary"
        )
    rows = partials.collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for r in rows:
        out |= np.frombuffer(r["mask"], dtype=np.uint8)
    return _pack_header(type_class, num_hashes) + out.tobytes()


def bloom_extend(
    mask: bytes,
    df: DataFrame,
    key_col: str,
) -> bytes:
    """Fold a new batch of keys into an existing mask (rolling-ingestion
    economics, like ``dedup_index.extend_corpus_index``: the daily job
    scans only the delta, never the historical build side).
    ACTION: one job over ``df``.

    Bit-OR is associative and idempotent, so extend-then-prune equals
    rebuild-from-union exactly; parameters come from the mask's header,
    and the delta's key type must match the original build's.
    """
    type_class, num_hashes = _unpack_header(mask)
    _, delta_class = _canon_key(df, key_col)
    if delta_class != type_class:
        raise ValueError(
            f"delta key {key_col!r} ({_key_dtype(df, key_col)}) does not "
            "match the key type the mask was built from"
        )
    bits = mask[_HEADER_LEN:]
    delta = bloom_build(df, key_col, num_bits=len(bits) * 8, num_hashes=num_hashes)
    merged = np.frombuffer(bits, dtype=np.uint8) | np.frombuffer(
        delta[_HEADER_LEN:], dtype=np.uint8
    )
    return mask[:_HEADER_LEN] + merged.tobytes()


def bloom_prune(
    df: DataFrame,
    key_col: str,
    mask: bytes,
) -> DataFrame:
    """Keep rows whose key MIGHT be in the mask (superset of matches).

    ``num_hashes`` and the key-type class come from the mask's own
    header (a mismatched probe raises — a silently wrong parameter here
    would create false negatives the verify join cannot repair).  The
    bit array ships once per executor via a Spark broadcast; the test is
    a vectorized numpy bit lookup per Arrow batch.  Null keys hash like
    any value and may survive here — the exact verify join in
    :func:`bloom_semi_join` drops them (SQL null-equality semantics),
    matching the plain semi-join.
    """
    mask_type_class, num_hashes = _unpack_header(mask)
    key, probe_type_class = _canon_key(df, key_col)
    if probe_type_class != mask_type_class:
        raise ValueError(
            f"probe key {key_col!r} ({_key_dtype(df, key_col)}) does not "
            "match the key type the mask was built from; matching rows "
            "would be silently dropped. Cast the key (or rebuild the mask)."
        )
    bits = mask[_HEADER_LEN:]
    num_bits = len(bits) * 8
    bc = df.sparkSession.sparkContext.broadcast(bits)

    @pandas_udf("boolean")
    def might_contain(s1: pd.Series, s2: pd.Series) -> pd.Series:
        m = np.frombuffer(bc.value, dtype=np.uint8)
        a1 = s1.to_numpy(dtype=np.int64).view(np.uint64)
        a2 = s2.to_numpy(dtype=np.int64).view(np.uint64)
        keep = np.ones(len(a1), dtype=bool)
        for i in range(num_hashes):
            pos = _positions(a1, a2, i, num_bits)
            byte = m[(pos >> np.uint64(3)).astype(np.int64)]
            keep &= ((byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1) == 1
        return pd.Series(keep)

    h1, h2 = _hash_cols(key)
    return df.filter(might_contain(h1, h2))


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    mask: bytes | None = None,
) -> DataFrame:
    """``probe LEFT SEMI JOIN build`` with a Bloom prune before the
    shuffle.  When the mask is built HERE (``mask=None``), the result is
    bit-identical to the plain semi-join: false positives are removed by
    the exact join, and false negatives are impossible because the mask
    header pins the hash count and key type the probe must use.

    ACTION on first use: builds the mask (one job over ``build``) unless
    a prebuilt ``mask`` from :func:`bloom_build` is passed — the
    cross-job reuse path.  ON THAT PATH the caller owns mask freshness:
    a stale mask missing keys that ``build`` has since gained WILL drop
    matching probe rows (the verify join can only remove false
    positives, never restore pruned rows).  Fold new build batches in
    with :func:`bloom_extend` — that is exactly what it exists for.
    """
    # both frames are in hand here, so compare dtypes EXACTLY — the
    # 1-byte header tag is only a screen for the cross-job mask path
    probe_dtype = _key_dtype(probe, probe_key)
    build_dtype = _key_dtype(build, build_key)
    if (probe_dtype in _INTEGRAL_TYPES) != (build_dtype in _INTEGRAL_TYPES) or (
        probe_dtype not in _INTEGRAL_TYPES and probe_dtype != build_dtype
    ):
        raise ValueError(
            f"probe key {probe_key!r} ({probe_dtype}) and build key "
            f"{build_key!r} ({build_dtype}) have incompatible types; the "
            "Bloom prune would silently drop true matches"
        )
    if mask is None:
        mask = bloom_build(build, build_key, num_bits, num_hashes)
    pruned = bloom_prune(probe, probe_key, mask)
    keys = build.select(F.col(build_key).alias(probe_key))
    return pruned.join(keys, on=probe_key, how="left_semi")
