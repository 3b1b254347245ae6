"""Deterministic hashing primitives, in two families.

**The md5 digest contract** (``hex_int``, ``md5_int``, ``md5_unit``,
``md5_u32``, ``hash_bucket``).  Everything the engine must let another
engine replay bit-for-bit — content-hash samples, sketch buckets,
md5 MinHash/SimHash/Bloom lanes, synthetic columns, hashed draws —
reads a slice of an md5 hex digest as an integer:
``conv(substring(md5(s), start, width), 16, 10)``, almost always the
first 8 chars as a uniform 32-bit value.  md5 is bit-identical in
Spark, DuckDB and every warehouse, and a slice of at most 15 hex chars
fits a signed 64-bit int in all of them, so there are no overflow
semantics to reconcile.  The functions here are the one place that
spells the contract out; ``md5_u32`` is its driver-side twin for
values computed in Python (gear tables, projection weights, hashed
picks).  When several lanes slice ONE digest, materialize the digest
once and slice it with ``hex_int``.

**xxhash64 over MinHash signatures and SimHash values**
(``signature_similarity``, ``band_hashes``, ``hamming64``,
``simhash_chunks``).  The default MinHash lanes are
``xxhash64(i, shingle)`` (seeding by prepending the function index), a
Catalyst expression computed inside codegen during the scan, ~2-3×
cheaper than the md5 lanes.  The signatures themselves are built by
the dedup operators (explode + per-lane MIN aggregates,
``operators.dedup``).  Hash-function counts and band widths are
compile-time constants, so per-lane expressions unroll into literal
arrays.  DuckDB has no xxhash64, so operators built on it take the
driver's rows-only correctness check; their semantics are covered by
unit tests with known-similar inputs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex_int(digest: Column | str, start: int = 1, width: int = 8) -> Column:
    """Hex chars ``[start, start + width)`` (1-based) of ``digest`` as a
    bigint: ``conv(substring(digest, start, width), 16, 10)``.  At most
    15 chars, so the value fits a signed 64-bit int in every engine."""
    if not 1 <= width <= 15:
        raise ValueError(f"width must be in [1, 15], got {width}")
    return F.conv(F.substring(digest, start, width), 16, 10).cast("long")


def md5_int(s: Column | str, start: int = 1, width: int = 8) -> Column:
    """:func:`hex_int` of ``md5(s)``; the default is the uniform 32-bit
    value of the first 8 hex chars.  NULL in, NULL out."""
    return hex_int(F.md5(s), start, width)


def md5_unit(s: Column | str) -> Column:
    """Uniform double in (0, 1]: ``(md5_int(s) + 1) / 2³²`` — never 0,
    so its log is finite."""
    return (md5_int(s) + F.lit(1.0)) / F.lit(4294967296.0)


def md5_u32(s: str) -> int:
    """Driver-side :func:`md5_int`: the first 8 md5 hex chars of the
    UTF-8 bytes of ``s`` as an int in [0, 2³²)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def hash_bucket(key: Column | str, buckets: int = 16) -> Column:
    """Stable bucket in [0, buckets) from the md5 of ``key``.

    The bucket id is the first md5 hex byte (a uniform 0..255 value)
    mod ``buckets``, so ``buckets`` must divide 256 — a non-divisor
    (e.g. 10) would bias low buckets and break the nested-sample
    prefix property (a 1/2N sample must be a subset of the 1/N
    sample).  Enforced, not just documented.
    """
    if not (1 <= buckets <= 256) or 256 % buckets != 0:
        raise ValueError("buckets must be a divisor of 256 (1, 2, 4, ..., 256)")
    return md5_int(key, 1, 2).cast("int") % buckets


def signature_similarity(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard: fraction of equal MinHash signature positions."""
    eq = F.zip_with(sig_a, sig_b, lambda a, b: F.when(a == b, 1).otherwise(0))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.size(sig_a)


def band_hashes(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band digests: array of ``bands`` structs (band, digest).

    Band j hashes signature positions [j·r, (j+1)·r) into one bigint;
    two documents collide on a band iff that slice is identical —
    the classic banding amplification for Jaccard LSH.
    """
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(
                    F.lit(j), F.slice(sig, j * rows_per_band + 1, rows_per_band)
                ).alias("digest"),
            )
            for j in range(bands)
        ]
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint bit-vectors via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_chunks(sim: Column, chunks: int = 4) -> Column:
    """Split a 64-bit simhash into ``chunks`` equal bit slices (structs).

    Pigeonhole banding for Hamming-distance LSH: two hashes within
    distance < ``chunks`` must agree on at least one chunk.
    """
    width = 64 // chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("chunk"),
                F.shiftrightunsigned(sim, j * width)
                .bitwiseAND(F.lit(mask))
                .alias("bits"),
            )
            for j in range(chunks)
        ]
    )
