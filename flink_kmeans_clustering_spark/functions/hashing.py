"""Deterministic hashing primitives over MinHash signatures and SimHash
values: signature similarity, LSH band digests, Hamming distance and
SimHash chunks.  The signatures themselves are built by the dedup
operators (explode + per-lane MIN aggregates, ``operators.dedup``).

All hashing runs JVM-side on ``xxhash64`` (a Catalyst expression), so
signatures are computed inside codegen during the scan — the shape that
holds up when the shingle sets are petabyte-scale.  Hash family i is
``xxhash64(i, value)``: seeding by prepending the function index.

Hash-function counts / band widths are compile-time constants, so the
per-lane expressions are unrolled into literal arrays — Catalyst folds
the constants and codegen fuses the lanes.

These produce engine-specific hash values (DuckDB has no xxhash64), so
operators built on them take the driver's rows-only correctness check;
their *semantics* are covered by unit tests with known-similar inputs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# The md5-based lane family (for DuckDB-reproducible MinHash/SimHash)
# lives inline in operators.dedup: lanes are 60-bit md5 hex slices
# (chars 1-15 / 16-30 of a seeded digest) and SimHash bit lanes are the
# two 32-bit md5 halves.  Every intermediate fits a signed 64-bit int in
# both engines, so there are no overflow semantics to reconcile; the
# digests are materialized in a projection before aggregation so each is
# computed exactly once.  ~2-3× xxhash64's cost — verification surface,
# not the production default.


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
