"""The md5 digest contract in ``functions.hashing``: the Column functions
(``hex_int``, ``md5_int``, ``md5_unit``, ``hash_bucket``) and the
driver-side ``md5_u32`` agree with Python's ``hashlib`` on the same
strings, including the empty string and non-ASCII text."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from flink_kmeans_clustering_spark.functions.hashing import (
    hash_bucket,
    hex_int,
    md5_int,
    md5_u32,
    md5_unit,
)

STRINGS = ["", "a", "gear:0", "pp:11:3", "héllo wörld ✓", "日本語テキスト", "x" * 200]
SLICES = [(1, 2), (1, 8), (1, 15), (9, 8), (17, 15), (25, 8), (31, 2)]


def _hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def test_column_functions_match_hashlib(spark):
    df = spark.createDataFrame([(s, _hex(s)) for s in STRINGS], "s string, hd string")
    cols = [F.col("s"), F.col("hd")]
    cols += [md5_int("s", st, w).alias(f"m_{st}_{w}") for st, w in SLICES]
    cols += [hex_int("hd", st, w).alias(f"h_{st}_{w}") for st, w in SLICES]
    cols += [md5_unit(F.col("s")).alias("u")]
    cols += [hash_bucket(F.col("s"), b).alias(f"b{b}") for b in (2, 16, 256)]
    out = df.select(*cols)
    assert out.schema["m_1_8"].dataType == LongType()
    assert out.schema["b16"].dataType == IntegerType()
    rows = out.collect()
    assert len(rows) == len(STRINGS)
    for r in rows:
        hd = _hex(r["s"])
        assert r["hd"] == hd
        for st, w in SLICES:
            want = int(hd[st - 1 : st - 1 + w], 16)
            assert r[f"m_{st}_{w}"] == want, (r["s"], st, w)
            assert r[f"h_{st}_{w}"] == want, (r["s"], st, w)
        assert r["u"] == (int(hd[:8], 16) + 1) / 2**32
        assert 0.0 < r["u"] <= 1.0
        for b in (2, 16, 256):
            assert r[f"b{b}"] == int(hd[:2], 16) % b


def test_driver_twin_matches_jvm(spark):
    [r] = spark.range(1).select(
        *[md5_int(F.lit(s)).alias(f"c{i}") for i, s in enumerate(STRINGS)]
    ).collect()
    for i, s in enumerate(STRINGS):
        assert md5_u32(s) == r[f"c{i}"] == int(_hex(s)[:8], 16)
        assert 0 <= md5_u32(s) < 2**32


def test_null_in_null_out(spark):
    null = F.lit(None).cast("string")
    [r] = spark.range(1).select(
        md5_int(null).alias("m"),
        hex_int(null).alias("h"),
        md5_unit(null).alias("u"),
        hash_bucket(null, 16).alias("b"),
    ).collect()
    assert r.asDict() == {"m": None, "h": None, "u": None, "b": None}


def test_slice_width_is_bounded():
    # 16 hex chars would overflow a signed 64-bit int
    for w in (0, 16):
        with pytest.raises(ValueError):
            hex_int("hd", 1, w)
    for b in (0, 3, 512):
        with pytest.raises(ValueError):
            hash_bucket("s", b)
