"""Unit tests for multimodal binary-column plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from flink_kmeans_clustering_spark.operators.multimodal import (
    FEATURE_DIM,
    asset_metadata,
    byte_histogram_features,
    frame_sample,
    synthesize_assets,
)


def _docs(spark):
    rows = [
        (0, "hello world", "en", "web", 11),
        (1, "a" * 100, "en", "web", 100),
        (2, "the quick brown fox " * 10, "en", "book", 200),
        (3, "", "en", "web", 0),  # empty content
        (5, "video payload " * 20, "en", "web", 280),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_synthesize_schema_and_modality(spark):
    a = synthesize_assets(_docs(spark))
    assert dict(a.dtypes)["content"] == "binary"
    mods = {r["asset_id"]: r["modality"] for r in a.collect()}
    assert mods == {0: "image", 1: "audio", 2: "video", 3: "image", 5: "video"}


def test_metadata_digests_match_python(spark):
    out = {r["asset_id"]: r for r in asset_metadata(synthesize_assets(_docs(spark))).collect()}
    raw = b"hello world"
    assert out[0]["n_bytes"] == len(raw)
    assert out[0]["md5"] == hashlib.md5(raw).hexdigest()
    assert out[0]["sha256"] == hashlib.sha256(raw).hexdigest()
    assert out[0]["format"] == "IMAGE"


def test_frame_sample_windows(spark):
    frames = frame_sample(synthesize_assets(_docs(spark)), frame_bytes=64, every_k=4)
    rows = frames.collect()
    # only video assets (ids 2 and 5)
    assert {r["asset_id"] for r in rows} == {2, 5}
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    # asset 2: 200 bytes -> 4 frames (0..3), sampled: frame 0 only
    f2 = by_asset[2]
    assert [r["frame_no"] for r in f2] == [0]
    assert bytes(f2[0]["frame"]) == ("the quick brown fox " * 10).encode()[:64]
    # asset 5: 280 bytes -> 5 frames, sampled: 0 and 4; frame 4 is the tail
    f5 = sorted(by_asset[5], key=lambda r: r["frame_no"])
    assert [r["frame_no"] for r in f5] == [0, 4]
    assert bytes(f5[1]["frame"]) == ("video payload " * 20).encode()[256:280]


def test_frame_sample_empty_content_yields_no_frames(spark):
    docs = spark.createDataFrame(
        [(2, "", "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert frame_sample(synthesize_assets(docs)).count() == 0


def test_byte_histogram_matches_numpy(spark):
    feats = {
        r["asset_id"]: np.array(r["feat"])
        for r in byte_histogram_features(synthesize_assets(_docs(spark))).collect()
    }
    raw = np.frombuffer(b"hello world", dtype=np.uint8)
    want = np.bincount(raw // 16, minlength=FEATURE_DIM)[:FEATURE_DIM] / raw.size
    np.testing.assert_allclose(feats[0], want, atol=1e-6)
    assert feats[0].shape == (FEATURE_DIM,)
    np.testing.assert_array_equal(feats[3], np.zeros(FEATURE_DIM))  # empty doc


def test_decode_contract_accepts_any_decoder_without_plan_changes(spark):
    """The codec plug-point contract (VERDICT r05 item 7): ANY
    ``bytes -> float32 sequence`` callable plugged into decode_features
    must produce (a) the exact DECODE_SCHEMA, (b) one output row per
    asset, and (c) a result the downstream features_rounded projection
    consumes unchanged — so a real PIL/pyav decoder drops in with zero
    plan changes.  Proven with a decoder the fake histogram path never
    uses (blob-length encodings)."""
    import numpy as np

    from flink_kmeans_clustering_spark.operators.multimodal import (
        DECODE_SCHEMA,
        byte_histogram_features,
        decode_features,
        features_rounded,
    )

    assets = synthesize_assets(_docs(spark))
    n_assets = assets.count()

    def fake_codec(blob: bytes):
        # stands in for PIL/soundfile: output depends only on the bytes
        return np.array(
            [len(blob), blob[0] if blob else 0, 255.0, 0.5], dtype=np.float32
        )

    out = decode_features(assets, fake_codec, dim=4)
    assert out.schema.simpleString() == (
        byte_histogram_features(assets).schema.simpleString()
    )
    assert out.schema.simpleString() == (
        f"struct<{DECODE_SCHEMA.replace(' long', ':bigint').replace(' string', ':string').replace(' array<float>', ':array<float>').replace(', ', ',')}>"
    )
    rows = out.collect()
    assert len(rows) == n_assets
    assert all(len(r["feat"]) == 4 for r in rows)
    # downstream projection consumes it unchanged
    flat = features_rounded(out)
    assert flat.count() == n_assets * 4
    assert [f.name for f in flat.schema.fields] == ["asset_id", "pos", "val"]
    # and the decoder actually ran per blob (length feature is real)
    meta = {
        r["asset_id"]: r["n_bytes"]
        for r in asset_metadata(assets).collect()
    }
    for r in rows:
        assert int(r["feat"][0]) == meta[r["asset_id"]]


def test_resize_nearest_known_grid(spark):
    """4x4 'image' with stride 2 keeps pixels (0,0),(0,2),(2,0),(2,2)."""
    import hashlib

    from flink_kmeans_clustering_spark.operators.multimodal import resize_nearest

    content = bytes(range(16))  # 0..15 row-major on a 4x4 grid
    assets = spark.createDataFrame(
        [(1, "image", bytearray(content), ("IMG", 4, 4, 8000, 1))],
        "asset_id long, modality string, content binary,"
        " meta struct<format string, width int, height int,"
        " sample_rate int, n_frames int>",
    )
    [r] = resize_nearest(assets, stride=2).collect()
    want = bytes([0, 2, 8, 10])
    assert (r["out_w"], r["out_h"], r["n_out"]) == (2, 2, 4)
    assert r["digest"] == hashlib.md5(want).hexdigest()


def test_resize_nearest_truncated_blob_and_empty(spark):
    from flink_kmeans_clustering_spark.operators.multimodal import resize_nearest

    # blob shorter than w*h: out-of-range pixels dropped; empty blob: no row
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(b"abcde"), ("IMG", 4, 4, 8000, 1)),
            (2, "image", bytearray(b""), ("IMG", 4, 4, 8000, 1)),
        ],
        "asset_id long, modality string, content binary,"
        " meta struct<format string, width int, height int,"
        " sample_rate int, n_frames int>",
    )
    rows = resize_nearest(assets, stride=2).collect()
    assert len(rows) == 1
    [r] = rows
    # kept sources: 0 and 2 (positions 8, 10 exceed length 5)
    assert r["n_out"] == 2


def test_audio_window_stats_hand_computed(spark):
    import math

    from flink_kmeans_clustering_spark.operators.multimodal import (
        audio_window_stats,
    )

    assets = spark.createDataFrame(
        [
            (1, "audio", bytearray([10, 20, 30, 40, 50])),
            (2, "image", bytearray([1, 2, 3])),  # filtered out
            (3, "audio", bytearray()),  # zero-byte: no windows
        ],
        "asset_id long, modality string, content binary",
    )
    rows = sorted(
        audio_window_stats(assets, window_bytes=4).collect(),
        key=lambda r: (r["asset_id"], r["window_no"]),
    )
    want = [
        (1, 0, 4, round(math.sqrt((100 + 400 + 900 + 1600) / 4), 6), 40),
        (1, 1, 1, round(math.sqrt(2500 / 1), 6), 50),
    ]
    assert [
        (r["asset_id"], r["window_no"], r["n_samples"], r["rms"], r["peak"])
        for r in rows
    ] == want


def test_audio_window_stats_validates_window(spark):
    import pytest as _pytest

    from flink_kmeans_clustering_spark.operators.multimodal import (
        audio_window_stats,
    )

    df = spark.createDataFrame(
        [(1, "audio", bytearray(b"xy"))],
        "asset_id long, modality string, content binary",
    )
    with _pytest.raises(ValueError, match="window_bytes"):
        audio_window_stats(df, window_bytes=0)


def test_wav_roundtrip_through_real_container(spark):
    """Pack -> RIFF/WAVE -> parse -> features on a hand doc: 'AAAA'
    (all byte 65) must yield every segment mean 65/256 = 0.253906."""
    from flink_kmeans_clustering_spark.operators.multimodal import (
        features_rounded,
        wav_features,
        wav_pack_assets,
    )

    docs = spark.createDataFrame([(7, "AAAA" * 8)], "doc_id long, text string")
    assets = wav_pack_assets(docs)
    blob = bytes(assets.collect()[0]["content"])
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    rows = features_rounded(wav_features(assets)).collect()
    assert len(rows) == 16
    assert all(abs(r["val"] - round(65 / 256, 6)) < 1e-9 for r in rows)


def test_wav_decoder_format_edges():
    """The format edges a fake decoder can't exercise: truncated data
    chunk raises (header/payload mismatch), garbage magic raises, and
    a byte-0 sample round-trips through int16 LE without sign damage."""
    import io
    import wave as _wave

    import numpy as np
    import pytest as _pytest

    from flink_kmeans_clustering_spark.operators.multimodal import (
        wav_decoder,
    )

    dec = wav_decoder(4)

    def pack(samples, framerate=8000, channels=1, width=2):
        buf = io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(framerate)
            w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return buf.getvalue()

    # byte 0 -> sample -32768 (int16 min) -> decoded byte 0 -> mean 0
    lo = pack([-32768] * 8)
    assert dec(lo).tolist() == [0.0, 0.0, 0.0, 0.0]
    # byte 255 -> sample 32512 -> mean 255/256 in every segment
    hi = pack([(255 - 128) * 256] * 8)
    assert dec(hi).tolist() == _pytest.approx([round(255 / 256, 6)] * 4, abs=5e-7)

    # truncated payload: chop the tail of a valid file — wave reads
    # fewer frames than the header's data-chunk length promises
    good = pack([0] * 100)
    with _pytest.raises((ValueError, EOFError, _wave.Error)):
        dec(good[:-30])

    # garbage magic is rejected by the container parser
    with _pytest.raises(_wave.Error):
        dec(b"JUNK" + good[4:])

    # wrong params are rejected, not silently misparsed
    stereo = pack([0, 0, 0, 0], channels=2)
    with _pytest.raises(ValueError, match="mono 16-bit"):
        dec(stereo)

    # zero-frame file is valid audio of length 0 -> zero features
    assert dec(pack([])).tolist() == [0.0] * 4


def test_png_roundtrip_through_real_container(spark):
    """Pack -> PNG -> parse -> features on a hand doc: 64 'A' bytes
    fill two 32-px scanlines exactly (no padding), so every segment
    mean is 65/256 = 0.253906; a 1-char doc pads to one 32-px row
    whose first segment mean is 65/(2*256) (2 pixels per segment, one
    real + one zero pad)."""
    from flink_kmeans_clustering_spark.operators.multimodal import (
        features_rounded,
        png_features,
        png_pack_assets,
    )

    docs = spark.createDataFrame(
        [(7, "A" * 64), (8, "A")], "doc_id long, text string"
    )
    assets = png_pack_assets(docs)
    blobs = {r["asset_id"]: bytes(r["content"]) for r in assets.collect()}
    assert blobs[7][:8] == b"\x89PNG\r\n\x1a\n"
    rows = features_rounded(png_features(assets)).collect()
    by = {}
    for r in rows:
        by.setdefault(r["asset_id"], {})[r["pos"]] = r["val"]
    assert len(by[7]) == 16
    assert all(abs(v - round(65 / 256, 6)) < 1e-9 for v in by[7].values())
    # doc 8: 32 padded pixels, 2 per segment; only pixel 0 is nonzero
    assert abs(by[8][0] - round(65 / 512, 6)) < 1e-9
    assert all(by[8][p] == 0.0 for p in range(1, 16))


def test_png_encoder_uses_all_filter_types_and_multi_idat():
    """The synthesized container must exercise the real format: at
    least 5 scanlines -> all five filter types appear in the filtered
    stream, and an incompressible payload splits into multiple IDAT
    chunks that the decoder must concatenate."""
    import struct
    import zlib

    from flink_kmeans_clustering_spark.operators.multimodal import (
        _png_encode,
        png_decoder,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, 32 * 10).astype(np.uint8)
    blob = _png_encode(px, 32)
    off, idat, n_idat = 8, bytearray(), 0
    while off < len(blob):
        (ln,) = struct.unpack(">I", blob[off : off + 4])
        ctype = blob[off + 4 : off + 8]
        if ctype == b"IDAT":
            n_idat += 1
            idat.extend(blob[off + 8 : off + 8 + ln])
        off += 12 + ln
    assert n_idat > 1  # multi-chunk IDAT is part of the contract
    raw = zlib.decompress(bytes(idat))
    ftypes = {raw[r * 33] for r in range(10)}
    assert ftypes == {0, 1, 2, 3, 4}
    # and the strict decoder reconstructs the exact pixel array
    feat = png_decoder(16)(blob)
    seg = (np.arange(px.size) * 16) // px.size
    exp = np.bincount(seg, weights=px.astype(float), minlength=16) / (
        np.bincount(seg, minlength=16) * 256.0
    )
    exp = (np.floor(exp * 1e6 + 0.5) / 1e6).astype(np.float32)
    assert np.array_equal(feat, exp)


def test_png_decoder_format_edges():
    """Corruption raises instead of yielding wrong features: bad
    signature, flipped CRC byte, truncated chunk, wrong color type,
    invalid filter byte, and an inflated payload shorter than the
    IHDR's promise."""
    import struct
    import zlib

    from flink_kmeans_clustering_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        _png_encode,
        png_decoder,
    )

    dec = png_decoder(16)
    rng = np.random.default_rng(11)
    good = _png_encode(rng.integers(0, 256, 32 * 6).astype(np.uint8), 32)

    with pytest.raises(ValueError, match="signature"):
        dec(b"\x00" + good[1:])

    bad = bytearray(good)
    bad[60] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        dec(bytes(bad))

    with pytest.raises(ValueError, match="truncated"):
        dec(good[: len(good) // 2])

    rgb_ihdr = struct.pack(">IIBBBBB", 32, 1, 8, 2, 0, 0, 0)
    rgb = (
        _PNG_SIG
        + _png_chunk(b"IHDR", rgb_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 33))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="grayscale"):
        dec(rgb)

    gray_ihdr = struct.pack(">IIBBBBB", 32, 1, 8, 0, 0, 0, 0)
    badfilt = (
        _PNG_SIG
        + _png_chunk(b"IHDR", gray_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x09" + b"\x00" * 32))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter type"):
        dec(badfilt)

    two_row_ihdr = struct.pack(">IIBBBBB", 32, 2, 8, 0, 0, 0, 0)
    short = (
        _PNG_SIG
        + _png_chunk(b"IHDR", two_row_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + b"\x01" * 32))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated pixel data"):
        dec(short)

    noend = good[: len(good) - 12]  # drop the IEND chunk
    with pytest.raises(ValueError, match="IHDR or IEND"):
        dec(noend)
