"""Multimodal column plumbing: opaque ``binary`` content + typed
metadata, with decode / feature-extract / frame-sample stages.

Large-scale training pipelines carry images/audio/video as binary
columns next to text and embeddings.  This module makes that a
first-class pattern:

* **Schema**: ``asset_id long, modality string, content binary,
  meta struct<...>`` — content stays opaque to Catalyst; metadata is a
  typed struct so predicates on it (``meta.width > 64``) prune without
  touching bytes.
* **JVM-side stages** (digests, sizes, frame windowing) are column
  expressions — they run at scan speed, no Python.
* **Python stages** (feature extraction) are Arrow-batched
  ``mapInPandas`` — whole record-batches cross the boundary, never
  rows.  Audio (RIFF/WAVE via stdlib ``wave``) and image (PNG via
  stdlib ``zlib``: CRC-checked chunks, all five scanline filters) are
  REAL codecs run through the shared decode contract.  Lossy codec
  decode (JPEG/video) needs PIL/pyav and has no decoder here;
  ``byte_histogram_features`` is the deterministic fake that keeps
  that pipeline shape testable, and a real lossy decoder plugs into
  :func:`decode_features` the same way.

At 100 TB: content-bearing DataFrames should be partitioned so one
parquet row group holds O(100) assets (``spark.sql.files.
maxPartitionBytes`` down, not up), and feature extraction fans out
embarrassingly parallel — no shuffle anywhere in this module until a
downstream groupBy.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.functions.hashing import md5_int, md5_u32

if TYPE_CHECKING:  # pandas only crosses the boundary inside mapInPandas
    import pandas as pd

MODALITIES = ("image", "audio", "video")

FEATURE_DIM = 16

META_SCHEMA = (
    "struct<format string, width int, height int, sample_rate int, n_frames int>"
)


def synthesize_assets(docs: DataFrame) -> DataFrame:
    """Deterministic multimodal corpus derived from the documents table.

    ``content`` is the UTF-8 byte encoding of the text (a real binary
    column of varying length); modality and metadata derive from
    ``doc_id``/``n_chars`` arithmetic, so the corpus is reproducible in
    any engine without RNG.
    """
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % len(MODALITIES) + 1).cast("int"),
    )
    n = F.col("n_chars").cast("int")
    meta = F.struct(
        F.upper(modality).alias("format"),
        (n % 640 + 16).alias("width"),
        (n % 480 + 16).alias("height"),
        ((n % 3 + 1) * 8000).alias("sample_rate"),
        (n % 240 + 1).alias("n_frames"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        meta.alias("meta"),
    )


def asset_metadata(assets: DataFrame) -> DataFrame:
    """Typed metadata + content digests, entirely JVM-side.

    ``octet_length`` + md5/sha256 digests give dedup-grade identity for
    opaque blobs without decoding them; predicates on the meta struct
    prune before any byte is touched.
    """
    return assets.select(
        "asset_id",
        "modality",
        F.octet_length("content").alias("n_bytes"),
        F.md5("content").alias("md5"),
        F.sha2("content", 256).alias("sha256"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def frame_sample(assets: DataFrame, frame_bytes: int = 64, every_k: int = 4) -> DataFrame:
    """Sample every k-th fixed-size byte window ("frame") of the content.

    The JVM-side stand-in for video frame sampling: frames are
    ``frame_bytes``-wide substrings of the blob, and we keep frames
    0, k, 2k, … — one row per sampled frame (explode).  Real codecs
    would slot into the same (asset_id, frame_no, frame) shape.
    """
    n_frames = F.ceil(F.octet_length("content") / F.lit(frame_bytes)).cast("int")
    # guard: sequence(0, -1) would DESCEND in Spark — empty blob → no frames
    frame_nos = F.when(n_frames <= 0, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(0), n_frames - 1),
            lambda i: i % every_k == 0,
        )
    )
    return (
        assets.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.explode(frame_nos).alias("frame_no"),
            F.col("content"),
        )
        .select(
            "asset_id",
            "frame_no",
            F.expr(f"substring(content, frame_no * {frame_bytes} + 1, {frame_bytes})")
            .alias("frame"),
        )
    )


# THE DECODE CONTRACT (pinned by tests/test_multimodal.py's contract
# test): a decoder is a plain Python callable ``bytes -> array-like of
# float32 (length FEATURE_DIM-compatible)``.  decode_features() owns
# ALL Spark plumbing — column pruning to (asset_id, modality, content),
# Arrow-batched mapInPandas, the output schema — so swapping the fake
# histogram decoder for a real PIL/soundfile/pyav one changes ZERO plan
# shape: same scan, same batch boundary, same downstream schema.
DECODE_SCHEMA = "asset_id long, modality string, feat array<float>"


def decode_features(assets: DataFrame, decoder, dim: int) -> DataFrame:
    """Shared decode plumbing: binary in, ``array<float>`` out, Arrow
    record batches across the Python boundary, zero shuffle.

    ``decoder(blob: bytes) -> sequence of float32`` is called once per
    asset inside the batch loop; everything else (pruned input columns,
    batching, output schema) is fixed here so every decoder — fake or
    real — produces an identical plan.
    """

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "feat": [decoder(bytes(b)) for b in pdf["content"]],
                }
            )

    return assets.select("asset_id", "modality", "content").mapInPandas(
        extract, schema=DECODE_SCHEMA
    )


def _histogram_decoder(dim: int):
    """The deterministic fake decoder: normalized ``dim``-bucket byte
    histogram — the exact batch/shape contract of a real embedding
    model, replayable in any engine."""

    def decode(blob: bytes):
        import numpy as np

        arr = np.frombuffer(blob, dtype=np.uint8)
        if arr.size == 0:
            return np.zeros(dim, dtype=np.float32)
        hist = np.bincount(arr // (256 // dim), minlength=dim)[:dim]
        # round HALF-UP in float64 BEFORE the float32 cast (np.round
        # is half-even; SQL ROUND is half-up — byte counts over
        # power-of-two sizes hit .5 boundaries exactly).  6-decimal
        # values survive a float32 round-trip (|err| ≤ 6e-8 < 5e-7),
        # so the downstream double-rounded projection is oracle-exact.
        ratio = hist / arr.size
        return (np.floor(ratio * 1e6 + 0.5) / 1e6).astype(np.float32)

    return decode


def byte_histogram_features(assets: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Deterministic fake "decode + feature extraction" — the
    :func:`decode_features` contract instantiated with the histogram
    decoder (see that function for the plumbing guarantees)."""
    return decode_features(assets, _histogram_decoder(dim), dim)


def features_rounded(features: DataFrame, decimals: int = 6) -> DataFrame:
    """Flatten feature vectors to (asset_id, pos, val) with rounding —
    the oracle-comparable projection of the fake-decode output."""
    return features.select(
        "asset_id",
        F.posexplode("feat").alias("pos", "val"),
    ).select("asset_id", "pos", F.round(F.col("val").cast("double"), 6).alias("val"))


def resize_nearest(assets: DataFrame, stride: int = 4) -> DataFrame:
    """Deterministic nearest-neighbor "resize" of the byte-grid image.

    The content bytes are treated as a row-major ``meta.width ×
    meta.height`` pixel grid (truncated to the blob's actual length);
    the output keeps pixel ``(r·stride)·width + c·stride`` for every
    output cell ``(r, c)`` — exactly the nearest-neighbor downsample a
    real image pipeline runs, on the deterministic stand-in bytes.
    The Spark plumbing is the real thing: Arrow-batched ``mapInPandas``
    (binary in, binary digest out), zero shuffle, and a row-local
    output an engine-independent oracle can recompute byte-for-byte.

    Output: (asset_id, out_w, out_h, n_out, digest) where ``digest`` is
    the md5 of the resized bytes in (r, c) order; zero-byte blobs are
    dropped (nothing to resize).
    """
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    out_schema = "asset_id long, out_w int, out_h int, n_out long, digest string"

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid, blob, w, h in zip(
                pdf["asset_id"], pdf["content"], pdf["_w"], pdf["_h"]
            ):
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                n = arr.size
                if n == 0:
                    continue
                out_h = -(-int(h) // stride)
                out_w = -(-int(w) // stride)
                r = np.arange(out_h) * stride * int(w)
                c = np.arange(out_w) * stride
                idx = (r[:, None] + c[None, :]).ravel()  # (r, c) order
                idx = idx[idx < n]
                resized = arr[idx].tobytes()
                rows.append(
                    (
                        int(aid),
                        out_w,
                        out_h,
                        len(resized),
                        hashlib.md5(resized).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "out_w", "out_h", "n_out", "digest"]
            )

    return assets.select(
        "asset_id",
        "content",
        F.col("meta.width").alias("_w"),
        F.col("meta.height").alias("_h"),
    ).mapInPandas(resize, schema=out_schema)


def audio_window_stats(
    assets: DataFrame, window_bytes: int = 128, round_to: int = 6
) -> DataFrame:
    """Windowed loudness profile of audio assets — the audio-shaped
    Python stage of the pipeline (silence trimming / VAD / level
    normalization all start from exactly this per-window RMS+peak
    scan).

    The content bytes are treated as unsigned 8-bit PCM samples (the
    deterministic stand-in — a real s16le/flac decode would be a
    :func:`decode_features` decoder) and cut into non-overlapping
    ``window_bytes`` windows; each window emits its sample count, RMS
    and peak.  Arrow-batched ``mapInPandas``, zero shuffle, one output
    row per window.

    Cross-engine exactness: Σv² of ≤ 2¹⁶ uint8² terms < 2³², exact in
    float64 in ANY summation order, so rms = sqrt(Σv²/n) is the same
    IEEE double in numpy and in a SQL engine — no tolerance needed.

    Output: (asset_id, window_no, n_samples, rms, peak).
    """
    if window_bytes < 1:
        raise ValueError(f"window_bytes must be >= 1, got {window_bytes}")
    audio = assets.filter(F.col("modality") == "audio").select(
        "asset_id", "content"
    )
    out_schema = (
        "asset_id long, window_no int, n_samples int, rms double, peak int"
    )

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf["asset_id"], pdf["content"]):
                b = np.frombuffer(bytes(blob), dtype=np.uint8)
                for w0 in range(0, b.size, window_bytes):
                    seg = b[w0 : w0 + window_bytes].astype(np.int64)
                    rows.append(
                        (
                            int(aid),
                            w0 // window_bytes,
                            int(seg.size),
                            math.sqrt(int((seg * seg).sum()) / seg.size),
                            int(seg.max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "window_no", "n_samples", "rms", "peak"],
            )

    res = audio.mapInPandas(stats, out_schema)
    if round_to is not None:
        res = res.withColumn("rms", F.round("rms", round_to))
    return res


def wav_pack_assets(docs: DataFrame) -> DataFrame:
    """Synthesize REAL RIFF/WAVE blobs from the documents table.

    Each document becomes a 16-bit PCM mono little-endian 8 kHz WAV
    whose sample ``i`` is ``(byte_i − 128) · 256`` of the UTF-8 text —
    deterministic, engine-replayable content behind a genuine codec
    container (44-byte RIFF header, fmt/data chunks, the stdlib
    ``wave`` writer).  This is the producer side of the decode
    contract: unlike the opaque stand-in bytes, these blobs exercise a
    real format's framing — magic, chunk lengths, sample width,
    endianness — so truncation/corruption edges are testable.
    Arrow-batched ``mapInPandas``, zero shuffle.
    """

    def pack(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io
        import wave as _wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                samples = (b.astype(np.int16) - 128) * 256
                buf = io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(samples.astype("<i2").tobytes())
                blobs.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": ["audio"] * len(pdf),
                    "content": blobs,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        pack, "asset_id long, modality string, content binary"
    )


def wav_decoder(dim: int = FEATURE_DIM):
    """A REAL production decoder for :func:`decode_features` —
    stdlib-``wave``-parsed 16-bit PCM, no third-party codec needed.

    Validates the container (RIFF magic and chunk structure via
    ``wave``, mono/16-bit params, payload length against the header's
    frame count — a TRUNCATED blob raises instead of silently yielding
    short features) and decodes samples explicitly little-endian
    (``<i2``, the WAV spec) so a big-endian host can't flip signs.
    Features: per-segment mean byte value normalized to [0, 1) —
    ``dim`` segments, half-up-rounded at 6 decimals in float64 BEFORE
    the float32 cast (survives the round-trip, same discipline as the
    histogram decoder), replayable exactly by a SQL oracle.
    """

    def decode(blob: bytes):
        import io
        import wave as _wave

        import numpy as np

        with _wave.open(io.BytesIO(blob), "rb") as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                raise ValueError(
                    f"expected mono 16-bit PCM, got channels="
                    f"{w.getnchannels()} width={w.getsampwidth()}"
                )
            n = w.getnframes()
            raw = w.readframes(n)
        if len(raw) != 2 * n:
            raise ValueError(
                f"truncated WAV payload: header promises {n} frames "
                f"({2 * n} bytes), data chunk holds {len(raw)}"
            )
        if n == 0:
            return np.zeros(dim, dtype=np.float32)
        s = np.frombuffer(raw, dtype="<i2")  # little-endian by spec
        byte_vals = (s.astype(np.int64) // 256 + 128).astype(np.float64)
        seg = (np.arange(n, dtype=np.int64) * dim) // n
        sums = np.bincount(seg, weights=byte_vals, minlength=dim)
        cnts = np.bincount(seg, minlength=dim)
        val = sums / (np.maximum(cnts, 1) * 256.0)
        return (np.floor(val * 1e6 + 0.5) / 1e6).astype(np.float32)

    return decode


def wav_features(assets: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """:func:`decode_features` with the real WAV decoder plugged in —
    identical plan shape to the histogram fake, real codec inside."""
    return decode_features(assets, wav_decoder(dim), dim)


PNG_WIDTH = 32  # pixels per scanline in the synthesized grayscale PNGs
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_codec():
    """Factory for the stdlib PNG encode/unfilter pair.

    Defined as FACTORY-LOCAL functions (not module-level) on purpose:
    cloudpickle serializes them BY VALUE into the mapInPandas closures,
    so executors never need this package importable — the same
    self-contained-closure discipline every other UDF in this repo
    follows (module-level helpers pickle by reference and die with
    ModuleNotFoundError on a worker whose sys.path lacks the repo).
    """

    SIG = _PNG_SIG

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import struct
        import zlib

        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def encode(pixels, width: int) -> bytes:
        """A REAL stdlib PNG encoder (8-bit grayscale, non-interlaced).

        Scanlines use a rotating mix of the spec's five filter types —
        None(0) / Sub(1) / Up(2) / Average(3) / Paeth(4) — so the
        decoder must implement genuine unfiltering, not just strip a
        constant prefix byte.  IDAT is split into 256-byte chunks
        (real PNGs carry multiple IDATs; a decoder that reads only the
        first is wrong).  Everything is stdlib: ``struct`` for
        big-endian framing, ``zlib`` for the deflate stream and CRCs.
        """
        import struct
        import zlib

        import numpy as np

        h = pixels.size // width
        px = pixels.reshape(h, width).astype(np.int64)
        raw = bytearray()
        prev = np.zeros(width, dtype=np.int64)
        for r in range(h):
            row = px[r]
            ftype = (1, 2, 3, 4, 0)[r % 5]
            if ftype == 0:
                filt = row
            elif ftype == 1:  # Sub: delta vs left neighbor (bpp=1)
                left = np.concatenate(([0], row[:-1]))
                filt = (row - left) % 256
            elif ftype == 2:  # Up: delta vs row above
                filt = (row - prev) % 256
            elif ftype == 3:  # Average: floor((left+up)/2)
                left = np.concatenate(([0], row[:-1]))
                filt = (row - (left + prev) // 2) % 256
            else:  # Paeth predictor
                left = np.concatenate(([0], row[:-1]))
                ul = np.concatenate(([0], prev[:-1]))
                p = left + prev - ul
                pa, pb, pc = (
                    np.abs(p - left),
                    np.abs(p - prev),
                    np.abs(p - ul),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, ul),
                )
                filt = (row - pred) % 256
            raw.append(ftype)
            raw.extend(filt.astype(np.uint8).tobytes())
            prev = row
        ihdr = struct.pack(">IIBBBBB", width, h, 8, 0, 0, 0, 0)
        comp = zlib.compress(bytes(raw), 6)
        out = bytearray(SIG)
        out.extend(chunk(b"IHDR", ihdr))
        for off in range(0, len(comp), 256):
            out.extend(chunk(b"IDAT", comp[off : off + 256]))
        out.extend(chunk(b"IEND", b""))
        return bytes(out)

    return chunk, encode


_png_chunk, _png_encode = _png_codec()


def png_pack_assets(docs: DataFrame, width: int = PNG_WIDTH) -> DataFrame:
    """Synthesize REAL PNG blobs from the documents table.

    Each document's UTF-8 bytes become a ``width``-pixel-wide 8-bit
    grayscale image (row-major, zero-padded to fill the last scanline;
    an empty text becomes one all-zero row — PNG requires height ≥ 1),
    encoded through :func:`_png_encode` — genuine signature, IHDR,
    CRC-framed multi-chunk IDAT, rotating scanline filters, IEND.
    Deterministic and engine-replayable: the decoded pixel array is
    exactly ``bytes(text) + zero padding``, so a SQL oracle can replay
    the full pack→container→parse→feature loop without touching PNG.
    Arrow-batched ``mapInPandas``, zero shuffle (same plumbing
    discipline as :func:`wav_pack_assets`).
    """

    def pack(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                h = max(1, -(-b.size // width))
                px = np.zeros(h * width, dtype=np.uint8)
                px[: b.size] = b
                blobs.append(_png_encode(px, width))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": ["image"] * len(pdf),
                    "content": blobs,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        pack, "asset_id long, modality string, content binary"
    )


def png_decoder(dim: int = FEATURE_DIM):
    """A REAL production PNG decoder for :func:`decode_features` —
    stdlib ``zlib``/``struct``, no third-party codec.

    Strict by design (the WAV-decoder discipline — a malformed blob
    raises instead of silently yielding wrong features): validates the
    8-byte signature, every chunk's CRC32, IHDR shape (8-bit grayscale,
    no interlace), IEND termination, and the inflated payload length
    against ``height · (1 + width)`` — a truncated IDAT stream raises.
    Implements ALL FIVE scanline filters (None/Sub/Up/Average/Paeth,
    bpp = 1) and concatenates multi-chunk IDAT before inflating, per
    spec.  Features: per-segment mean pixel value normalized to
    [0, 1) — ``dim`` segments over the full (padded) pixel array,
    half-up-rounded at 6 decimals in float64 BEFORE the float32 cast,
    replayable exactly by a SQL oracle.
    """

    def decode(blob: bytes):
        import struct
        import zlib

        import numpy as np

        if blob[:8] != _PNG_SIG:
            raise ValueError("bad PNG signature")
        off = 8
        ihdr = None
        idat = bytearray()
        ended = False
        while off < len(blob):
            if off + 8 > len(blob):
                raise ValueError("truncated chunk header")
            (ln,) = struct.unpack(">I", blob[off : off + 4])
            ctype = blob[off + 4 : off + 8]
            data = blob[off + 8 : off + 8 + ln]
            if len(data) != ln or off + 12 + ln > len(blob):
                raise ValueError(f"truncated {ctype!r} chunk")
            (crc,) = struct.unpack(">I", blob[off + 8 + ln : off + 12 + ln])
            if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                raise ValueError(f"CRC mismatch in {ctype!r} chunk")
            off += 12 + ln
            if ctype == b"IHDR":
                if ihdr is not None:
                    raise ValueError("duplicate IHDR")
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                ended = True
                break
        if ihdr is None or not ended:
            raise ValueError("missing IHDR or IEND")
        w, h, depth, ctype_i, comp, filt, interlace = ihdr
        if (depth, ctype_i, comp, filt, interlace) != (8, 0, 0, 0, 0):
            raise ValueError(
                f"expected 8-bit grayscale non-interlaced, got depth="
                f"{depth} color={ctype_i} interlace={interlace}"
            )
        raw = zlib.decompress(bytes(idat))
        if len(raw) != h * (1 + w):
            raise ValueError(
                f"truncated pixel data: header promises {h * (1 + w)} "
                f"filtered bytes, inflate yielded {len(raw)}"
            )
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + w)
        ftypes, rows = arr[:, 0], arr[:, 1:].astype(np.int64)
        px = np.zeros((h, w), dtype=np.int64)
        prev = np.zeros(w, dtype=np.int64)
        for r in range(h):
            ft, row = int(ftypes[r]), rows[r]
            if ft == 0:
                cur = row.copy()
            elif ft == 1:  # Sub: prefix-sum mod 256 (vectorized; the
                # running mod distributes over the cumsum in int64)
                cur = np.cumsum(row) % 256
            elif ft == 2:  # Up
                cur = (row + prev) % 256
            elif ft == 3:  # Average
                cur = row.copy()
                cur[0] = (cur[0] + prev[0] // 2) % 256
                for x in range(1, w):
                    cur[x] = (cur[x] + (cur[x - 1] + prev[x]) // 2) % 256
            elif ft == 4:  # Paeth
                cur = row.copy()
                for x in range(w):
                    a = cur[x - 1] if x else 0
                    b = int(prev[x])
                    c = int(prev[x - 1]) if x else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    cur[x] = (cur[x] + pred) % 256
            else:
                raise ValueError(f"invalid filter type {ft} on row {r}")
            px[r] = cur
            prev = cur
        flat = px.reshape(-1).astype(np.float64)
        n = flat.size
        seg = (np.arange(n, dtype=np.int64) * dim) // n
        sums = np.bincount(seg, weights=flat, minlength=dim)
        cnts = np.bincount(seg, minlength=dim)
        val = sums / (np.maximum(cnts, 1) * 256.0)
        return (np.floor(val * 1e6 + 0.5) / 1e6).astype(np.float32)

    return decode


def png_features(assets: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """:func:`decode_features` with the real PNG decoder plugged in —
    identical plan shape to the WAV/histogram paths, real codec inside."""
    return decode_features(assets, png_decoder(dim), dim)


def ahash_chunks(
    assets: DataFrame,
    id_col: str = "asset_id",
    content_col: str = "content",
    bits: int = 64,
    chunks: int = 4,
) -> DataFrame:
    """Average-hash (aHash) of the content byte grid, as chunk ints.

    The classic perceptual image hash, computed on the deterministic
    byte grid: sample ``bits`` evenly-spaced bytes (position
    ``\u230ai\u00b7n/bits\u230b`` — the same nearest-neighbor downsample a real
    image pipeline runs), threshold each at the sample MEAN, pack the
    bit vector into ``chunks`` little-endian 16-bit integers.  Every
    step is integer/exact-double arithmetic replayable in SQL (the
    mean of 64 small ints is exact in a double); byte extraction is
    JVM-side — latin-1 decode maps byte k to code point k, so
    ``ascii(substr(decode(content), pos, 1))`` IS the byte value, no
    UDF.  The chunk split is the pigeonhole blocking key: two hashes
    within Hamming distance < chunks must agree on SOME chunk.

    Output: (asset_id, chunk_idx, chunk_val, c0..c{chunks-1}) — one
    row per chunk for blocking, the full hash carried along for the
    verify step.
    """
    per = bits // chunks
    # ONE expression tree with let-style bindings (single-element-array
    # transform lambdas): Catalyst's projection collapse would otherwise
    # inline the decode into all 64 sampling positions and re-decode the
    # whole blob per element (measured 13 s for 500 assets; this form is
    # sub-second).  The threshold compare is PURE INTEGER
    # (b_i * bits > Σb — equivalent to b_i > mean, no division), so the
    # hash is integer-exact in any engine.
    # The blocking rows come out of the SAME let-binding as the hash
    # (r14 optimization): the old two-step form (alias the chunk array
    # `c`, then posexplode(c) + chunks× element_at(c, j)) referenced
    # the alias chunks+1 times, and projection collapse re-inlined the
    # whole interpreted decode+hash HOF into every reference — the
    # monster evaluated 5× per row (measured 2.3 s → 0.5 s at sf0.1
    # for the chunk table).  Binding the chunk array `c` in one more
    # single-element-array transform and emitting the final
    # (chunk_idx, chunk_val, c0..c{chunks-1}) structs INSIDE that
    # lambda evaluates the hash once per row; `inline` explodes the
    # struct array with no reference back to the input expression.
    # Values are unchanged field-for-field: chunk_idx = j is exactly
    # posexplode's pos, chunk_val/cj are the same element_at reads.
    row_struct = ", ".join(
        ["'chunk_idx', j", "'chunk_val', element_at(c, j + 1)"]
        + [f"'c{j}', element_at(c, {j + 1})" for j in range(chunks)]
    )
    rows_expr = (
        f"element_at(transform(array(decode({content_col}, 'ISO-8859-1')), "
        f"s -> element_at(transform(array("
        f"transform(sequence(0, {bits - 1}), i -> "
        f"ascii(substr(s, int(i * length(s) / {bits}) + 1, 1)))"
        f"), b -> element_at(transform(array("
        f"transform(sequence(0, {chunks - 1}), j -> "
        f"aggregate(sequence(0, {per - 1}), 0, (acc, m) -> acc + "
        f"if(element_at(b, j * {per} + m + 1) * {bits} > "
        f"aggregate(b, 0, (a2, e) -> a2 + e), shiftleft(1, m), 0)))"
        f"), c -> transform(sequence(0, {chunks - 1}), j -> "
        f"named_struct({row_struct}))), 1)), 1)), 1)"
    )
    from flink_kmeans_clustering_spark.operators.common import spread

    # the interpreted decode+hash HOF is the per-row heavy step: a
    # single-file corpus otherwise runs it in ONE task (measured 2.1 s
    # serial at sf0.1, ~0.4 s spread across the slots; no-op at 100 TB
    # where inputs have splits)
    return spread(
        assets.filter(F.octet_length(content_col) > 0), id_col
    ).select(F.col(id_col), F.expr(f"inline({rows_expr})"))


def phash_pairs(
    assets: DataFrame,
    max_hamming: int = 3,
    id_col: str = "asset_id",
    content_col: str = "content",
    bits: int = 64,
    chunks: int = 4,
    max_block: int | None = 200,
    new_pred=None,
) -> DataFrame:
    """Perceptual near-duplicate pairs by aHash Hamming distance —
    multimodal dedup for image-like binary columns (the "same picture,
    re-encoded" case byte digests can't catch).

    Pigeonhole blocking for ``max_hamming < chunks``: two hashes
    within the threshold must share at least one exact chunk, so the
    equi-join on (chunk_idx, chunk_val) generates every qualifying
    pair and the Hamming filter verifies — identical physics to the
    SimHash text pairs, applied to the decoded byte grid.  ``max_block``
    is the mandatory hot-block guard (the df cap of this family): a
    chunk value shared by thousands of assets is boilerplate, not
    near-duplication — on low-entropy grids (text bytes, flat images)
    the correlated bits WOULD otherwise degenerate the blocking toward
    all-pairs.  Same documented trade as the n-gram cap: a pair whose
    every shared chunk is hot is dropped.  ``max_block=None`` restores
    exact pigeonhole completeness for small corpora.

    ``new_pred`` (Column → boolean Column over the id, new r12) turns
    the pass INCREMENTAL: only pairs touching a "new" asset are
    generated — one join side is restricted to the new increment
    (new × all instead of all × all), the daily-ingest shape:
    candidates are |new|·block-sized, not corpus²-sized, while the
    block statistics (and the hot-block cap) still come from the FULL
    corpus so a boilerplate chunk stays capped no matter which
    snapshot its members arrived in.  Within-increment pairs are kept
    once via the id order; new×old pairs are kept regardless of id
    order and normalized to id_a < id_b.

    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    if max_hamming >= chunks:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming < chunks "
            f"({max_hamming} >= {chunks})"
        )
    h = ahash_chunks(assets, id_col, content_col, bits, chunks)
    if max_block is not None:
        from pyspark.sql import Window

        counts = h.groupBy("chunk_idx", "chunk_val").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        h = (
            h.join(F.broadcast(counts), ["chunk_idx", "chunk_val"])
            .filter(F.col("_bn") <= max_block)
            .drop("_bn")
        )
    # both self-join sides reference h: materialize the (tiny,
    # 4 rows/asset) chunk table once instead of re-running the decode+
    # hash HOFs on each side (measured 6.4 s -> ~3 s at sf0.1)
    h = h.localCheckpoint()
    a, bb = h.alias("a"), h.alias("b")
    ham = sum(
        F.bit_count(
            F.col(f"a.c{j}").bitwiseXOR(F.col(f"b.c{j}")).cast("long")
        )
        for j in range(chunks)
    )
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    if new_pred is None:
        pair_cond = ida < idb
        out_a, out_b = ida, idb
    else:
        # a ranges over the NEW increment only; keep new×old pairs in
        # whichever id order they come, within-new pairs once (a < b)
        pair_cond = (
            new_pred(ida)
            & (~new_pred(idb) | (ida < idb))
            & (ida != idb)
        )
        out_a, out_b = F.least(ida, idb), F.greatest(ida, idb)
    return (
        a.join(
            bb,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & pair_cond,
        )
        .select(
            out_a.alias("id_a"),
            out_b.alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


CLIP_IN_DIM = FEATURE_DIM  # 16: histogram feature width of both towers
CLIP_OUT_DIM = 8           # shared embedding space of the frozen head
CLIP_TAU = -0.25           # keep threshold on cosine agreement (the md5
#                            head is uncalibrated, so the operating point
#                            is set where it splits the corpus ~3:1 —
#                            exactly how LAION tuned its 0.28)


def clip_head_weights(tag: str, out_dim: int = CLIP_OUT_DIM, in_dim: int = CLIP_IN_DIM) -> list:
    """Frozen linear projection head: ``out_dim × in_dim`` weights in
    (−1, 1), entry (j, i) derived from ``md5("clip:{tag}:{j}:{i}")`` —
    the repo's portable-digest contract, so the "pretrained checkpoint"
    regenerates bit-identically in any engine from a one-line recipe.
    Entries are rounded to 6 decimals so the literal form is short and
    parses to the same double everywhere.  In production these would be
    the distilled weights of a real CLIP projection; the plumbing —
    literal matrix, codegen'd matvec, no UDF in the hot path — is
    identical.
    """
    import math

    def w(j: int, i: int) -> float:
        h = md5_u32(f"clip:{tag}:{j}:{i}")
        return math.floor((h / 4294967296.0 * 2.0 - 1.0) * 1e6 + 0.5) / 1e6

    return [[w(j, i) for i in range(in_dim)] for j in range(out_dim)]


def clip_agreement_filter(
    docs: DataFrame,
    tau: float = CLIP_TAU,
    n_buckets: int = CLIP_IN_DIM,
    out_dim: int = CLIP_OUT_DIM,
) -> DataFrame:
    """CLIP-style image–text agreement filter (the LAION curation
    stage: drop pairs whose image and caption embeddings disagree),
    re-expressed with frozen literal projection heads over this repo's
    deterministic feature towers.

    Towers: the IMAGE tower is the multimodal decode path —
    ``byte_histogram_features`` over the synthesized image assets
    (mapInPandas, Arrow-batched, the real decoder contract) rounded to
    the oracle grid; the TEXT tower is a hashed-token histogram
    (md5-bucketed unigrams, the DSIR trick at width 16) computed
    row-locally inside ONE let-bound codegen expression — no explode,
    no shuffle.  Each tower is projected by its frozen
    ``out_dim × 16`` head (:func:`clip_head_weights` literals via
    ``array_lit_sql`` — zero py4j chatter; one ``dot_sql`` per output
    dimension), and agreement is the ``cosine_sql`` of the two
    projections.

    Scale shape: modality pruning (``doc_id % 3 = 0`` — the image
    slice) pushes to the scan; the only shuffle is the image-features
    ⋈ captions join on doc id (both corpus-sized — at 100 TB both
    sides would be bucketed by doc id so the encoder-output join is
    exchange-free; here AQE picks the strategy).  Everything after the
    join is whole-stage codegen.

    Output: (doc_id, agreement, keep) per image doc, ordered by
    doc_id; ``agreement`` NULL (keep=false) when either tower is a
    zero vector (empty blob / no tokens) — degenerate pairs are
    unfilterable, not spuriously aligned.
    """
    from flink_kmeans_clustering_spark.functions.text import tokenize
    from flink_kmeans_clustering_spark.functions.vector import cosine_sql, dot_sql, norm_sql
    from flink_kmeans_clustering_spark.operators.common import array_lit_sql

    img_docs = docs.filter((F.col("doc_id") % 3) == 0)
    feats = byte_histogram_features(synthesize_assets(img_docs))
    h_img = F.transform(F.col("feat"), lambda v: F.round(v.cast("double"), 6))
    img = feats.select(F.col("asset_id").alias("doc_id"), h_img.alias("hi"))

    bks = tokenize(F.col("text"))
    bucket_of = lambda t: md5_int(t) % n_buckets
    # let-bind the token-bucket array (projection-collapse guard): the
    # histogram reads it 16 times
    hist = F.get(
        F.transform(
            F.array(F.transform(bks, bucket_of)),
            lambda b: F.transform(
                F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                lambda i: F.when(
                    F.size(b) == 0, F.lit(0.0)
                ).otherwise(
                    F.round(
                        F.size(F.filter(b, lambda x: x == i.cast("long")))
                        / F.size(b).cast("double"),
                        6,
                    )
                ),
            ),
        ),
        0,
    )
    txt = docs.filter((F.col("doc_id") % 3) == 0).select(
        "doc_id", hist.alias("ht")
    )

    def project(tag: str, h: str) -> "F.Column":
        # the frozen head times a tower: one dot per output dimension
        w = array_lit_sql(clip_head_weights(tag, out_dim, n_buckets))
        return F.expr(
            f"transform(sequence(1, {out_dim}), j -> {dot_sql(f'element_at({w}, j)', h)})"
        )

    joined = img.join(txt, "doc_id")
    zi, zt = project("img", "hi"), project("txt", "ht")
    # let-bind both projections so norms + dot don't recompute them
    bound = joined.select(
        "doc_id", zi.alias("_zi"), zt.alias("_zt")
    )
    cos = cosine_sql("_zi", "_zt", norm_sql("_zi"), norm_sql("_zt"))
    agreement = F.expr(f"round({cos}, 6)")
    return (
        bound.select(
            "doc_id",
            agreement.alias("agreement"),
        )
        .select(
            "doc_id",
            "agreement",
            F.coalesce(F.col("agreement") >= F.lit(float(tau)), F.lit(False)).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )
