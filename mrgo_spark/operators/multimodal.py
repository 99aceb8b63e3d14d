"""Multimodal column plumbing (SURVEY §2.4 X5).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The decode step itself is STUBBED (codec libraries are not
in this container — see ``FakeCodec``): the Spark-side plumbing that
matters at 100 TB is real and tested — schema, Arrow batch shape,
``mapInPandas`` signatures, partition sizing.

100 TB notes: binary blobs dominate row size, so
``spark.sql.files.maxPartitionBytes`` controls batch memory; feature
extraction is mapInPandas (no shuffle); only extracted features (small
vectors) flow into downstream joins/aggs — never raw bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("blob", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)


class FakeCodec:
    """Deterministic stand-in for image/audio decode.

    Real deployments swap in PIL/ffmpeg here (see ``PilCodec``); the
    container has neither, so 'decoding' derives stable pseudo-pixels
    from the blob bytes. Everything downstream (batch shapes, schema
    contracts) is identical to the real thing.
    """

    @staticmethod
    def decode_features(blob: bytes, dim: int = 8) -> list[float]:
        if blob is None:
            raise NotImplementedError("real codec required for None blobs")
        h = hashlib.sha256(blob).digest()
        return [h[i] / 255.0 for i in range(dim)]

    @staticmethod
    def thumbnail_bytes(blob: bytes, w: int = 4, h: int = 4) -> bytes:
        d = hashlib.sha256(blob).digest()
        return bytes((d * ((w * h) // len(d) + 1))[: w * h])


class PilCodec:
    """Real image codec backed by Pillow — the swap-in for FakeCodec.

    Same interface, so ``extract_features``/``resize_thumbnails`` work
    unchanged when Pillow is installed on the executors (it is not in
    this container; ``get_codec`` falls back to FakeCodec). Features
    are a dim-length grayscale intensity profile; thumbnails are raw
    grayscale pixels — intentionally simple, the contract under test
    is the seam, not the vision model.
    """

    @staticmethod
    def decode_features(blob: bytes, dim: int = 8) -> list[float]:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(blob)).convert("L").resize((dim, 1))
        return [p / 255.0 for p in img.getdata()]

    @staticmethod
    def thumbnail_bytes(blob: bytes, w: int = 4, h: int = 4) -> bytes:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(blob)).convert("L").resize((w, h))
        return bytes(img.getdata())


class BmpCodec:
    """Dependency-free REAL pixel codec: decodes
    uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) with stdlib
    ``struct`` only — so the mapInPandas codec seam runs on REAL
    pixels in this container (which has neither PIL nor ffmpeg).
    Same interface as FakeCodec/PilCodec (explicit injection via
    ``codec=``; it is NOT the get_codec default because it handles
    only BMP blobs, while the default path must digest arbitrary
    bytes).

    Deterministic integer math end-to-end so tests pin exact bytes:
    grayscale = ITU-R BT.601 luma (299·r + 587·g + 114·b) // 1000
    (note r == g == b == v ⇒ gray == v, so an encode→decode
    round-trip of a gray image is exact); resize = box-average
    pooling (each target pixel is the integer mean of its source
    block). ``encode_bmp`` is the matching writer — fixture synthesis
    and the decoder's own round-trip oracle."""

    @staticmethod
    def decode_gray(blob: bytes):
        """(width, height, rows) with rows top-down grayscale ints."""
        import struct

        if blob is None or len(blob) < 54 or blob[:2] != b"BM":
            raise NotImplementedError("BmpCodec handles BMP blobs only")
        off = struct.unpack_from("<I", blob, 10)[0]
        _hsz, w, h, _planes, bpp, comp = struct.unpack_from(
            "<IiiHHI", blob, 14
        )
        if bpp != 24 or comp != 0:
            raise NotImplementedError("only uncompressed 24-bit BMP")
        rows = _dib_gray_rows(blob, off, w, abs(h), bottom_up=h > 0)
        return w, abs(h), rows

    @staticmethod
    def _pool(blob: bytes, w: int, h: int) -> list[list[int]]:
        """Box-average the decoded grayscale image to w×h."""
        _, _, rows = BmpCodec.decode_gray(blob)
        return _pool_rows(rows, w, h)

    @staticmethod
    def decode_features(blob: bytes, dim: int = 8) -> list[float]:
        """dim-length intensity profile (the PilCodec contract): the
        image box-averaged to dim×1, scaled to [0, 1]."""
        return [p / 255.0 for p in BmpCodec._pool(blob, dim, 1)[0]]

    @staticmethod
    def thumbnail_bytes(blob: bytes, w: int = 4, h: int = 4) -> bytes:
        return bytes(
            p for row in BmpCodec._pool(blob, w, h) for p in row
        )


def _dib_gray_rows(
    buf: bytes, off: int, w: int, h: int, bottom_up: bool = True
) -> list[list[int]]:
    """Decode a raw BGR24 DIB pixel array (4-byte row stride) at
    ``off`` into top-down grayscale rows — shared by BmpCodec (the
    pixel array of a .bmp file) and AviCodec ('00db' frame chunks ARE
    bare DIB pixel arrays)."""
    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(h):
        src = off + y * stride
        row = []
        for x in range(w):
            b, g, r = buf[src + 3 * x : src + 3 * x + 3]
            row.append((299 * r + 587 * g + 114 * b) // 1000)
        rows.append(row)
    if bottom_up:
        rows.reverse()
    return rows


def _pool_rows(rows: list[list[int]], w: int, h: int) -> list[list[int]]:
    """Box-average grayscale rows to w×h (integer block means)."""
    sh, sw = len(rows), len(rows[0])
    out = []
    for j in range(h):
        y0, y1 = j * sh // h, max((j + 1) * sh // h, j * sh // h + 1)
        orow = []
        for i in range(w):
            x0 = i * sw // w
            x1 = max((i + 1) * sw // w, x0 + 1)
            block = [rows[y][x] for y in range(y0, y1) for x in range(x0, x1)]
            orow.append(sum(block) // len(block))
        out.append(orow)
    return out


def encode_bmp(gray_rows: list[list[int]]) -> bytes:
    """Write a gray image (rows top-down, values 0-255) as an
    uncompressed 24-bit bottom-up BMP (r = g = b = v, so
    BmpCodec.decode_gray round-trips it exactly)."""
    import struct

    h = len(gray_rows)
    w = len(gray_rows[0])
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    body = b"".join(
        b"".join(bytes((v, v, v)) for v in row) + pad
        for row in reversed(gray_rows)
    )
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    return header + dib + body


def synth_bmp_media(embeddings: DataFrame, w: int = 8, h: int = 8) -> DataFrame:
    """Media fixture with REAL BMP blobs: one w×h
    24-bit BMP per embedding row, grayscale pixels derived
    deterministically from sha256(vec_id) — test fuel that exercises
    an actual pixel decode through the codec seam, no external
    assets. Closure-based (mapInPandas) → never part of a declared
    query; the declared X5 surface stays the closure-free twins."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "blob": [], "meta": []}
            for vid in pdf["vec_id"]:
                vid = int(vid)
                d = hashlib.sha256(str(vid).encode()).digest()
                px = (d * ((w * h) // len(d) + 1))[: w * h]
                gray = [
                    [px[y * w + x] for x in range(w)] for y in range(h)
                ]
                rows["media_id"].append(vid)
                rows["kind"].append("image")
                rows["blob"].append(encode_bmp(gray))
                rows["meta"].append(
                    {"format": "bmp", "width": w, "height": h,
                     "duration_ms": None}
                )
            yield pd.DataFrame(rows)

    return embeddings.select("vec_id").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


class WavCodec:
    """Dependency-free REAL audio codec (the BmpCodec story for the
    'audio' kind): decodes RIFF/WAVE PCM 16-bit mono with stdlib
    ``struct`` only. Same interface as the image codecs so the
    mapInPandas ops work unchanged — 'features' are the dim-band mean
    ABSOLUTE amplitude (the envelope profile, scaled to [0, 1]) and a
    'thumbnail' is the box-averaged envelope quantized to bytes, so
    aHash over a WavCodec thumbnail is a real audio-envelope
    perceptual hash. Deterministic integer math throughout;
    ``encode_wav`` is the matching writer / round-trip oracle."""

    @staticmethod
    def decode_samples(blob: bytes):
        """(sample_rate, samples) — samples as signed 16-bit ints."""
        import struct

        if blob is None or len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            raise NotImplementedError("WavCodec handles RIFF/WAVE blobs only")
        pos, rate, bits, ch, fmt = 12, None, None, None, None
        while pos + 8 <= len(blob):
            cid = blob[pos : pos + 4]
            (sz,) = struct.unpack_from("<I", blob, pos + 4)
            if cid == b"fmt ":
                fmt, ch, rate, _br, _ba, bits = struct.unpack_from(
                    "<HHIIHH", blob, pos + 8
                )
            elif cid == b"data":
                if fmt != 1 or bits != 16 or ch != 1:
                    raise NotImplementedError("only PCM 16-bit mono")
                n = sz // 2
                samples = list(
                    struct.unpack_from(f"<{n}h", blob, pos + 8)
                )
                return rate, samples
            pos += 8 + sz + (sz & 1)
        raise NotImplementedError("no data chunk")

    @staticmethod
    def _envelope(blob: bytes, cells: int) -> list[int]:
        """Box-averaged |amplitude| per cell (0..32767)."""
        _, s = WavCodec.decode_samples(blob)
        n = len(s)
        if n == 0:
            return [0] * cells
        out = []
        for i in range(cells):
            a = i * n // cells
            b = max((i + 1) * n // cells, a + 1)
            block = s[a : min(b, n)] or [0]
            out.append(sum(min(abs(x), 32767) for x in block) // len(block))
        return out

    @staticmethod
    def decode_features(blob: bytes, dim: int = 8) -> list[float]:
        return [e / 32767.0 for e in WavCodec._envelope(blob, dim)]

    @staticmethod
    def thumbnail_bytes(blob: bytes, w: int = 4, h: int = 4) -> bytes:
        return bytes(e >> 7 for e in WavCodec._envelope(blob, w * h))


def encode_wav(samples: list[int], rate: int = 8000) -> bytes:
    """Write signed 16-bit mono PCM samples as a RIFF/WAVE blob
    (WavCodec.decode_samples round-trips it exactly)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def synth_wav_media(embeddings: DataFrame, n_samples: int = 256) -> DataFrame:
    """Media fixture with REAL PCM WAV blobs: samples derived
    deterministically from sha256(vec_id) — the synth_bmp_media story
    for the audio kind. Closure-based (mapInPandas) → never part of a
    declared query."""
    import hashlib
    import struct as _struct

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "blob": [], "meta": []}
            for vid in pdf["vec_id"]:
                vid = int(vid)
                d = hashlib.sha256(str(vid).encode()).digest()
                raw = (d * ((2 * n_samples) // len(d) + 1))[: 2 * n_samples]
                samples = list(
                    _struct.unpack(f"<{n_samples}h", bytes(raw))
                )
                rows["media_id"].append(vid)
                rows["kind"].append("audio")
                rows["blob"].append(encode_wav(samples))
                rows["meta"].append(
                    {"format": "wav", "width": None, "height": None,
                     "duration_ms": n_samples * 1000 // 8000}
                )
            yield pd.DataFrame(rows)

    return embeddings.select("vec_id").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


class AviCodec:
    """Dependency-free REAL video codec — the third modality
    (image BMP / audio WAV / video AVI all decode on real bytes
    in-container): parses RIFF/AVI with uncompressed 24-bit DIB
    ('00db') frames using the WavCodec chunk walker and the BmpCodec
    DIB pixel decode. Minimal by design — 'avih' gives the frame
    period, 'strf' the frame geometry, the 'movi' LIST the frames;
    everything else is skipped, and compressed fourccs refuse loudly
    (the codec-seam contract: swap in ffmpeg for real corpora).

    ``frame_samples`` is the video-specific API ``frame_sample``
    probes for: real frames sampled every ``every_ms``. The common
    image-codec interface (decode_features / thumbnail_bytes)
    operates on frame 0 — the poster-frame convention — so aHash over
    an AVI 'thumbnail' is a real first-frame perceptual hash.
    ``encode_avi`` is the matching writer / round-trip oracle."""

    @staticmethod
    def decode_frames(blob: bytes):
        """(width, height, usec_per_frame, frames) — frames as
        top-down grayscale rows."""
        import struct

        if (
            blob is None
            or len(blob) < 24
            or blob[:4] != b"RIFF"
            or blob[8:12] != b"AVI "
        ):
            raise NotImplementedError("AviCodec handles RIFF/AVI blobs only")
        usec = w = h = None
        frames = []

        def walk(pos, end):
            nonlocal usec, w, h
            while pos + 8 <= end:
                cid = blob[pos : pos + 4]
                (sz,) = struct.unpack_from("<I", blob, pos + 4)
                body = pos + 8
                if cid == b"LIST":
                    walk(body + 4, body + sz)  # skip the list type tag
                elif cid == b"avih":
                    (usec,) = struct.unpack_from("<I", blob, body)
                elif cid == b"strf":
                    _hsz, w, h, _pl, bpp, comp = struct.unpack_from(
                        "<IiiHHI", blob, body
                    )
                    if bpp != 24 or comp != 0:
                        raise NotImplementedError(
                            "only uncompressed 24-bit DIB frames"
                        )
                elif cid in (b"00db", b"00dc"):
                    frames.append((body, sz))
                pos = body + sz + (sz & 1)

        walk(12, len(blob))
        if not usec or w is None or not frames:
            # usec == 0 would divide frame_samples' time math by zero
            raise NotImplementedError("missing avih/strf/movi content")
        decoded = [
            _dib_gray_rows(blob, off, w, abs(h), bottom_up=h > 0)
            for off, _ in frames
        ]
        return w, abs(h), usec, decoded

    @staticmethod
    def frame_samples(blob: bytes, every_ms: int = 1000):
        """[(frame_idx, gray_bytes)] — one sample per ``every_ms`` of
        timeline (frame k shows at t = k·usec/1000 ms), always
        including frame 0; deterministic integer time math."""
        if every_ms <= 0:
            raise ValueError("every_ms must be positive")
        w, h, usec, frames = AviCodec.decode_frames(blob)
        ms_total = len(frames) * usec // 1000
        out, t = [], 0
        while t == 0 or t < ms_total:
            idx = min(t * 1000 // usec, len(frames) - 1)
            out.append(
                (int(idx), bytes(p for row in frames[idx] for p in row))
            )
            t += every_ms
        return out

    @staticmethod
    def decode_features(blob: bytes, dim: int = 8) -> list[float]:
        _, _, _, frames = AviCodec.decode_frames(blob)
        return [p / 255.0 for p in _pool_rows(frames[0], dim, 1)[0]]

    @staticmethod
    def thumbnail_bytes(blob: bytes, w: int = 4, h: int = 4) -> bytes:
        _, _, _, frames = AviCodec.decode_frames(blob)
        return bytes(p for row in _pool_rows(frames[0], w, h) for p in row)


def encode_avi(
    frames: list[list[list[int]]], usec_per_frame: int = 100_000
) -> bytes:
    """Write gray frames (each rows top-down, 0-255) as a minimal
    RIFF/AVI with uncompressed 24-bit bottom-up DIB '00db' chunks
    (AviCodec.decode_frames round-trips it exactly)."""
    import struct

    h = len(frames[0])
    w = len(frames[0][0])
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)

    def dib(img):
        return b"".join(
            b"".join(bytes((v, v, v)) for v in row) + pad
            for row in reversed(img)
        )

    avih = struct.pack(
        "<4sI14I", b"avih", 56, usec_per_frame, 0, 0, 0, len(frames),
        0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4sI4s4sIHHIIIIIIIIhhhh", b"strh", 56, b"vids", b"DIB ", 0,
        0, 0, 0, 1, 1_000_000 // usec_per_frame, 0, len(frames), 0,
        0, 0, 0, 0, int(w), int(h),
    )
    strf = struct.pack(
        "<4sIIiiHHIIiiII", b"strf", 40, 40, w, h, 1, 24, 0,
        stride * h, 2835, 2835, 0, 0,
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi_body = b"".join(
        b"00db" + struct.pack("<I", stride * h) + dib(f) for f in frames
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def synth_avi_media(
    embeddings: DataFrame, n_frames: int = 4, w: int = 8, h: int = 8
) -> DataFrame:
    """Media fixture with REAL AVI blobs: ``n_frames`` w×h gray
    frames per embedding row, pixels from sha256(vec_id:frame) — the
    synth_bmp_media story for the video kind. Closure-based
    (mapInPandas) → never part of a declared query."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "blob": [], "meta": []}
            for vid in pdf["vec_id"]:
                vid = int(vid)
                frames = []
                for f in range(n_frames):
                    d = hashlib.sha256(f"{vid}:{f}".encode()).digest()
                    px = (d * ((w * h) // len(d) + 1))[: w * h]
                    frames.append(
                        [[px[y * w + x] for x in range(w)] for y in range(h)]
                    )
                rows["media_id"].append(vid)
                rows["kind"].append("video")
                rows["blob"].append(encode_avi(frames, usec_per_frame=100_000))
                rows["meta"].append(
                    {"format": "avi", "width": w, "height": h,
                     "duration_ms": n_frames * 100}
                )
            yield pd.DataFrame(rows)

    return embeddings.select("vec_id").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def get_codec():
    """The codec seam: PilCodec when Pillow is importable, else the
    deterministic FakeCodec. Ops below take ``codec=`` for explicit
    injection (tests, ffmpeg-backed video codecs, BmpCodec/WavCodec/
    AviCodec for real in-container decode of BMP/WAV/AVI blobs,
    ...)."""
    try:
        import PIL  # noqa: F401

        return PilCodec
    except ImportError:
        return FakeCodec


def extract_features(media: DataFrame, dim: int = 8, codec=None) -> DataFrame:
    """blob → feature vector via Arrow-batched mapInPandas.

    Output: (media_id, kind, features array<double>). ``codec``
    defaults to get_codec() (PilCodec if available, else FakeCodec).
    """
    codec = codec or get_codec()
    out_schema = (
        "media_id long, kind string, features array<double>"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": pdf["blob"].map(
                        lambda b: codec.decode_features(b, dim)
                    ),
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


def resize_thumbnails(
    media: DataFrame, w: int = 4, h: int = 4, codec=None
) -> DataFrame:
    """blob → thumbnail blob, keeping metadata (codec-injectable)."""
    codec = codec or get_codec()
    out_schema = "media_id long, kind string, thumb binary, thumb_w int, thumb_h int"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "thumb": pdf["blob"].map(
                        lambda b: codec.thumbnail_bytes(b, w, h)
                    ),
                    "thumb_w": w,
                    "thumb_h": h,
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


def frame_sample(media: DataFrame, every_ms: int = 1000, codec=None) -> DataFrame:
    """video blob → sampled frame rows. Output one row per sampled
    frame: (media_id, t_ms, frame_idx, frame binary). Codecs exposing
    the video API (``frame_samples(blob, every_ms)`` — AviCodec, or an
    ffmpeg-backed swap-in) decode REAL container frames at real
    timestamps; others (FakeCodec) keep the duration-driven
    pseudo-frame plumbing, so batch shapes and schema are identical
    either way. ``t_ms`` is the sample's timeline position (sample
    ordinal × every_ms) — on the real path ``frame_idx`` REPEATS when
    every_ms is shorter than the frame period (timeline samples of
    the same container frame), so (media_id, t_ms) is the unique row
    key, not (media_id, frame_idx)."""
    codec = codec or get_codec()
    out_schema = "media_id long, t_ms int, frame_idx int, frame binary"
    real_video = hasattr(codec, "frame_samples")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "t_ms": [], "frame_idx": [], "frame": []}
            for _, r in pdf.iterrows():
                if real_video:
                    for n, (idx, fb) in enumerate(
                        codec.frame_samples(bytes(r["blob"]), every_ms)
                    ):
                        rows["media_id"].append(r["media_id"])
                        rows["t_ms"].append(n * every_ms)
                        rows["frame_idx"].append(idx)
                        rows["frame"].append(fb)
                    continue
                dur = r["meta"]["duration_ms"] or 0
                for i in range(max(dur // every_ms, 1)):
                    rows["media_id"].append(r["media_id"])
                    rows["t_ms"].append(i * every_ms)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(
                        codec.thumbnail_bytes(r["blob"] + i.to_bytes(4, "big"))
                    )
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "video").mapInPandas(
        batches, schema=out_schema
    )


def synth_media(spark, embeddings: DataFrame) -> DataFrame:
    """Build a deterministic media table from the embeddings fixture
    (blob = float bytes) — test fuel, no external assets needed."""
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("vec_id") % 3 + 1).cast("int"),
    )
    blob = F.sha2(F.concat_ws(",", F.col("embedding").cast("array<string>")), 256).cast(
        "binary"
    )
    return embeddings.select(
        F.col("vec_id").alias("media_id"),
        kinds.alias("kind"),
        blob.alias("blob"),
        F.struct(
            F.lit("synthetic").alias("format"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            (F.col("vec_id") % 5000 + 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# ------------------------------------------ perceptual-hash near-dup

# Average-hash (aHash) near-duplicate detection for media blobs — the
# image-dedup step of a multimodal training pipeline: decode to a
# small grayscale thumbnail, threshold each pixel against the mean,
# pack the bits, and find pairs at low Hamming distance via banded
# pigeonhole lookup (any pair within hamming <= bands-1 shares at
# least one exact band — the simhash trick over a perceptual hash).
#
# Two synchronized paths:
# - phash_media: the REAL path — blob -> codec thumbnail (8x8) ->
#   bits, through the Arrow-batched mapInPandas codec seam (PIL when
#   present, FakeCodec in-container). Closure-based -> never declared.
# - ahash_frames: a closure-free column-expression twin of the
#   FakeCodec pipeline (thumbnail = sha-256 digest doubled), which
#   makes the pack/threshold/banding logic fully oracle-checkable in
#   DuckDB even though this container cannot decode real pixels.
#   tests pin the two paths bit-identical under FakeCodec.
#
# 60 bits, not 64: both engines pack into a SIGNED bigint and
# 1 << 63 is the documented overflow trap (CLAUDE.md); 60 bits keep
# every intermediate positive with 4 bits of headroom. The MEAN is
# still taken over the full 8x8 tile (all 64 pixels — textbook
# aHash); only the packing drops the last 4 pixels.

PHASH_BITS = 60
PHASH_PIXELS = 64


def ahash_frames(df: DataFrame, blob_col, id_col: str = "media_id") -> DataFrame:
    """(media_id, phash): closure-free aHash over the FakeCodec
    'thumbnail' (sha-256 digest doubled = 64 pseudo-pixels);
    bit i (i < 60) set iff 64*pixel_i > sum(all 64 pixels) — the
    integer form of pixel > full-tile mean, exact in both engines.

    Staged selects: the pixel array and its sum are materialized as
    their own aliases so the per-bit lambda does not re-evaluate the
    60-element fold per bit (the r4 Generate/CollapseProject hazard
    class)."""
    blob = F.col(blob_col) if isinstance(blob_col, str) else blob_col
    hx = F.sha2(blob, 256)
    d1 = df.select(
        F.col(id_col).alias("media_id"),
        F.concat(hx, hx).alias("_dd"),
    )
    px = F.transform(
        F.sequence(F.lit(1), F.lit(PHASH_PIXELS)),
        lambda i: F.conv(
            F.col("_dd").substr(i * 2 - 1, F.lit(2)), 16, 10
        ).cast("long"),
    )
    d2 = d1.select("media_id", px.alias("_px"))
    # localCheckpoint: CollapseProject inlines a SINGLE-referenced
    # alias into its consumer, so a projection-staged "_s" lands
    # inside the per-bit lambda and the 60-element sum fold re-runs
    # once PER BIT (~60x per row — the embedding_normalize hazard
    # class, confirmed in the optimized plan). Severing lineage after
    # (_px, _s) are materialized is the repo's established fix.
    d3 = d2.select(
        "media_id",
        "_px",
        F.aggregate("_px", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "_s"
        ),
    ).localCheckpoint(eager=False)
    # 64 weights, the last PHASH_PIXELS-PHASH_BITS zero: the mean
    # covers every pixel, the pack only the first 60
    powers = F.array(
        *[
            F.lit(1 << i if i < PHASH_BITS else 0).cast("long")
            for i in range(PHASH_PIXELS)
        ]
    )
    bits = F.zip_with(
        F.col("_px"),
        powers,
        lambda x, p: F.when(x * PHASH_PIXELS > F.col("_s"), p).otherwise(
            F.lit(0).cast("long")
        ),
    )
    d4 = d3.select("media_id", bits.alias("_bits"))
    return d4.select(
        "media_id",
        F.aggregate("_bits", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "phash"
        ),
    )


def phash_media(media: DataFrame, codec=None) -> DataFrame:
    """(media_id, kind, phash): aHash through the codec seam — 8x8
    thumbnail, pixel > full-tile mean (64*px > sum over all 64
    pixels, textbook aHash), first PHASH_BITS bits packed. With
    FakeCodec this is bit-identical to ahash_frames(blob) (pinned in
    tests); with a real codec the thumbnail is real pixels and the
    hash becomes a true perceptual hash (near-dup under resize/
    recompress)."""
    codec = codec or get_codec()
    out_schema = "media_id long, kind string, phash long"

    def one(blob: bytes) -> int:
        pxs = list(codec.thumbnail_bytes(blob, 8, 8))[:PHASH_PIXELS]
        s = sum(pxs)
        return sum(
            (1 << i)
            for i, p in enumerate(pxs[:PHASH_BITS])
            if p * PHASH_PIXELS > s
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "phash": pdf["blob"].map(one),
                }
            )

    return media.mapInPandas(batches, schema=out_schema)


def phash_hamming_pairs(
    hashed: DataFrame,
    bands: int = 4,
    max_hamming: int = 2,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> DataFrame:
    """(id_a, id_b, hamming): pairs within ``max_hamming`` bits,
    found via banded pigeonhole — 4 bands x 15 bits, so any pair
    with hamming <= 3 shares at least one exact band; never an
    all-pairs join. Requires max_hamming < bands."""
    assert max_hamming < bands
    width = PHASH_BITS // bands
    mask = (1 << width) - 1
    # checkpoint once: the banded rows feed BOTH sides of the
    # self-join (differing projections -> Catalyst plans independent
    # subtrees, no exchange reuse -- the winnow_overlap class), so an
    # unsevered hash pipeline would recompute per side.
    hashed = hashed.localCheckpoint(eager=False)
    b = hashed.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright(F.col(hash_col), width * j)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "h", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    a_, b_ = b.alias("a"), b.alias("b")
    cand = (
        a_.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.h").bitwiseXOR(F.col("b.h"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)
