"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` UDFs.

Real, from-scratch numpy/stdlib codecs cover one genuine container per
modality — images: P6 PPM, PNG (zlib + scanline filters), baseline JPEG
grayscale AND YCbCr 4:2:0 color (Huffman + DCT); audio: PCM WAV (RIFF);
video: YUV4MPEG2 (Y4M) — so decode/feature/resize/frame-sample paths run
against actually-decoded bytes and stay oracle-checkable. Codec-DEPENDENT
formats (progressive JPEG, MP3/AAC, H.264/AV1) have no libraries in this
container; those kernels are honest STUBS behind an import-try: with real
libs present (PIL/librosa/av) they would decode, here they raise
``NotImplementedError`` unless ``fake=True``, whose deterministic fake
decoder still exercises the full Spark-side pipeline — schema,
partitioning, UDF signature, Arrow batch shape.

Scale notes: payloads stay in executor memory one Arrow batch at a time
(``maxRecordsPerBatch`` bounds batch bytes); feature extraction is
embarrassingly parallel with zero shuffle; downstream joins treat the output
as a normal columnar table.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.sources.io import ensure_parallelism

MEDIA_SCHEMA = (
    "media_id bigint, modality string, payload binary, "
    "meta_width int, meta_height int, meta_duration_ms int, meta_codec string"
)

FEATURE_DIM = 32


def synthetic_media(spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media table derived from a text corpus: payload =
    UTF-8 bytes, modality round-robins image/audio/video, metadata derived
    from payload length. Stands in for real blob columns end to end."""
    return source_df.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        (F.length(F.col(text_col)) % 1024).cast("int").alias("meta_width"),
        (F.length(F.col(text_col)) % 768).cast("int").alias("meta_height"),
        (F.length(F.col(text_col)) * 40).cast("int").alias("meta_duration_ms"),
        F.lit("fake/v1").alias("meta_codec"),
    )


def _decode_real(payload: bytes, modality: str) -> np.ndarray:
    """Real decode path — requires codec libraries not present here."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "media codecs not available in this environment; use fake=True"
        ) from None
    raise NotImplementedError("real decode path not wired in this container")


def _decode_fake(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: 32-bin byte histogram, L1-normalized."""
    if not payload:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
    total = hist.sum()
    return (hist / total if total else hist).astype(np.float32)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media → (media_id, modality, features ARRAY<FLOAT>) via mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decode = _decode_fake if fake else (lambda p: _decode_real(p, "any"))
            feats = [decode(p if p is not None else b"").tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "modality": pdf["modality"], "features": feats}
            )

    return ensure_parallelism(media).mapInPandas(run, schema="media_id bigint, modality string, features array<float>")


def resize_images(media: DataFrame, width: int = 64, height: int = 64, fake: bool = True) -> DataFrame:
    """image → (media_id, out_width, out_height, resized_md5, scale_x, scale_y).

    Real path would decode + PIL-resize + re-encode (stubbed, no codecs in
    this container); the deterministic fake re-fingerprints the payload with
    the target geometry so the full Spark plumbing — filter to modality,
    Arrow batches, per-row kernel, typed output schema — runs for real.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.modality != "image":
                    continue
                if not fake:
                    _decode_real(r.payload, "image")
                payload = r.payload if r.payload is not None else b""
                fp = hashlib.md5(payload + f"{width}x{height}".encode()).hexdigest()
                # No rounding: IEEE double division is bit-identical across
                # engines; Python round() is banker's, SQL round() is not.
                sx = width / r.meta_width if r.meta_width else None
                sy = height / r.meta_height if r.meta_height else None
                rows.append((r.media_id, width, height, fp, sx, sy))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "out_width", "out_height", "resized_md5", "scale_x", "scale_y"],
            )

    return ensure_parallelism(media).mapInPandas(
        run,
        schema=(
            "media_id bigint, out_width int, out_height int, "
            "resized_md5 string, scale_x double, scale_y double"
        ),
    )


def sample_frames(media: DataFrame, num_frames: int = 4, fake: bool = True) -> DataFrame:
    """video → (media_id, frame_idx, frame_offset_ms, frame_fingerprint).

    Deterministic fake frame sampler: evenly spaced offsets within
    meta_duration_ms, fingerprint = md5 of payload slice. The real path
    would seek/decode with PyAV — stubbed (see module docstring).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.modality != "video":
                    continue
                if not fake:
                    _decode_real(r.payload, "video")
                dur = max(int(r.meta_duration_ms or 0), 1)
                payload = r.payload or b""
                for i in range(num_frames):
                    off = (dur * i) // num_frames
                    lo = (len(payload) * i) // num_frames
                    hi = (len(payload) * (i + 1)) // num_frames
                    fp = hashlib.md5(payload[lo:hi]).hexdigest()
                    rows.append((r.media_id, i, off, fp))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_offset_ms", "frame_fingerprint"]
            )

    return ensure_parallelism(media).mapInPandas(
        run,
        schema="media_id bigint, frame_idx int, frame_offset_ms int, frame_fingerprint string",
    )


# ---------------------------------------------------------------------------
# REAL image path: P6 PPM (pure-numpy codec — no external libraries needed)
# ---------------------------------------------------------------------------
#
# The fake=True kernels above stand in for codec-dependent formats
# (JPEG/PNG/AV). PPM needs no codec: the payload IS the pixel buffer with a
# text header, so this path is a genuinely real decode → transform →
# re-encode pipeline, oracle-checked byte-exactly (the oracle reconstructs
# the same pixels in SQL).


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary P6 PPM."""
    h, w, _ = img.shape
    return f"P6\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary P6 PPM → (h, w, 3) uint8. Raises on any other format — the
    codec-dependent formats remain explicitly unsupported here."""
    if not payload.startswith(b"P6"):
        raise NotImplementedError("only P6 PPM is decodable without codec libraries")
    # header = magic, width, height, maxval as whitespace-separated tokens
    parts = payload.split(b"\n", 3)
    w, h = (int(t) for t in parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise NotImplementedError("only 8-bit PPM supported")
    pix = np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3)
    return pix.reshape(h, w, 3)


def synthetic_ppm_images(spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Real P6 PPM payloads built from JVM expressions only: pixel bytes are
    the document's (ASCII) text rpad-repeated to exactly w*h*3 chars, so an
    oracle can reconstruct the identical payload with SQL string functions.
    """
    w = (F.lit(8) + F.col(id_col) % 9).cast("int")
    h = (F.lit(8) + F.col(id_col) % 7).cast("int")
    # rpad counts CHARS but the decoder indexes BYTES; map any non-printable
    # /non-ASCII char to 'x' first so 1 char == 1 byte and the SQL oracle's
    # char-indexed reconstruction stays byte-exact on any corpus.
    ascii_text = F.regexp_replace(F.col(text_col), "[^ -~]", "x")
    body = F.coalesce(F.nullif(ascii_text, F.lit("")), F.lit("x"))
    pix = F.rpad(body, (w * h * 3).cast("int"), body)
    payload = F.encode(
        F.concat(F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n"), pix),
        "UTF-8",
    )
    return source_df.select(
        F.col(id_col).alias("media_id"),
        w.alias("meta_width"),
        h.alias("meta_height"),
        payload.alias("payload"),
    )


def ppm_decode_stats(media: DataFrame) -> DataFrame:
    """REAL decode: parse each P6 header + pixel buffer, emit the parsed
    geometry and exact per-channel means — everything derived from the
    decoded array, nothing from metadata columns."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_ppm(bytes(r.payload))
                means = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
                # raw doubles out; rounding happens in Spark's F.round
                # (HALF_UP, matching SQL) — Python round() is banker's and
                # diverges on exact ties like 100.78125.
                rows.append(
                    (r.media_id, img.shape[1], img.shape[0],
                     float(means[0]), float(means[1]), float(means[2]))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "img_w", "img_h", "mean_r", "mean_g", "mean_b"]
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema="media_id bigint, img_w int, img_h int, mean_r double, mean_g double, mean_b double",
    )
    return out.select(
        "media_id",
        "img_w",
        "img_h",
        "mean_r",
        "mean_g",
        "mean_b",
    )


def ppm_resize_nn(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL resize: decode → nearest-neighbor index map (src = floor(dst *
    src_dim / dst_dim)) → re-encode as P6 → md5 of the new payload. The
    oracle rebuilds the identical resized byte string in SQL, so this
    checks the whole decode/transform/encode path byte-exactly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_ppm(bytes(r.payload))
                h, w, _ = img.shape
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                resized = img[np.ix_(ys, xs)]
                rows.append((r.media_id, out_w, out_h, hashlib.md5(encode_ppm(resized)).hexdigest()))
            yield pd.DataFrame(rows, columns=["media_id", "out_w", "out_h", "resized_md5"])

    return ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run, schema="media_id bigint, out_w int, out_h int, resized_md5 string"
    )


# ---------------------------------------------------------------------------
# REAL image path 2: PNG (zlib inflate + filter reconstruction in numpy —
# stdlib only, no codec libraries)
# ---------------------------------------------------------------------------
#
# PNG is "codec-free" in this container because its compression is DEFLATE
# (stdlib zlib) and everything else is byte arithmetic: chunk framing with
# CRC32, and per-scanline filters 0-4 (None/Sub/Up/Average/Paeth) undone
# with numpy. The encoder deliberately cycles through ALL five filter types
# so decode genuinely exercises every reconstruction branch.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 interlace pass origins and strides: (x0, y0, dx, dy) per spec.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_filter_rows(img: np.ndarray) -> bytes:
    """Filter one (sub)image: (h, w, 3) uint8 → per-row filter byte +
    filtered scanline, filters cycling 0..4 by row so a round-trip covers
    every reconstruction path.

    Unlike *decode*, every encode filter reads only ORIGINAL pixel values
    (left / up / up-left of the unfiltered image), so all five filtered
    variants vectorize over the whole image at once — no per-byte Python
    loop (the old Paeth row loop dominated the sf0.1 bench)."""
    h, w, _ = img.shape
    bpp = 3
    x = img.reshape(h, w * bpp).astype(np.int32)
    left = np.zeros_like(x)
    left[:, bpp:] = x[:, :-bpp]
    up = np.zeros_like(x)
    up[1:] = x[:-1]
    ul = np.zeros_like(x)
    ul[1:, bpp:] = x[:-1, :-bpp]
    # Paeth predictor, vectorized: pick a/b/c minimizing |p - ·|, ties a>b>c.
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
    variants = (
        x,  # 0 None
        (x - left) % 256,  # 1 Sub
        (x - up) % 256,  # 2 Up
        (x - (left + up) // 2) % 256,  # 3 Average
        (x - paeth) % 256,  # 4 Paeth
    )
    raw = np.empty((h, w * bpp + 1), dtype=np.uint8)
    rows = np.arange(h)
    raw[:, 0] = (rows % 5).astype(np.uint8)
    for f in range(5):
        sel = rows % 5 == f
        if sel.any():
            raw[sel, 1:] = variants[f][sel].astype(np.uint8)
    return raw.tobytes()


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 → 8-bit RGB PNG; ``interlace=True`` emits a real
    Adam7 stream (7 sub-images, each filtered independently per spec)."""
    import struct
    import zlib as _z

    h, w, _ = img.shape
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size:
                parts.append(_png_filter_rows(np.ascontiguousarray(sub)))
        raw = b"".join(parts)
    else:
        raw = _png_filter_rows(img)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit RGB PNG → (h, w, 3) uint8: chunk walk → zlib inflate → undo
    scanline filters 0-4, including Adam7 INTERLACED streams (7 sub-image
    passes unfiltered independently and scattered back). Raises
    NotImplementedError on palettes, alpha, or non-8-bit depth — honest
    scope, same policy as decode_ppm."""
    import struct
    import zlib as _z

    if not payload.startswith(_PNG_SIG):
        raise NotImplementedError("not a PNG payload")
    pos, w = len(_PNG_SIG), 0
    idat = bytearray()
    h = bitdepth = colortype = interlace = None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        expect_crc = struct.unpack_from(">I", payload, pos + 8 + length)[0]
        if _z.crc32(tag + body) & 0xFFFFFFFF != expect_crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, bitdepth, colortype, _, _, interlace = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if bitdepth != 8 or colortype != 2 or interlace not in (0, 1):
        raise NotImplementedError(
            f"only 8-bit RGB (plain or Adam7) supported (got depth={bitdepth}, "
            f"color={colortype}, interlace={interlace})"
        )
    raw = _z.decompress(bytes(idat))
    if interlace == 1:
        out = np.empty((h, w, 3), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            sh = len(range(y0, h, dy))
            sw = len(range(x0, w, dx))
            if sh == 0 or sw == 0:
                continue
            nbytes = sh * (sw * 3 + 1)
            sub = _png_unfilter_rows(raw[pos : pos + nbytes], sh, sw)
            out[y0::dy, x0::dx] = sub
            pos += nbytes
        return out
    return _png_unfilter_rows(raw, h, w)


def _png_unfilter_rows(raw: bytes, h: int, w: int) -> np.ndarray:
    """Undo per-row filters over one (sub)image → (h, w, 3) uint8."""
    bpp, stride = 3, w * 3
    # One reshape exposes (filter byte, scanline) per row with no per-row
    # frombuffer calls; the sequential Average/Paeth reconstructions run on
    # plain Python lists — at these strides list indexing beats numpy
    # scalar indexing several-fold, and rows with filters 0-2 stay numpy.
    grid = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(h, stride + 1)
    filters = grid[:, 0]
    lines = grid[:, 1:].astype(np.int32)
    out = np.empty((h, stride), dtype=np.uint8)
    prev: list[int] = [0] * stride
    for y in range(h):
        f = int(filters[y])
        if f == 0:
            recon = lines[y].tolist()
        elif f == 1:  # Sub: prefix-sum per pixel-channel stride
            recon = lines[y].reshape(-1, bpp).cumsum(axis=0).reshape(-1).__mod__(256).tolist()
        elif f == 2:  # Up
            line = lines[y]
            recon = [(int(v) + p) % 256 for v, p in zip(line.tolist(), prev)]
        elif f == 3:  # Average — sequential in x
            line = lines[y].tolist()
            recon = [0] * stride
            for i in range(stride):
                left = recon[i - bpp] if i >= bpp else 0
                recon[i] = (line[i] + (left + prev[i]) // 2) % 256
        elif f == 4:  # Paeth — sequential in x
            line = lines[y].tolist()
            recon = [0] * stride
            for i in range(stride):
                a = recon[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recon[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = recon
        prev = recon
    return out.reshape(h, w, 3)


def synthetic_png_images(
    spark: SparkSession,
    source_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    interlace: bool = False,
) -> DataFrame:
    """Real PNG payloads whose PIXELS follow the same SQL-reconstructable
    formula as synthetic_ppm_images (ASCII-sanitized text rpad-repeated to
    w*h*3 bytes, w = 8 + id % 5, h = 8 + id % 11) — the encoder runs in an
    Arrow-batched kernel (zlib is not expressible in SQL), but every decoded
    STATISTIC is oracle-checkable because the pixel content is.
    ``interlace=True`` emits Adam7 streams; pixels (hence the oracle) are
    identical — interlacing reorders storage, not content."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                w, h = 8 + doc_id % 5, 8 + doc_id % 11
                body = re.sub(r"[^ -~]", "x", text) or "x"
                n = w * h * 3
                pix = (body * (n // len(body) + 1))[:n].encode("ascii")
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
                rows.append((doc_id, w, h, encode_png(img, interlace=interlace)))
            yield pd.DataFrame(rows, columns=["media_id", "meta_width", "meta_height", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_width int, meta_height int, payload binary"
    )


def png_decode_stats(media: DataFrame) -> DataFrame:
    """REAL PNG decode: inflate + filter reconstruction, then parsed
    geometry and exact per-channel means from the decoded array only."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_png(bytes(r.payload))
                means = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
                rows.append(
                    (r.media_id, img.shape[1], img.shape[0],
                     float(means[0]), float(means[1]), float(means[2]))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "img_w", "img_h", "mean_r", "mean_g", "mean_b"]
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema="media_id bigint, img_w int, img_h int, mean_r double, mean_g double, mean_b double",
    )
    return out.select(
        "media_id",
        "img_w",
        "img_h",
        "mean_r",
        "mean_g",
        "mean_b",
    )


def ppm_feature_histogram(media: DataFrame, bins: int = 32) -> DataFrame:
    """REAL feature extraction from decoded pixels: per-image ``bins``-bin
    byte histogram of the decoded array, L1-normalized, emitted as
    (media_id, bin, frac) rows for nonzero bins — fully oracle-checkable
    because every count is derivable from the SQL-reconstructable pixel
    string (bin = byte // (256 // bins)). The companion to
    :func:`extract_features`, whose fake-decoder path covers the
    codec-dependent formats."""
    width = 256 // bins

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_ppm(bytes(r.payload))
                flat = img.reshape(-1)
                hist = np.bincount(flat // width, minlength=bins)
                total = float(flat.size)
                for b in np.nonzero(hist)[0]:
                    rows.append((r.media_id, int(b), float(hist[b] / total)))
            yield pd.DataFrame(rows, columns=["media_id", "bin", "frac"])

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run, schema="media_id bigint, bin int, frac double"
    )
    return out.select("media_id", "bin", F.round("frac", 6).alias("frac"))


def ppm_histogram_counts(media: DataFrame, bins: int = 32) -> DataFrame:
    """Integer byte-histogram per decoded P6 image — the un-normalized
    companion of :func:`ppm_feature_histogram`, kept in exact BIGINT
    counts so downstream similarity scores (histogram intersection) are
    order-independent integers."""
    width = 256 // bins

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_ppm(bytes(r.payload))
                flat = img.reshape(-1)
                hist = np.bincount(flat // width, minlength=bins)
                for b in np.nonzero(hist)[0]:
                    rows.append((r.media_id, int(b), int(hist[b])))
            yield pd.DataFrame(rows, columns=["media_id", "bin", "cnt"])

    return ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run, schema="media_id bigint, bin int, cnt bigint"
    )


def ppm_histogram_similarity(
    media: DataFrame, n_probes: int = 3, top_k: int = 5, bins: int = 32
) -> DataFrame:
    """Content-based image retrieval over REAL decodes: histogram
    intersection Σ min(cA, cB) between each probe image (the ``n_probes``
    smallest ids) and every candidate sharing at least one populated bin,
    top-``top_k`` per probe.  Candidates with ZERO overlap are absent
    from the ranking entirely (the bin-keyed inner join never produces
    their pair — by construction they could only rank last), so a probe
    with < top_k overlapping candidates returns fewer rows.  Scores are
    exact integers, making the ranking engine-exact.  Probe histograms
    broadcast (bins × probes rows); the corpus side is one decode pass +
    one bin-keyed join — no image-pair blowup beyond probes × corpus."""
    hist = ppm_histogram_counts(media, bins)
    probes = hist.filter(F.col("media_id") < n_probes).select(
        F.col("media_id").alias("probe_id"), "bin", F.col("cnt").alias("pcnt")
    )
    cand = hist.filter(F.col("media_id") >= n_probes)
    scored = (
        cand.join(F.broadcast(probes), "bin")
        .groupBy("probe_id", "media_id")
        .agg(F.sum(F.least("cnt", "pcnt")).alias("overlap"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("overlap").desc(), F.col("media_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("probe_id", F.col("rk").cast("int").alias("rk"), "media_id", "overlap")
        .orderBy("probe_id", "rk")
    )


# ---------------------------------------------------------------------------
# REAL image path 3: baseline JPEG, grayscale (pure numpy + stdlib — Huffman
# entropy coding, DCT, marker framing all implemented here)
# ---------------------------------------------------------------------------
#
# The third real codec. The DECODER is a general baseline-JPEG grayscale
# decoder: marker parse, DQT/DHT table build, Huffman entropy decode
# (byte-unstuffing), dequantization, de-zigzag, 8x8 IDCT. The ENCODER is
# spec-compliant but scoped to flat 8x8 blocks (one gray level per block,
# quant table all-ones, minimal EOB-only AC table): for flat blocks the DCT
# has a single integer DC coefficient, so encode -> decode is EXACT — which
# is what lets decoded statistics be oracle-checked even though JPEG is
# lossy in general. Non-flat blocks raise (honest scope), as do progressive
# / color / subsampled streams on the decode side.

_JPEG_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# custom spec-legal Huffman tables: 12 DC categories at code length 4,
# one EOB-only AC symbol at code length 1
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = [0x00]


_JPEG_CODES_MEMO: dict = {}


def _jpeg_canonical_codes(bits: list, vals: list) -> dict:
    # Memoized: the same four standard tables are rebuilt for every image
    # otherwise. Callers only read the returned dict.
    key = (tuple(bits), tuple(vals))
    codes = _JPEG_CODES_MEMO.get(key)
    if codes is None:
        codes, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                codes[vals[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        _JPEG_CODES_MEMO[key] = codes
    return codes


def _jpeg_dct_matrix() -> np.ndarray:
    # Constant orthonormal DCT-II basis — computed once; the per-call
    # 64-cos python loop was half the per-image decode cost at sf0.1.
    global _JPEG_DCT_T
    if _JPEG_DCT_T is None:
        T = np.zeros((8, 8))
        for k in range(8):
            for x in range(8):
                T[k, x] = np.cos((2 * x + 1) * k * np.pi / 16) * (
                    np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8)
                )
        _JPEG_DCT_T = T
    return _JPEG_DCT_T


_JPEG_DCT_T: np.ndarray | None = None


def encode_jpeg_gray_flat(img: np.ndarray) -> bytes:
    """(h, w) uint8, h/w multiples of 8, each 8x8 block constant → baseline
    JFIF grayscale JPEG with exact round-trip. Raises on non-flat blocks."""
    import struct

    h, w = img.shape
    if h % 8 or w % 8:
        raise ValueError("dimensions must be multiples of 8")
    q = np.ones(64, dtype=np.uint8)
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(q.tolist())
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes([1, 0x11, 0])
    dc_payload = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ac_payload = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dc_payload)) + dc_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(ac_payload)) + ac_payload
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])

    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    T = _jpeg_dct_matrix()
    buf, acc, nbits = bytearray(), 0, 0

    def put(value: int, k: int) -> None:
        nonlocal acc, nbits
        for i in range(k - 1, -1, -1):
            acc = (acc << 1) | ((value >> i) & 1)
            nbits += 1
            if nbits == 8:
                buf.append(acc)
                if acc == 0xFF:
                    buf.append(0x00)  # byte stuffing
                acc, nbits = 0, 0

    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            block = img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8].astype(np.float64) - 128.0
            coef = T @ block @ T.T
            zz = np.round(coef.flatten()[_JPEG_ZIGZAG]).astype(np.int64)
            if np.any(zz[1:] != 0):
                raise ValueError("encoder scope: flat 8x8 blocks only")
            diff = int(zz[0]) - prev_dc
            prev_dc = int(zz[0])
            cat = abs(diff).bit_length()
            code, length = dc_codes[cat]
            put(code, length)
            if cat:
                put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
            code, length = ac_codes[0x00]
            put(code, length)
    while nbits:
        put(1, 1)  # pad with 1s per spec
    out += bytes(buf)
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """General baseline grayscale JPEG → (h, w) uint8: markers, DQT/DHT,
    Huffman entropy decode with byte-unstuffing, dequant, de-zigzag, IDCT.
    Raises NotImplementedError on progressive/color/subsampled streams."""
    import struct

    if not payload.startswith(b"\xff\xd8"):
        raise NotImplementedError("not a JPEG payload")
    pos, quant, huff = 2, {}, {}
    h = w = comp_tq = dc_tid = ac_tid = None
    scan_data = None
    while pos < len(payload) - 1:
        if payload[pos] != 0xFF:
            raise ValueError("bad marker framing")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("only baseline (SOF0) JPEG supported")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2: pos + seglen]
        if marker == 0xDB:
            o = 0
            while o < len(body):
                tq = body[o] & 0x0F
                quant[tq] = np.frombuffer(body[o + 1:o + 65], dtype=np.uint8).astype(np.int64)
                o += 65
        elif marker == 0xC0:
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8 or ncomp != 1:
                raise NotImplementedError("only 8-bit single-component (grayscale) supported")
            if body[7] != 0x11:
                raise NotImplementedError("no subsampling support")
            comp_tq = body[8]
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc_th = body[o]
                bits = list(body[o + 1:o + 17])
                nvals = sum(bits)
                vals = list(body[o + 17:o + 17 + nvals])
                huff[tc_th] = {
                    (c, L): sym for sym, (c, L) in _jpeg_canonical_codes(bits, vals).items()
                }
                o += 17 + nvals
        elif marker == 0xDA:
            dc_tid, ac_tid = body[2] >> 4, body[2] & 0x0F
            scan_data = payload[pos + seglen: payload.rfind(b"\xff\xd9")]
            break
        pos += seglen
    if scan_data is None or h is None:
        raise ValueError("truncated JPEG: missing SOS or SOF0")
    q = quant[comp_tq]
    dc_table, ac_table = huff[0x00 | dc_tid], huff[0x10 | ac_tid]

    data, dpos, dacc, dn = scan_data, 0, 0, 0

    def read_bit() -> int:
        nonlocal dpos, dacc, dn
        if dn == 0:
            b = data[dpos]
            dpos += 1
            if b == 0xFF:
                if data[dpos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                dpos += 1
            dacc, dn = b, 8
        dn -= 1
        return (dacc >> dn) & 1

    def read_bits(k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | read_bit()
        return v

    def read_symbol(table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | read_bit()
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid huffman code")

    def extend(v: int, size: int) -> int:
        return v - ((1 << size) - 1) if v < (1 << (size - 1)) else v

    T = _jpeg_dct_matrix()
    inv_zz = np.argsort(_JPEG_ZIGZAG)
    out = np.zeros((h, w), dtype=np.uint8)
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            zz = np.zeros(64, dtype=np.int64)
            cat = read_symbol(dc_table)
            prev_dc += extend(read_bits(cat), cat) if cat else 0
            zz[0] = prev_dc
            k = 1
            while k <= 63:
                sym = read_symbol(ac_table)
                if sym == 0x00:
                    break
                run, size = sym >> 4, sym & 0x0F
                k += run
                if size:
                    zz[k] = extend(read_bits(size), size)
                    k += 1
                elif run != 15:
                    raise ValueError("bad AC symbol")
                else:
                    k += 1
            coef = (zz * q)[inv_zz].reshape(8, 8).astype(np.float64)
            block = T.T @ coef @ T
            out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
                np.round(block + 128.0), 0, 255
            ).astype(np.uint8)
    return out



# --- progressive JPEG (SOF2): DC successive approximation + EOBRUN AC scan --

# EOBn symbols 0x00/0x10/0x20/0x30 at code length 2 — the AC table a
# progressive scan needs when every AC coefficient is zero (EOB runs).
_JPEG_PROG_AC_BITS = [0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PROG_AC_VALS = [0x00, 0x10, 0x20, 0x30]


class _BitWriter:
    def __init__(self) -> None:
        self.buf, self.acc, self.nbits = bytearray(), 0, 0

    def put(self, value: int, k: int) -> None:
        for i in range(k - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc, self.nbits = 0, 0

    def flush(self) -> bytes:
        while self.nbits:
            self.put(1, 1)  # pad with 1s per spec
        return bytes(self.buf)


def encode_jpeg_gray_progressive(img: np.ndarray) -> bytes:
    """(h, w) uint8, flat 8x8 blocks → spec-legal PROGRESSIVE (SOF2)
    grayscale JPEG in three scans: DC first pass with successive
    approximation (Ah=0, Al=1), DC refinement (Ah=1, Al=0), and one AC
    spectral scan (Ss=1..Se=63) that is a single EOBRUN — the minimal
    honest progressive stream for images whose AC energy is zero. Raises
    on non-flat blocks (same scope contract as encode_jpeg_gray_flat)."""
    import struct

    h, w = img.shape
    if h % 8 or w % 8:
        raise ValueError("dimensions must be multiples of 8")
    # per-block DC values (level - 128), flatness enforced
    dcs = []
    for by in range(h // 8):
        for bx in range(w // 8):
            block = img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8].astype(np.int64)
            if not np.all(block == block[0, 0]):
                raise ValueError("encoder scope: flat 8x8 blocks only")
            dcs.append(int(block[0, 0]) * 8 - 1024)  # DCT DC of a flat block / q=1
    q = np.ones(64, dtype=np.uint8)
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(q.tolist())
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes([1, 0x11, 0])
    dc_payload = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ac_payload = bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dc_payload)) + dc_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(ac_payload)) + ac_payload
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    # scan 1: DC first pass, Al=1 — codes DIFFs of (DC >> 1), arithmetic shift
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, (0 << 4) | 1])
    bw = _BitWriter()
    prev = 0
    for dc in dcs:
        v = dc >> 1
        diff = v - prev
        prev = v
        cat = abs(diff).bit_length()
        code, length = dc_codes[cat]
        bw.put(code, length)
        if cat:
            bw.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    out += bw.flush()

    # scan 2: DC refinement, Ah=1 Al=0 — one raw LSB per block, no Huffman
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, (1 << 4) | 0])
    bw = _BitWriter()
    for dc in dcs:
        bw.put(dc & 1, 1)
    out += bw.flush()

    # scan 3: AC spectral 1..63, all zero — one EOBRUN spanning every block
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 1, 63, 0])
    bw = _BitWriter()
    n = len(dcs)
    r = n.bit_length() - 1
    code, length = ac_codes[r << 4]
    bw.put(code, length)
    if r:
        bw.put(n - (1 << r), r)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_gray_progressive(payload: bytes) -> np.ndarray:
    """General progressive (SOF2) grayscale JPEG → (h, w) uint8: multi-scan
    coefficient accumulation — DC first/refinement passes with successive
    approximation, AC spectral-selection scans with EOBRUN/ZRL handling,
    AC successive-approximation refinement — then dequant + IDCT once all
    scans are read."""
    coef, h, w, q = decode_jpeg_progressive_coeffs(payload)
    T = _jpeg_dct_matrix()
    inv_zz = np.argsort(_JPEG_ZIGZAG)
    out = np.zeros((h, w), dtype=np.uint8)
    wb = w // 8
    for b in range(coef.shape[0]):
        by, bx = divmod(b, wb)
        cf = (coef[b] * q)[inv_zz].reshape(8, 8).astype(np.float64)
        block = T.T @ cf @ T
        out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
            np.round(block + 128.0), 0, 255
        ).astype(np.uint8)
    return out


def decode_jpeg_progressive_coeffs(payload: bytes) -> tuple[np.ndarray, int, int, np.ndarray]:
    """Progressive JPEG → the accumulated INTEGER coefficient grid
    ((n_blocks, 64) in zigzag order, quant ids applied downstream), plus
    (h, w, quant table). The coefficient domain is where multi-scan decode
    is exactly checkable — every scan's contribution is integer arithmetic,
    so stats over coefficients hash-match an oracle that replants them."""
    import struct

    if not payload.startswith(b"\xff\xd8"):
        raise NotImplementedError("not a JPEG payload")
    pos, quant, huff = 2, {}, {}
    h = w = comp_tq = None
    coef = None
    while pos < len(payload) - 1:
        if payload[pos] != 0xFF:
            raise ValueError("bad marker framing")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0xC0:
            raise NotImplementedError("baseline stream: use decode_jpeg_gray")
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("only progressive (SOF2) supported here")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2: pos + seglen]
        if marker == 0xDB:
            o = 0
            while o < len(body):
                tq = body[o] & 0x0F
                quant[tq] = np.frombuffer(body[o + 1:o + 65], dtype=np.uint8).astype(np.int64)
                o += 65
        elif marker == 0xC2:
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8 or ncomp != 1:
                raise NotImplementedError("only 8-bit single-component (grayscale) supported")
            if body[7] != 0x11:
                raise NotImplementedError("no subsampling support")
            comp_tq = body[8]
            coef = np.zeros(((h // 8) * (w // 8), 64), dtype=np.int64)
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc_th = body[o]
                bits = list(body[o + 1:o + 17])
                nvals = sum(bits)
                vals = list(body[o + 17:o + 17 + nvals])
                huff[tc_th] = {
                    (c, L): sym for sym, (c, L) in _jpeg_canonical_codes(bits, vals).items()
                }
                o += 17 + nvals
        elif marker == 0xDA:
            if coef is None:
                raise ValueError("SOS before SOF2")
            td_ta, ss, se, ah_al = body[2], body[3], body[4], body[5]
            ah, al = ah_al >> 4, ah_al & 0x0F
            # entropy segment: up to the next true marker (skip stuffed 0x00)
            dstart = pos + seglen
            dend = dstart
            while dend < len(payload) - 1:
                if payload[dend] == 0xFF and payload[dend + 1] not in (0x00,) and not (
                    0xD0 <= payload[dend + 1] <= 0xD7
                ):
                    break
                dend += 1
            _decode_progressive_scan(
                payload[dstart:dend], coef, huff, td_ta, ss, se, ah, al
            )
            pos = dend
            continue
        pos += seglen
    if coef is None or h is None:
        raise ValueError("truncated JPEG: missing SOF2")
    return coef, h, w, quant[comp_tq]


# Canonical table for the AC successive-approximation scans: EOB0..EOB5,
# ZRL, (run<<4 | 1) and (run<<4 | 2) for every run — all length-6 codes
# (39 symbols < 63; compression optimality is irrelevant here).
_JPEG_ACR_BITS = [0, 0, 0, 0, 0, 39, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_ACR_VALS = (
    [r << 4 for r in range(6)]  # EOB0..EOB5
    + [0xF0]  # ZRL
    + [(r << 4) | 1 for r in range(16)]
    + [(r << 4) | 2 for r in range(16)]
)


def encode_jpeg_gray_progressive_coeffs(coef: np.ndarray, h: int, w: int) -> bytes:
    """General-coefficient PROGRESSIVE encoder with AC SUCCESSIVE
    APPROXIMATION — the scan structure real progressive encoders emit
    (libjpeg's default scan script shape): DC first (Al=1) → DC refine →
    AC spectral 1..63 first pass (Al=1, magnitude shift toward zero) →
    AC refinement (Ah=1, Al=0: newly-nonzero ±1 symbols, buffered
    correction bits for history coefficients, cross-block EOB runs).
    ``coef``: (n_blocks, 64) int64, zigzag order, q=1. Supersedes the
    flat-block-only encode_jpeg_gray_progressive for non-flat content."""
    import struct

    coef = np.asarray(coef, dtype=np.int64)
    nblocks = (h // 8) * (w // 8)
    if h % 8 or w % 8 or coef.shape != (nblocks, 64):
        raise ValueError("need (h/8*w/8, 64) zigzag coefficients and multiple-of-8 dims")
    if np.abs(coef[:, 1:]).max(initial=0) > 3:
        raise ValueError("encoder table scope: |AC| <= 3 (first-pass category <= 2)")
    q = np.ones(64, dtype=np.uint8)
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(q.tolist())
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes([1, 0x11, 0])
    dc_payload = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ac_payload = bytes([0x10]) + bytes(_JPEG_ACR_BITS) + bytes(_JPEG_ACR_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dc_payload)) + dc_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(ac_payload)) + ac_payload
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_ACR_BITS, _JPEG_ACR_VALS)

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, ss, se, (ah << 4) | al])

    # scan 1: DC first, Al=1 (arithmetic shift) --------------------------------
    out += sos(0, 0, 0, 1)
    bw = _BitWriter()
    prev = 0
    for b in range(nblocks):
        v = int(coef[b, 0]) >> 1
        diff, prev = v - prev, v
        cat = abs(diff).bit_length()
        code, length = dc_codes[cat]
        bw.put(code, length)
        if cat:
            bw.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    out += bw.flush()

    # scan 2: DC refinement ----------------------------------------------------
    out += sos(0, 0, 1, 0)
    bw = _BitWriter()
    for b in range(nblocks):
        bw.put(int(coef[b, 0]) & 1, 1)
    out += bw.flush()

    # scan 3: AC first pass, Al=1 (magnitude shift toward zero) -----------------
    out += sos(1, 63, 0, 1)
    bw = _BitWriter()
    eobrun = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = ac_codes[r << 4]
            bw.put(code, length)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0

    for b in range(nblocks):
        t = [
            (1 if v > 0 else -1) * (abs(int(v)) >> 1) for v in coef[b, 1:64]
        ]
        nz = [i for i, v in enumerate(t) if v]
        if not nz:
            eobrun += 1
            continue
        flush_eobrun()
        run = 0
        for i in range(nz[-1] + 1):
            v = t[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                bw.put(code, length)
                run -= 16
            cat = abs(v).bit_length()
            code, length = ac_codes[(run << 4) | cat]
            bw.put(code, length)
            bw.put(v if v > 0 else v + (1 << cat) - 1, cat)
            run = 0
        if nz[-1] < 62:  # trailing zeros: this block joins an EOB run
            eobrun += 1
    flush_eobrun()
    out += bw.flush()

    # scan 4: AC refinement, Ah=1 Al=0 (libjpeg encode_mcu_AC_refine shape) -----
    out += sos(1, 63, 1, 0)
    bw = _BitWriter()
    eobrun = 0
    pending_bits: list[int] = []

    def flush_eobrun_refine() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = ac_codes[r << 4]
            bw.put(code, length)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0
        for bit in pending_bits:
            bw.put(bit, 1)
        pending_bits.clear()

    for b in range(nblocks):
        absv = [abs(int(v)) for v in coef[b, 1:64]]
        # last newly-nonzero position (magnitude exactly 1 at this al)
        eob = max((i for i, a in enumerate(absv) if a == 1), default=-1)
        run = 0
        block_bits: list[int] = []
        for i, a in enumerate(absv):
            if a == 0:
                run += 1
                continue
            # ZRLs fire at ANY nonzero position (history included) so each
            # buffered correction bit rides the run segment during whose
            # walk the decoder passes that coefficient — libjpeg's
            # encode_mcu_AC_refine control flow; folding past EOB is left
            # to the EOB run.
            while run > 15 and i <= eob:
                flush_eobrun_refine()
                code, length = ac_codes[0xF0]
                bw.put(code, length)
                run -= 16
                for bit in block_bits:
                    bw.put(bit, 1)
                block_bits = []
            if a > 1:  # history coefficient: buffer its correction bit
                block_bits.append(a & 1)
                continue
            # newly nonzero (±1)
            flush_eobrun_refine()
            code, length = ac_codes[(run << 4) | 1]
            bw.put(code, length)
            bw.put(1 if coef[b, 1 + i] > 0 else 0, 1)
            for bit in block_bits:
                bw.put(bit, 1)
            block_bits = []
            run = 0
        if run > 0 or block_bits:  # tail folds into a cross-block EOB run
            eobrun += 1
            pending_bits.extend(block_bits)
        elif eob >= 0 or any(absv):
            pass  # block fully coded by symbols above
        else:
            eobrun += 1  # all-zero band joins the EOB run
    flush_eobrun_refine()
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _decode_progressive_scan(data, coef, huff, td_ta, ss, se, ah, al) -> None:
    nblocks = coef.shape[0]
    state = {"pos": 0, "acc": 0, "n": 0}

    def read_bit() -> int:
        if state["n"] == 0:
            b = data[state["pos"]]
            state["pos"] += 1
            if b == 0xFF:
                if data[state["pos"]] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                state["pos"] += 1
            state["acc"], state["n"] = b, 8
        state["n"] -= 1
        return (state["acc"] >> state["n"]) & 1

    def read_bits(k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | read_bit()
        return v

    def read_symbol(table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | read_bit()
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid huffman code")

    def extend(v: int, size: int) -> int:
        return v - ((1 << size) - 1) if v < (1 << (size - 1)) else v

    if ss == 0:  # DC scan (se must be 0 per spec)
        if ah == 0:  # first pass: Huffman diff coding of DC >> al
            dc_table = huff[0x00 | (td_ta >> 4)]
            pred = 0
            for b in range(nblocks):
                cat = read_symbol(dc_table)
                pred += extend(read_bits(cat), cat) if cat else 0
                coef[b, 0] = pred << al
        else:  # refinement: one raw bit per block at position al
            for b in range(nblocks):
                coef[b, 0] += read_bit() << al
        return
    ac_table = huff[0x10 | (td_ta & 0x0F)]
    if ah != 0:
        # AC successive-approximation REFINEMENT (spec Annex G.1.2.3, the
        # libjpeg decode_mcu_AC_refine control flow): Huffman symbols code
        # runs of ZERO-HISTORY positions and newly-nonzero ±1 coefficients;
        # every already-nonzero coefficient encountered while walking a run
        # (or inside an EOB run) carries one raw correction bit that, when
        # set, grows the magnitude by 2^al exactly once per pass.
        p1, m1 = 1 << al, -(1 << al)

        def correct(b: int, k: int) -> None:
            if read_bit() and (coef[b, k] & p1) == 0:
                coef[b, k] += p1 if coef[b, k] >= 0 else m1

        eobrun = 0
        for b in range(nblocks):
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = read_symbol(ac_table)
                    run, size = sym >> 4, sym & 0x0F
                    s_val = 0
                    if size == 0:
                        if run < 15:  # EOBn: run covers this + next blocks
                            eobrun = (1 << run) + (read_bits(run) if run else 0)
                            break
                        # ZRL: 16 zero-history positions, s_val stays 0
                    else:
                        if size != 1:
                            raise ValueError("refinement scan codes only size-1 symbols")
                        s_val = p1 if read_bit() else m1
                    while k <= se:
                        if coef[b, k] != 0:
                            correct(b, k)
                        else:
                            if run == 0:
                                break
                            run -= 1
                        k += 1
                    if s_val and k <= se:
                        coef[b, k] = s_val
                    k += 1
            if eobrun > 0:
                while k <= se:  # correction bits through the end of band
                    if coef[b, k] != 0:
                        correct(b, k)
                    k += 1
                eobrun -= 1
        return
    eobrun = 0
    for b in range(nblocks):
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = read_symbol(ac_table)
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << run) + (read_bits(run) if run else 0) - 1
                break
            k += run
            coef[b, k] = extend(read_bits(size), size) << al
            k += 1


def jpeg_progressive_stats(media: DataFrame) -> DataFrame:
    """REAL progressive JPEG decode: multi-scan coefficient accumulation
    per payload, emitting parsed geometry + exact mean gray (same output
    contract and oracle as the baseline path — the two formats must decode
    to identical statistics)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_jpeg_gray_progressive(bytes(r.payload))
                rows.append(
                    (r.media_id, img.shape[1], img.shape[0], float(img.mean(dtype=np.float64)))
                )
            yield pd.DataFrame(rows, columns=["media_id", "img_w", "img_h", "mean_gray"])

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run, schema="media_id bigint, img_w int, img_h int, mean_gray double"
    )
    return out.select("media_id", "img_w", "img_h", "mean_gray")


def synthetic_jpeg_images(
    spark: SparkSession,
    source_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    encoder=None,
) -> DataFrame:
    """Real grayscale JPEGs whose 8x8 blocks each carry one gray level from
    the SQL-reconstructable text formula (block (by,bx) = ASCII code of
    char by*wb+bx of the rpad-repeated sanitized text; wb = 1 + id % 2,
    hb = 1 + id % 3 blocks). Flat blocks make the lossy format exact here,
    so decoded statistics remain oracle-checkable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                wb, hb = 1 + doc_id % 2, 1 + doc_id % 3
                body = re.sub(r"[^ -~]", "x", text) or "x"
                n = wb * hb
                levels = (body * (n // len(body) + 1))[:n].encode("ascii")
                grid = np.frombuffer(levels, dtype=np.uint8).reshape(hb, wb)
                img = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
                enc = encoder or encode_jpeg_gray_flat
                rows.append((doc_id, wb * 8, hb * 8, enc(img)))
            yield pd.DataFrame(rows, columns=["media_id", "meta_width", "meta_height", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_width int, meta_height int, payload binary"
    )


def jpeg_decode_stats(media: DataFrame) -> DataFrame:
    """REAL JPEG decode: full Huffman + IDCT pipeline per payload, emitting
    parsed geometry and the exact mean gray level of the decoded image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_jpeg_gray(bytes(r.payload))
                rows.append(
                    (r.media_id, img.shape[1], img.shape[0], float(img.mean(dtype=np.float64)))
                )
            yield pd.DataFrame(rows, columns=["media_id", "img_w", "img_h", "mean_gray"])

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run, schema="media_id bigint, img_w int, img_h int, mean_gray double"
    )
    return out.select("media_id", "img_w", "img_h", "mean_gray")


# --- color (YCbCr 4:2:0) baseline JPEG ------------------------------------
#
# Same public-spec ground as the grayscale codec (ITU T.81 baseline DCT +
# JFIF YCbCr), extended to three components with 2x2 luma sampling — the
# layout virtually every camera/web color JPEG uses. Flat 16x16 MCUs keep
# the lossy format exactly round-trippable (every 8x8 block, luma and
# subsampled chroma alike, is constant, so only DC coefficients survive the
# DCT and quantization by 1 is exact), which keeps decoded statistics
# oracle-checkable. The decoder is general for baseline 4:2:0 streams: full
# interleaved-MCU Huffman decode, per-component DC prediction, dequant,
# IDCT, nearest-neighbor chroma upsample, integer YCbCr->RGB.


def encode_jpeg_color_flat(ycbcr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 Y/Cb/Cr planes, h/w multiples of 16, each 16x16 MCU
    constant in all three channels → baseline JFIF color JPEG (Y 2x2, Cb/Cr
    1x1 = 4:2:0) with exact round-trip. Raises on non-flat MCUs."""
    import struct

    h, w, nc = ycbcr.shape
    if nc != 3:
        raise ValueError("expected (h, w, 3) YCbCr")
    if h % 16 or w % 16:
        raise ValueError("dimensions must be multiples of 16 (one flat MCU each)")
    mcus_y, mcus_x = h // 16, w // 16
    grid = ycbcr[::16, ::16, :].astype(np.int64)
    if not (ycbcr == np.kron(grid, np.ones((16, 16, 1))).astype(np.uint8)).all():
        raise ValueError("encoder scope: flat 16x16 MCUs only")

    q = np.ones(64, dtype=np.uint8)
    out = bytearray()
    out += b"\xff\xd8"
    for tq in (0, 1):  # separate luma/chroma tables, as real encoders emit
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(q.tolist())
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += bytes([1, 0x22, 0])  # Y: 2x2 sampling, luma quant table
    out += bytes([2, 0x11, 1])  # Cb
    out += bytes([3, 0x11, 1])  # Cr
    dc_payload = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ac_payload = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dc_payload)) + dc_payload
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(ac_payload)) + ac_payload
    out += b"\xff\xda" + struct.pack(">H", 12) + bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])

    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    buf, acc, nbits = bytearray(), 0, 0

    def put(value: int, k: int) -> None:
        nonlocal acc, nbits
        for i in range(k - 1, -1, -1):
            acc = (acc << 1) | ((value >> i) & 1)
            nbits += 1
            if nbits == 8:
                buf.append(acc)
                if acc == 0xFF:
                    buf.append(0x00)  # byte stuffing
                acc, nbits = 0, 0

    def put_block(value: int, prev_dc: int) -> int:
        dc = 8 * (value - 128)  # DCT DC of a flat block; all AC are 0
        diff = dc - prev_dc
        cat = abs(diff).bit_length()
        code, length = dc_codes[cat]
        put(code, length)
        if cat:
            put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        code, length = ac_codes[0x00]
        put(code, length)  # EOB
        return dc

    prev = [0, 0, 0]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            yv, cbv, crv = (int(grid[my, mx, c]) for c in range(3))
            for _ in range(4):  # 2x2 luma blocks, all flat at yv
                prev[0] = put_block(yv, prev[0])
            prev[1] = put_block(cbv, prev[1])
            prev[2] = put_block(crv, prev[2])
    while nbits:
        put(1, 1)  # pad with 1s per spec
    out += bytes(buf)
    out += b"\xff\xd9"
    return bytes(out)


def ycbcr_to_rgb(ycbcr: np.ndarray) -> np.ndarray:
    """JFIF integer conversion, floor(x + 0.5) so the rounding rule is
    reproducible in SQL (DuckDB floor) — numpy round would be banker's."""
    y = ycbcr[..., 0].astype(np.float64)
    cb = ycbcr[..., 1].astype(np.float64)
    cr = ycbcr[..., 2].astype(np.float64)
    # association order mirrors the oracle SQL expressions exactly
    r = np.floor((y + 1.402 * (cr - 128.0)) + 0.5)
    g = np.floor(((y - 0.344136 * (cb - 128.0)) - 0.714136 * (cr - 128.0)) + 0.5)
    b = np.floor((y + 1.772 * (cb - 128.0)) + 0.5)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def decode_jpeg_color(payload: bytes) -> np.ndarray:
    """General baseline 4:2:0 color JPEG → (h, w, 3) uint8 RGB: markers,
    DQT/DHT, interleaved-MCU Huffman decode with per-component DC
    predictors, dequant, de-zigzag, IDCT, chroma upsample, YCbCr→RGB.
    Raises NotImplementedError on progressive / non-4:2:0 streams (use
    ``decode_jpeg_gray`` for single-component)."""
    import struct

    if not payload.startswith(b"\xff\xd8"):
        raise NotImplementedError("not a JPEG payload")
    pos, quant, huff = 2, {}, {}
    h = w = None
    comps = []  # (cid, hsamp, vsamp, tq)
    scan_ids = []  # (cid, td, ta) in scan order
    scan_data = None
    while pos < len(payload) - 1:
        if payload[pos] != 0xFF:
            raise ValueError("bad marker framing")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("only baseline (SOF0) JPEG supported")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2: pos + seglen]
        if marker == 0xDB:
            o = 0
            while o < len(body):
                tq = body[o] & 0x0F
                quant[tq] = np.frombuffer(body[o + 1:o + 65], dtype=np.uint8).astype(np.int64)
                o += 65
        elif marker == 0xC0:
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8 or ncomp != 3:
                raise NotImplementedError("decode_jpeg_color: 8-bit 3-component only")
            for c in range(3):
                cid, samp, tq = body[6 + 3 * c: 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            if comps[0][1:3] != (2, 2) or any(c[1:3] != (1, 1) for c in comps[1:]):
                raise NotImplementedError("only 4:2:0 (Y 2x2, chroma 1x1) supported")
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc_th = body[o]
                bits = list(body[o + 1:o + 17])
                nvals = sum(bits)
                vals = list(body[o + 17:o + 17 + nvals])
                huff[tc_th] = {
                    (c, L): sym for sym, (c, L) in _jpeg_canonical_codes(bits, vals).items()
                }
                o += 17 + nvals
        elif marker == 0xDA:
            ns = body[0]
            for c in range(ns):
                scan_ids.append((body[1 + 2 * c], body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F))
            scan_data = payload[pos + seglen: payload.rfind(b"\xff\xd9")]
            break
        pos += seglen
    if scan_data is None or h is None or len(scan_ids) != 3:
        raise ValueError("truncated JPEG: missing SOS or SOF0")

    data, dpos, dacc, dn = scan_data, 0, 0, 0

    def read_bit() -> int:
        nonlocal dpos, dacc, dn
        if dn == 0:
            b = data[dpos]
            dpos += 1
            if b == 0xFF:
                if data[dpos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                dpos += 1
            dacc, dn = b, 8
        dn -= 1
        return (dacc >> dn) & 1

    def read_bits(k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | read_bit()
        return v

    def read_symbol(table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | read_bit()
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid huffman code")

    def extend(v: int, size: int) -> int:
        return v - ((1 << size) - 1) if v < (1 << (size - 1)) else v

    T = _jpeg_dct_matrix()
    inv_zz = np.argsort(_JPEG_ZIGZAG)
    mcus_x, mcus_y = (w + 15) // 16, (h + 15) // 16
    by_cid = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    planes = {}
    tables = {}
    for cid, td, ta in scan_ids:
        hs, vs, _tq = by_cid[cid]
        planes[cid] = np.zeros((mcus_y * vs * 8, mcus_x * hs * 8), dtype=np.uint8)
        tables[cid] = (huff[0x00 | td], huff[0x10 | ta])
    prev_dc = {cid: 0 for cid, _, _ in scan_ids}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for cid, _td, _ta in scan_ids:
                hs, vs, tq = by_cid[cid]
                dc_table, ac_table = tables[cid]
                q = quant[tq]
                for v in range(vs):
                    for hh in range(hs):
                        zz = np.zeros(64, dtype=np.int64)
                        cat = read_symbol(dc_table)
                        prev_dc[cid] += extend(read_bits(cat), cat) if cat else 0
                        zz[0] = prev_dc[cid]
                        k = 1
                        while k <= 63:
                            sym = read_symbol(ac_table)
                            if sym == 0x00:
                                break
                            run, size = sym >> 4, sym & 0x0F
                            k += run
                            if size:
                                zz[k] = extend(read_bits(size), size)
                                k += 1
                            elif run != 15:
                                raise ValueError("bad AC symbol")
                            else:
                                k += 1
                        coef = (zz * q)[inv_zz].reshape(8, 8).astype(np.float64)
                        block = T.T @ coef @ T
                        py, px = (my * vs + v) * 8, (mx * hs + hh) * 8
                        planes[cid][py:py + 8, px:px + 8] = np.clip(
                            np.round(block + 128.0), 0, 255
                        ).astype(np.uint8)
    y_cid, cb_cid, cr_cid = (cid for cid, _, _ in scan_ids)
    yp = planes[y_cid][:h, :w]
    up = np.ones((2, 2), dtype=np.uint8)
    cbp = np.kron(planes[cb_cid], up)[:h, :w]
    crp = np.kron(planes[cr_cid], up)[:h, :w]
    return ycbcr_to_rgb(np.stack([yp, cbp, crp], axis=-1))


def synthetic_color_jpeg_images(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Real 4:2:0 color JPEGs whose 16x16 MCUs each carry one YCbCr triple
    from the SQL-reconstructable text formula: MCU i (row-major over a
    wb = 1 + id % 2 by hb = 1 + id % 3 grid) has y = ASCII code of char i
    of the rpad-repeated sanitized text, cb = (y*5) % 256, cr = (y*11) %
    256. Flat MCUs make the lossy format exact here, so decoded RGB
    statistics remain oracle-checkable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                wb, hb = 1 + doc_id % 2, 1 + doc_id % 3
                body = re.sub(r"[^ -~]", "x", text) or "x"
                n = wb * hb
                levels = (body * (n // len(body) + 1))[:n].encode("ascii")
                y = np.frombuffer(levels, dtype=np.uint8).reshape(hb, wb).astype(np.int64)
                grid = np.stack([y, (y * 5) % 256, (y * 11) % 256], axis=-1)
                img = np.kron(grid, np.ones((16, 16, 1))).astype(np.uint8)
                rows.append((doc_id, wb * 16, hb * 16, encode_jpeg_color_flat(img)))
            yield pd.DataFrame(rows, columns=["media_id", "meta_width", "meta_height", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_width int, meta_height int, payload binary"
    )


def jpeg_color_stats(media: DataFrame) -> DataFrame:
    """REAL color JPEG decode: interleaved Huffman + IDCT + chroma upsample
    + YCbCr→RGB per payload, emitting geometry and exact per-channel means
    of the decoded RGB image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rgb = decode_jpeg_color(bytes(r.payload))
                rows.append(
                    (
                        r.media_id,
                        rgb.shape[1],
                        rgb.shape[0],
                        float(rgb[..., 0].mean(dtype=np.float64)),
                        float(rgb[..., 1].mean(dtype=np.float64)),
                        float(rgb[..., 2].mean(dtype=np.float64)),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "img_w", "img_h", "mean_r", "mean_g", "mean_b"]
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema="media_id bigint, img_w int, img_h int, mean_r double, mean_g double, mean_b double",
    )
    return out.select(
        "media_id",
        "img_w",
        "img_h",
        "mean_r",
        "mean_g",
        "mean_b",
    )


# --- container-routed REAL feature extraction ------------------------------


def decode_image_auto(payload: bytes) -> np.ndarray:
    """Sniff the container by magic bytes and run the matching REAL decoder
    (P6 PPM, PNG, baseline JPEG gray or 4:2:0 color, GIF87a/89a LZW) — the
    dispatch a mixed media column needs. Returns the decoded pixel array
    ((h, w) gray or (h, w, 3) color). Raises NotImplementedError for
    containers without an in-repo codec (compressed A/V stays honestly
    stubbed)."""
    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload.startswith(_PNG_SIG):
        return decode_png(payload)
    if payload.startswith(b"\xff\xd8"):
        try:
            return decode_jpeg_gray(payload)
        except NotImplementedError:
            return decode_jpeg_color(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_gray(payload)
    raise NotImplementedError("unrecognized media container")


def media_features_real(media: DataFrame) -> DataFrame:
    """media → (media_id, container, features ARRAY<FLOAT>, mean_px) where
    features is the 32-bin L1-normalized histogram of DECODED pixel bytes —
    the real-codec promotion of :func:`extract_features`'s fake path (same
    feature contract, but computed from actual decoded images)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                p = bytes(r.payload)
                if p.startswith(b"P6"):
                    container = "ppm"
                elif p.startswith(_PNG_SIG):
                    container = "png"
                elif p.startswith(b"\xff\xd8"):
                    container = "jpeg"
                elif p[:6] in (b"GIF87a", b"GIF89a"):
                    container = "gif"
                else:
                    container = "unknown"
                img = decode_image_auto(p)
                flat = img.reshape(-1)
                hist, _ = np.histogram(flat, bins=FEATURE_DIM, range=(0, 256))
                total = hist.sum()
                feats = (hist / total if total else hist).astype(np.float32)
                rows.append(
                    (r.media_id, container, feats.tolist(), float(flat.mean(dtype=np.float64)))
                )
            yield pd.DataFrame(rows, columns=["media_id", "container", "features", "mean_px"])

    return ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema="media_id bigint, container string, features array<float>, mean_px double",
    )


# --- REAL audio path: WAV / RIFF PCM (pure-stdlib container) ---------------
#
# Like PPM for images, canonical PCM WAV needs no codec: the payload is a
# RIFF header + fmt chunk + raw little-endian samples, so parsing it is a
# genuinely real decode (public RIFF/WAVE spec). Retires the audio side of
# the fake-decoder stub; compressed audio (MP3/AAC/Opus) stays honestly
# stubbed behind decode_image_auto's NotImplementedError.


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """(n,) int16 mono PCM → canonical 44-byte-header WAV."""
    import struct

    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV → ((n,) int16 samples, sample_rate). Walks RIFF chunks (not a
    fixed 44-byte assumption), validates PCM/mono/16-bit, raises
    NotImplementedError on compressed or multichannel streams."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        tag, size = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8: pos + 8 + size]
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated WAV: missing fmt or data chunk")
    audio_format, channels, rate, _byterate, _align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError("only PCM (format 1) WAV supported")
    if channels != 1 or bits != 16:
        raise NotImplementedError("only 16-bit mono supported")
    return np.frombuffer(data, dtype="<i2"), rate


def synthetic_wav_audio(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Real PCM WAVs whose samples follow an SQL-reconstructable formula:
    n = 64 + 32 * (id % 5) samples at 8 kHz, sample i = ascii code of char
    i of the sanitized rpad-repeated text times 256 minus 16384 (spreading
    printable ASCII over the int16 range)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                n = 64 + 32 * (doc_id % 5)
                body = re.sub(r"[^ -~]", "x", text) or "x"
                chars = (body * (n // len(body) + 1))[:n].encode("ascii")
                samples = np.frombuffer(chars, dtype=np.uint8).astype(np.int64) * 256 - 16384
                rows.append((doc_id, n, encode_wav(samples.astype(np.int16))))
            yield pd.DataFrame(rows, columns=["media_id", "meta_samples", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_samples int, payload binary"
    )


def wav_decode_stats(media: DataFrame) -> DataFrame:
    """REAL WAV decode: RIFF chunk walk + PCM parse per payload, emitting
    parsed geometry and exact amplitude statistics of the decoded samples
    (mean and RMS — int sums are exact in float64, sqrt is IEEE-identical
    across engines, rounding happens in Spark)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                samples, rate = decode_wav(bytes(r.payload))
                s = samples.astype(np.float64)
                rows.append(
                    (
                        r.media_id,
                        int(rate),
                        int(samples.size),
                        float(samples.size * 1000.0 / rate),
                        float(s.mean()),
                        float(np.sqrt((s * s).mean())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples", "duration_ms", "mean_amp", "rms"],
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, sample_rate int, n_samples int, "
            "duration_ms double, mean_amp double, rms double"
        ),
    )
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "duration_ms",
        "mean_amp",
        "rms",
    )


def wav_downsample_stats(media: DataFrame, factor: int = 4) -> DataFrame:
    """REAL audio resample (integer decimation): decode each PCM WAV, keep
    every ``factor``-th sample (no anti-alias filter — plain decimation,
    the deterministic baseline a resampler library would refine), and emit
    the decimated stream's geometry and amplitude statistics.  The
    round-trip is real — decimated samples re-encode through
    :func:`encode_wav` and re-decode before measuring, so the container
    write path is exercised too.  Int sums are exact in float64; sqrt is
    IEEE-identical; rounding happens in Spark.

    Degenerate inputs fail loudly or safely, not abruptly: a sample rate
    not divisible by ``factor`` raises ValueError (silent ``rate//factor``
    truncation would misreport the output rate), and a stream shorter than
    ``factor`` emits zero-amplitude stats instead of NaN means."""
    if factor < 1:
        raise ValueError(f"decimation factor must be >= 1, got {factor}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                samples, rate = decode_wav(bytes(r.payload))
                if rate % factor != 0:
                    raise ValueError(
                        f"media {r.media_id}: sample rate {rate} not divisible by "
                        f"decimation factor {factor}; pick a divisor of the rate"
                    )
                dec = samples[::factor]
                if dec.size == 0:
                    rows.append((r.media_id, int(samples.size), 0, rate // factor, 0.0, 0.0))
                    continue
                # real write→read round-trip of the decimated stream
                dec2, rate2 = decode_wav(encode_wav(dec.astype(np.int16), rate // factor))
                if not np.array_equal(dec, dec2):
                    raise ValueError(f"media {r.media_id}: WAV round-trip mismatch")
                s = dec2.astype(np.float64)
                rows.append(
                    (
                        r.media_id,
                        int(samples.size),
                        int(dec2.size),
                        int(rate2),
                        float(s.mean()),
                        float(np.sqrt((s * s).mean())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_in", "n_out", "out_rate", "mean_amp", "rms"],
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, n_in int, n_out int, out_rate int, "
            "mean_amp double, rms double"
        ),
    )
    return out.select(
        "media_id",
        "n_in",
        "n_out",
        "out_rate",
        "mean_amp",
        "rms",
    )


# --- REAL video path: Y4M / YUV4MPEG2 (pure-stdlib container) --------------
#
# YUV4MPEG2 is the standard uncompressed video interchange format (what
# ffmpeg/mjpegtools pipe raw video through): a text header + per-frame raw
# YUV planes — parseable without any codec, so frame extraction over it is
# a genuinely real decode. Retires the video side of the fake frame
# sampler; compressed video (H.264/VP9/AV1) stays honestly stubbed.


def encode_y4m(frames: np.ndarray, fps: int = 25) -> bytes:
    """(n, h, w, 3) uint8 YUV (4:4:4) → YUV4MPEG2 stream."""
    n, h, w, nc = frames.shape
    if nc != 3:
        raise ValueError("expected (n, h, w, 3) YUV frames")
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C444\n".encode())
    for f in range(n):
        out += b"FRAME\n"
        for c in range(3):  # planar: full Y, then U, then V
            out += frames[f, :, :, c].astype(np.uint8).tobytes()
    return bytes(out)


def decode_y4m(payload: bytes) -> tuple[np.ndarray, int]:
    """YUV4MPEG2 → ((n, h, w, 3) uint8 YUV frames, fps_numerator). Parses
    the parameter header and FRAME markers; raises NotImplementedError on
    subsampled colorspaces (C420*/C422) — this repo's real path is C444."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise NotImplementedError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = fps = None
    cspace = "C420jpeg"  # the format's documented default when absent
    for tok in payload[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("F"):
            fps = int(t[1:].split(":")[0])
        elif t.startswith("C"):
            cspace = t
    if w is None or h is None:
        raise ValueError("truncated Y4M: missing W or H")
    if cspace != "C444":
        raise NotImplementedError(f"only C444 (unsubsampled) supported, got {cspace}")
    pos, frame_bytes, frames = nl + 1, w * h * 3, []
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        raw = payload[fnl + 1: fnl + 1 + frame_bytes]
        if len(raw) < frame_bytes:
            raise ValueError("truncated frame")
        planes = np.frombuffer(raw, dtype=np.uint8).reshape(3, h, w)
        frames.append(np.stack([planes[0], planes[1], planes[2]], axis=-1))
        pos = fnl + 1 + frame_bytes
    return np.stack(frames), int(fps or 25)


def synthetic_y4m_videos(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Real Y4M streams of n = 2 + id % 3 flat frames, w = 8 + id % 3,
    h = 8 + id % 2: frame f has Y = ascii code of char f of the sanitized
    rpad-repeated text, U = (Y*5) % 256, V = (Y*11) % 256 — the same
    SQL-reconstructable channel formula as the color JPEGs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                nf, w, h = 2 + doc_id % 3, 8 + doc_id % 3, 8 + doc_id % 2
                body = re.sub(r"[^ -~]", "x", text) or "x"
                chars = (body * (nf // len(body) + 1))[:nf].encode("ascii")
                y = np.frombuffer(chars, dtype=np.uint8).astype(np.int64)
                frames = np.zeros((nf, h, w, 3), dtype=np.uint8)
                frames[..., 0] = y[:, None, None]
                frames[..., 1] = ((y * 5) % 256)[:, None, None]
                frames[..., 2] = ((y * 11) % 256)[:, None, None]
                rows.append((doc_id, nf, w, h, encode_y4m(frames)))
            yield pd.DataFrame(
                rows, columns=["media_id", "meta_frames", "meta_width", "meta_height", "payload"]
            )

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run,
        schema="media_id bigint, meta_frames int, meta_width int, meta_height int, payload binary",
    )


def y4m_frame_sample(media: DataFrame, num_frames: int = 2) -> DataFrame:
    """REAL frame sampling: decode each Y4M stream, pick ``num_frames``
    evenly spaced frames (frame_no = floor(n*i/num_frames) — the fake
    sampler's spacing rule, now over genuinely decoded frames), and emit
    exact per-channel means of each sampled frame."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                frames, _fps = decode_y4m(bytes(r.payload))
                n = frames.shape[0]
                for i in range(num_frames):
                    fno = (n * i) // num_frames
                    fr = frames[fno].astype(np.float64)
                    rows.append(
                        (
                            r.media_id,
                            i,
                            fno,
                            n,
                            float(fr[..., 0].mean()),
                            float(fr[..., 1].mean()),
                            float(fr[..., 2].mean()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_idx", "frame_no", "n_frames", "mean_y", "mean_u", "mean_v"],
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, sample_idx int, frame_no int, n_frames int, "
            "mean_y double, mean_u double, mean_v double"
        ),
    )
    return out.select(
        "media_id",
        "sample_idx",
        "frame_no",
        "n_frames",
        F.round("mean_y", 4).alias("mean_y"),
        F.round("mean_u", 4).alias("mean_u"),
        F.round("mean_v", 4).alias("mean_v"),
    )


def y4m_scene_cuts(media: DataFrame, threshold: float = 32.0) -> DataFrame:
    """REAL scene-change detection: decode every frame of each Y4M stream
    and emit, per consecutive frame pair, the mean absolute Y-plane
    difference and a cut flag (diff > threshold) — the standard
    shot-boundary heuristic video pipelines run before sampling keyframes.
    The per-pair diff is a mean of integer absolute differences, exact in
    float64 and engine-reproducible; rounding happens in Spark."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                frames, _fps = decode_y4m(bytes(r.payload))
                n = frames.shape[0]
                y = frames[..., 0].astype(np.int64)
                for f in range(n - 1):
                    diff = float(np.abs(y[f + 1] - y[f]).mean())
                    rows.append((r.media_id, f, f + 1, n, diff))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_a", "frame_b", "n_frames", "y_diff"],
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema="media_id bigint, frame_a int, frame_b int, n_frames int, y_diff double",
    )
    return out.select(
        "media_id",
        "frame_a",
        "frame_b",
        "n_frames",
        F.round("y_diff", 4).alias("y_diff"),
        (F.col("y_diff") > F.lit(threshold)).alias("is_cut"),
    )


# ---------------------------------------------------------------------------
# IMA ADPCM — a REAL compressed audio codec (4 bits/sample), oracle-checked
# ---------------------------------------------------------------------------
# Retires part of the "compressed media all stubbed" gap honestly: IMA/DVI
# ADPCM (the standard WAV wFormatTag=0x11 codec) is a pure integer state
# machine — adaptive step-size quantization with a (predictor, step-index)
# state folded over the sample stream. Both the encoder and the decoder
# are exact integer folds, and in IMA the encoder's reconstructed predictor
# IS the decoded value — so encode→decode is replayable as ONE fold in SQL
# (the list_reduce discipline that oracles EWMA/Holt/next-fit), making this
# the rare compressed codec with a hash-green oracle. MP3/AAC/H.264 remain
# honestly stubbed (frequency-domain codecs; no such fold exists).

_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
    45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
    209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724,
    796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272,
    2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132,
    7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
    20350, 22385, 24623, 27086, 29794, 32767,
]
_ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_fold(sample: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One IMA quantize+reconstruct step: returns (nibble, pred', idx').
    ``pred'`` is both the encoder's new predictor and the decoded sample."""
    step = _ADPCM_STEPS[idx]
    diff = sample - pred
    nibble = 8 if diff < 0 else 0
    a = -diff if diff < 0 else diff
    if a >= step:
        nibble |= 4
        a -= step
    if a >= step >> 1:
        nibble |= 2
        a -= step >> 1
    if a >= step >> 2:
        nibble |= 1
    delta = step >> 3
    if nibble & 4:
        delta += step
    if nibble & 2:
        delta += step >> 1
    if nibble & 1:
        delta += step >> 2
    pred = pred - delta if nibble & 8 else pred + delta
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _ADPCM_INDEX[nibble & 7]))
    return nibble, pred, idx


def encode_adpcm_ima(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """(n,) int16 mono PCM → RIFF/WAVE wFormatTag=0x11 (IMA ADPCM), one
    block spanning the stream: 4-byte block header (initial predictor =
    sample 0, initial step index 0) + one 4-bit nibble per remaining
    sample, low nibble first, zero-padded to a byte; a ``fact`` chunk
    carries the true sample count as the WAV spec requires for compressed
    formats."""
    import struct

    samples = np.asarray(samples, dtype=np.int64)
    if samples.size == 0:
        raise ValueError("cannot encode an empty stream")
    pred, idx = int(samples[0]), 0
    nibbles = []
    for s in samples[1:]:
        nib, pred, idx = _adpcm_fold(int(s), pred, idx)
        nibbles.append(nib)
    if len(nibbles) % 2:
        nibbles.append(0)  # byte padding; fact chunk holds the true count
    block = bytearray(struct.pack("<hBB", int(samples[0]), 0, 0))
    for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
        block.append(lo | (hi << 4))
    n = int(samples.size)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate, sample_rate // 2, len(block), 4, 2, n
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 4 + 8 + len(block))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n)
        + b"data" + struct.pack("<I", len(block)) + bytes(block)
    )


def decode_adpcm_ima(payload: bytes) -> tuple[np.ndarray, int]:
    """IMA-ADPCM WAV → ((n,) int16 decoded samples, sample_rate). Real
    decompression: adaptive step reconstruction from 4-bit codes."""
    samples, rate, _ = decode_adpcm_ima_ex(payload)
    return samples, rate


def decode_adpcm_ima_ex(payload: bytes) -> tuple[np.ndarray, int, int]:
    """Like :func:`decode_adpcm_ima` but also returns the maximum step
    index the adapter reached — an exact integer statistic of how hard the
    quantizer had to adapt."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos, fmt, data, n_samples = 12, None, None, None
    while pos + 8 <= len(payload):
        tag, size = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8: pos + 8 + size]
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"fact":
            n_samples = struct.unpack_from("<I", body, 0)[0]
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None or n_samples is None:
        raise ValueError("truncated ADPCM WAV: missing fmt, fact, or data chunk")
    audio_format, channels, rate, _br, _ba, bits = fmt
    if audio_format != 0x11:
        raise NotImplementedError("only IMA ADPCM (format 0x11) supported here")
    if channels != 1 or bits != 4:
        raise NotImplementedError("only 4-bit mono IMA ADPCM supported")
    pred, idx = struct.unpack_from("<hB", data, 0)
    out = [pred]
    max_idx = idx
    need = n_samples - 1
    for byte in data[4:]:
        for nib in (byte & 0xF, byte >> 4):
            if len(out) - 1 >= need:
                break
            step = _ADPCM_STEPS[idx]
            delta = step >> 3
            if nib & 4:
                delta += step
            if nib & 2:
                delta += step >> 1
            if nib & 1:
                delta += step >> 2
            pred = pred - delta if nib & 8 else pred + delta
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _ADPCM_INDEX[nib & 7]))
            max_idx = max(max_idx, idx)
            out.append(pred)
    return np.asarray(out, dtype=np.int16), rate, max_idx


def synthetic_adpcm_audio(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Real IMA-ADPCM WAVs compressed from the same SQL-reconstructable PCM
    formula as synthetic_wav_audio (n = 64 + 32·(id%5) samples; sample i =
    ascii(char i of the sanitized rpad text)·256 − 16384), so the lossy
    decoded stream is reproducible by replaying the integer fold in SQL."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                n = 64 + 32 * (doc_id % 5)
                body = re.sub(r"[^ -~]", "x", text) or "x"
                chars = (body * (n // len(body) + 1))[:n].encode("ascii")
                samples = np.frombuffer(chars, dtype=np.uint8).astype(np.int64) * 256 - 16384
                rows.append((doc_id, n, encode_adpcm_ima(samples.astype(np.int16))))
            yield pd.DataFrame(rows, columns=["media_id", "meta_samples", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_samples int, payload binary"
    )


def adpcm_decode_stats(media: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: IMA-ADPCM reconstruction per payload,
    emitting decoded-stream geometry and amplitude statistics plus the
    maximum step index the adapter reached (an integer that exercises the
    whole adaptation path). Int sums exact in float64; rounding in Spark."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                dec, rate, max_idx = decode_adpcm_ima_ex(bytes(r.payload))
                s = dec.astype(np.float64)
                rows.append(
                    (
                        r.media_id,
                        int(dec.size),
                        int(rate),
                        float(s.mean()),
                        float(np.sqrt((s * s).mean())),
                        int(max_idx),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "sample_rate", "mean_dec", "rms_dec", "max_step_idx"],
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, n_samples int, sample_rate int, "
            "mean_dec double, rms_dec double, max_step_idx int"
        ),
    )
    return out.select(
        "media_id",
        "n_samples",
        "sample_rate",
        F.round("mean_dec", 4).alias("mean_dec"),
        F.round("rms_dec", 4).alias("rms_dec"),
        "max_step_idx",
    )


def oracle_adpcm_sql(chars_expr: str) -> str:
    """DuckDB twin of encode→decode IMA-ADPCM over the synthetic PCM
    formula: ONE integer list_reduce fold with state
    [pred, idx, sum, sumsq, max_idx] — the encoder's reconstructed
    predictor IS the decoded sample, so a single fold replays the whole
    lossy round-trip exactly. ``chars_expr`` is the rpad text formula the
    fixture shares with synthetic_wav_audio."""
    steps = "[" + ", ".join(str(v) for v in _ADPCM_STEPS) + "]"
    STEP = "st[CAST(acc[2] AS INT)+1]"
    D = "(e[1] - acc[1])"
    A = f"abs({D})"
    B2 = f"({A} >= {STEP})"
    T1 = f"({A} - CASE WHEN {B2} THEN {STEP} ELSE 0 END)"
    B1 = f"({T1} >= {STEP}//2)"
    T2 = f"({T1} - CASE WHEN {B1} THEN {STEP}//2 ELSE 0 END)"
    B0 = f"({T2} >= {STEP}//4)"
    DELTA = (
        f"({STEP}//8 + CASE WHEN {B2} THEN {STEP} ELSE 0 END"
        f" + CASE WHEN {B1} THEN {STEP}//2 ELSE 0 END"
        f" + CASE WHEN {B0} THEN {STEP}//4 ELSE 0 END)"
    )
    PRED = (
        f"greatest(-32768, least(32767, acc[1] + "
        f"CASE WHEN {D} < 0 THEN -{DELTA} ELSE {DELTA} END))"
    )
    IDX = (
        f"greatest(0, least(88, acc[2] + CASE WHEN {B2} THEN "
        f"2 + 2*(2*(CASE WHEN {B1} THEN 1 ELSE 0 END) + CASE WHEN {B0} THEN 1 ELSE 0 END) "
        f"ELSE -1 END))"
    )
    lam = (
        f"(acc, e) -> [{PRED}, {IDX}, acc[3] + {PRED}, "
        f"acc[4] + {PRED}*{PRED}, greatest(acc[5], {IDX})]"
    )
    return f"""
WITH au AS (
    SELECT doc_id AS media_id,
           CAST(64 + 32 * (doc_id % 5) AS INT) AS n,
           {chars_expr} AS chars,
           {steps} AS st
    FROM documents
),
smp AS (
    SELECT media_id, n, st,
           list_transform(range(n), i ->
               CAST(ascii(substring(chars, CAST(i AS INT) + 1, 1)) * 256 - 16384 AS BIGINT)) AS s
    FROM au
),
folded AS (
    SELECT media_id, n,
           list_reduce(
               [[s[1], CAST(0 AS BIGINT), s[1], s[1]*s[1], 0]] ||
               list_transform(s[2:], x -> [x, CAST(0 AS BIGINT), 0, 0, 0]),
               {lam}) AS st_out
    FROM smp
)
SELECT media_id, n AS n_samples, 8000 AS sample_rate,
       round(CAST(st_out[3] AS DOUBLE) / n, 4) AS mean_dec,
       round(sqrt(CAST(st_out[4] AS DOUBLE) / n), 4) AS rms_dec,
       CAST(st_out[5] AS INT) AS max_step_idx
FROM folded
"""


def synthetic_ac_refine_jpegs(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Progressive JPEGs with REAL AC successive approximation, planted
    from an SQL-reconstructable coefficient formula: wb = 1 + id%2,
    hb = 1 + id%3 blocks; block i carries DC = ascii(char i)·8 − 1024,
    AC(zigzag 1) = ascii(char i+1) % 7 − 3, AC(zigzag 5) =
    ascii(char i+2) % 3 − 1 over the sanitized rpad text. |AC| ≤ 3 means
    every coefficient class is exercised: |v|≥2 appears in the first AC
    scan and refines, |v|=1 is newly-nonzero ONLY in the refinement scan,
    v=0 rides runs/EOB — the full Annex G.1.2.3 surface."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                wb, hb = 1 + doc_id % 2, 1 + doc_id % 3
                n = wb * hb
                body = re.sub(r"[^ -~]", "x", text) or "x"
                chars = (body * ((n + 2) // len(body) + 1))[: n + 2].encode("ascii")
                coef = np.zeros((n, 64), dtype=np.int64)
                for i in range(n):
                    coef[i, 0] = int(chars[i]) * 8 - 1024
                    coef[i, 1] = int(chars[i + 1]) % 7 - 3
                    coef[i, 5] = int(chars[i + 2]) % 3 - 1
                rows.append(
                    (doc_id, wb * 8, hb * 8, encode_jpeg_gray_progressive_coeffs(coef, hb * 8, wb * 8))
                )
            yield pd.DataFrame(rows, columns=["media_id", "meta_width", "meta_height", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_width int, meta_height int, payload binary"
    )


def jpeg_ac_refine_stats(media: DataFrame) -> DataFrame:
    """REAL multi-scan progressive decode with AC refinement, checked in
    the COEFFICIENT domain where every scan's contribution is integer
    arithmetic (the pixel IDCT would need cross-engine libm parity): per
    payload, block count and exact DC / AC coefficient statistics."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                coef, h, w, _q = decode_jpeg_progressive_coeffs(bytes(r.payload))
                ac = coef[:, 1:]
                rows.append(
                    (
                        r.media_id,
                        int(w),
                        int(h),
                        int(coef.shape[0]),
                        int(coef[:, 0].sum()),
                        int((ac != 0).sum()),
                        int(np.abs(ac).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "img_w", "img_h", "n_blocks", "sum_dc", "n_nonzero_ac", "sum_abs_ac"],
            )

    return ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, img_w int, img_h int, n_blocks bigint, "
            "sum_dc bigint, n_nonzero_ac bigint, sum_abs_ac bigint"
        ),
    )


# ---------------------------------------------------------------------------
# GIF87a — real LZW dictionary compression (the 4th real image codec)
# ---------------------------------------------------------------------------
# PPM is raw, PNG is LZ77+Huffman (via zlib), JPEG is transform coding;
# GIF adds the remaining classic compression family: LZW dictionary coding
# with growing code widths, CLEAR-code dictionary resets, and GIF's
# little-endian (LSB-first) bit packing. Grayscale palette (index == gray
# level) keeps the pixel formula SQL-reconstructable.


def encode_gif_gray(img: np.ndarray) -> bytes:
    """(h, w) uint8 → GIF87a with a 256-entry grayscale palette and real
    LZW compression (9→12-bit growing codes, CLEAR at start and on a full
    4096-entry dictionary, END code, 255-byte sub-block framing)."""
    import struct

    h, w = img.shape
    data = img.reshape(-1).tolist()
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # global table: 256 entries
    for g in range(256):
        out += bytes((g, g, g))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(8)  # LZW minimum code size

    clear, end = 256, 257
    bits = bytearray()
    acc = nacc = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    table: dict[tuple, int] = {(i,): i for i in range(256)}
    next_code, width = 258, 9
    put(clear, width)
    seq: tuple = ()
    for px in data:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        put(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            # GIF convention: widen when the JUST-ASSIGNED code needs it
            width += 1
        if next_code == 4096:
            put(clear, width)
            table = {(i,): i for i in range(256)}
            next_code, width = 258, 9
        seq = (px,)
    if seq:
        put(table[seq], width)
    put(end, width)
    if nacc:
        bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif_gray(payload: bytes) -> np.ndarray:
    """GIF87a grayscale → (h, w) uint8: real LZW decompression, including
    the KwKwK self-referential case, growing code widths, and CLEAR
    resets. Raises on interlace, local palettes, or non-gray tables."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not flags & 0x80:
        raise NotImplementedError("global color table required")
    tsize = 2 << (flags & 7)
    for i in range(tsize):
        r, g, b = payload[pos + 3 * i : pos + 3 * i + 3]
        if not (r == g == b == i):
            raise NotImplementedError("only the identity grayscale palette supported")
    pos += 3 * tsize
    while payload[pos] == 0x21:  # extension blocks: skip sub-blocks
        pos += 2
        while payload[pos]:
            pos += 1 + payload[pos]
        pos += 1
    if payload[pos] != 0x2C:
        raise ValueError("missing image descriptor")
    _x, _y, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
    if iflags & 0xC0:
        raise NotImplementedError("interlace/local palette not supported")
    pos += 10
    min_code = payload[pos]
    pos += 1
    data = bytearray()
    while payload[pos]:
        n = payload[pos]
        data += payload[pos + 1 : pos + 1 + n]
        pos += 1 + n

    clear, end = 1 << min_code, (1 << min_code) + 1
    acc = nacc = bitpos = 0
    width = min_code + 1

    def get() -> int:
        nonlocal acc, nacc, bitpos
        while nacc < width:
            acc |= data[bitpos] << nacc
            bitpos += 1
            nacc += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        return v

    table: list[bytes] = [bytes((i,)) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = get()
        if code == clear:
            table = [bytes((i,)) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) != iw * ih:
        raise ValueError(f"LZW output {len(out)} != {iw}*{ih}")
    return np.frombuffer(bytes(out), dtype=np.uint8).reshape(ih, iw)


def synthetic_gif_images(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Real GIF87a payloads over the PNG pixel formula restricted to one
    channel: w = 8 + id % 5, h = 8 + id % 11, pixel i = byte i of the
    sanitized rpad-repeated text — LZW-compressed, SQL-reconstructable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                w, h = 8 + doc_id % 5, 8 + doc_id % 11
                body = re.sub(r"[^ -~]", "x", text) or "x"
                n = w * h
                pix = (body * (n // len(body) + 1))[:n].encode("ascii")
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w)
                rows.append((doc_id, w, h, encode_gif_gray(img)))
            yield pd.DataFrame(rows, columns=["media_id", "meta_width", "meta_height", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_width int, meta_height int, payload binary"
    )


def gif_decode_stats(media: DataFrame) -> DataFrame:
    """REAL LZW decompression per payload: parsed geometry, exact mean
    gray, distinct level count, and the compressed/raw size ratio (the
    dictionary coder's work, measured)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_gif_gray(bytes(r.payload))
                flat = img.reshape(-1)
                rows.append(
                    (
                        r.media_id,
                        img.shape[1],
                        img.shape[0],
                        float(flat.mean(dtype=np.float64)),
                        int(np.unique(flat).size),
                        len(bytes(r.payload)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "img_w", "img_h", "mean_px", "n_levels", "payload_bytes"],
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, img_w int, img_h int, mean_px double, "
            "n_levels int, payload_bytes int"
        ),
    )
    return out.select(
        "media_id",
        "img_w",
        "img_h",
        "mean_px",
        "n_levels",
    )


# ---------------------------------------------------------------------------
# G.711 mu-law companding — a codec with NO kernel at all (pure relational)
# ---------------------------------------------------------------------------
# The telephony standard's 8-bit logarithmic companding is segment-table
# integer arithmetic (Sun g711.c reference semantics), so both encode and
# decode express as plain SQL CASE/bit expressions — the codec runs inside
# whole-stage codegen on Spark and verbatim in the DuckDB oracle. The only
# Python is the WAV container parse that feeds it samples.

_MULAW_SEGS = [(16384, 7), (8192, 6), (4096, 5), (2048, 4), (1024, 3), (512, 2), (256, 1)]


def _div(expr: str, n: int, dialect: str) -> str:
    return f"({expr} div {n})" if dialect == "spark" else f"({expr} // {n})"


def mulaw_encode_sql(x: str, dialect: str) -> str:
    """int16 sample expression → mu-law code expression (0..255)."""
    sign = f"(CASE WHEN {x} < 0 THEN 128 ELSE 0 END)"
    mag = f"(least(abs(CAST({x} AS BIGINT)), 32635) + 132)"
    arms = "".join(
        f"WHEN {mag} >= {lo} THEN {e << 4} + ({_div(mag, 1 << (e + 3), dialect)} & 15) "
        for lo, e in _MULAW_SEGS
    )
    body = f"(CASE {arms}ELSE ({_div(mag, 8, dialect)} & 15) END)"
    return f"(255 - ({sign} + {body}))"


def mulaw_decode_sql(code: str, dialect: str) -> str:
    """mu-law code expression → reconstructed linear sample expression."""
    y = f"(255 - {code})"
    t = (
        f"((({y} & 15) * 8 + 132) * (CASE ({_div(y, 16, dialect)} & 7) "
        + "".join(f"WHEN {e} THEN {1 << e} " for e in range(8))
        + "END))"
    )
    return f"(CASE WHEN {y} >= 128 THEN 132 - {t} ELSE {t} - 132 END)"


def wav_samples(media: DataFrame) -> DataFrame:
    """Explode each PCM WAV payload to (media_id, i, sample) rows — the
    bridge from the binary container to relational per-sample processing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                samples, _rate = decode_wav(bytes(r.payload))
                frames.append(
                    pd.DataFrame(
                        {
                            "media_id": r.media_id,
                            "i": np.arange(samples.size, dtype=np.int64),
                            "sample": samples.astype(np.int64),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                columns=["media_id", "i", "sample"]
            )

    return ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run, schema="media_id bigint, i bigint, sample bigint"
    )


def mulaw_roundtrip_stats(media: DataFrame) -> DataFrame:
    """Per-stream G.711 mu-law round-trip report: exact integer error
    stats of encode→decode over every sample, computed entirely in JVM
    expressions over the exploded sample rows."""
    s = wav_samples(media)
    code = mulaw_encode_sql("sample", "spark")
    dec = mulaw_decode_sql(code, "spark")
    return (
        s.selectExpr(
            "media_id",
            "sample",
            f"{dec} AS dec",
        )
        .selectExpr("media_id", "abs(sample - dec) AS err", "dec")
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.sum("err").cast("bigint").alias("sum_abs_err"),
            F.max("err").cast("bigint").alias("max_abs_err"),
            F.sum(F.col("dec") * F.col("dec")).cast("bigint").alias("sum_sq_dec"),
        )
    )


# ---------------------------------------------------------------------------
# FLAC (subset) — linear prediction + Rice/Golomb coding, spec framing
# ---------------------------------------------------------------------------
# The remaining classic compression family: predictive coding with
# parametric entropy codes. Real FLAC structure — fLaC magic, STREAMINFO
# with MD5 of the decoded stream, frame header with CRC-8, FIXED-predictor
# subframes (orders 0-4, encoder picks by residual energy), Rice-coded
# residuals (zigzag + unary/binary, per-frame parameter search), CRC-16
# frame footer — restricted to mono 16-bit single-frame streams (the same
# honest-subset policy as the other codecs). MSB-first bitstream per spec.

_FLAC_FIXED_COEFS = [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]]


def _crc8(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _MsbWriter:
    def __init__(self) -> None:
        self.buf, self.acc, self.nbits = bytearray(), 0, 0

    def put(self, value: int, width: int) -> None:
        for i in range(width - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                self.acc, self.nbits = 0, 0

    def put_unary(self, q: int) -> None:
        for _ in range(q):
            self.put(0, 1)
        self.put(1, 1)

    def align(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc << (8 - self.nbits))
            self.acc, self.nbits = 0, 0
        return bytes(self.buf)


class _MsbReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data, self.bitpos = data, pos * 8

    def get(self, width: int) -> int:
        v = 0
        for _ in range(width):
            byte = self.data[self.bitpos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return v

    def get_unary(self) -> int:
        q = 0
        while self.get(1) == 0:
            q += 1
        return q

    def byte_pos(self) -> int:
        return (self.bitpos + 7) >> 3


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def encode_flac(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """(n,) int16 mono PCM → FLAC subset stream (one frame, FIXED
    predictor, Rice partition order 0). Header MD5 is the real spec MD5 of
    the little-endian decoded bytes, so decode can verify integrity."""
    import hashlib
    import struct

    x = np.asarray(samples, dtype=np.int64)
    n = int(x.size)
    if n < 5:
        raise ValueError("need at least 5 samples (max fixed order warmup)")
    # pick the fixed order with minimal residual energy (libFLAC heuristic)
    best_order = min(range(5), key=lambda o: int(np.abs(_fixed_residual(x, o)).sum()))
    res = _fixed_residual(x, best_order)
    # rice parameter: minimize exact coded length over 0..14
    u = np.where(res >= 0, res << 1, ((-res) << 1) - 1).astype(np.int64)
    best_p = min(range(15), key=lambda p: int((u >> p).sum()) + u.size * (p + 1))

    # ---- frame ----
    hdr = bytearray()
    hdr += bytes([0xFF, 0xF8])  # sync + fixed blocking
    hdr.append((0x07 << 4) | 0x00)  # blocksize: 16-bit at end; rate: STREAMINFO
    hdr.append((0x00 << 4) | (0x04 << 1))  # mono; 16 bps; reserved 0
    hdr.append(0x00)  # frame number 0 (UTF-8)
    hdr += struct.pack(">H", n - 1)  # 16-bit blocksize-1
    hdr.append(_crc8(bytes(hdr)))

    bw = _MsbWriter()
    # subframe header: 1 pad + 6 type (FIXED: 0b001000 | order) + 1 wasted
    bw.put(0, 1)
    bw.put(0b001000 | best_order, 6)
    bw.put(0, 1)
    for i in range(best_order):  # warmup, signed 16-bit
        bw.put(int(x[i]) & 0xFFFF, 16)
    bw.put(0, 2)  # residual method: 4-bit rice
    bw.put(0, 4)  # partition order 0
    bw.put(best_p, 4)
    for v in u.tolist():
        bw.put_unary(v >> best_p)
        if best_p:
            bw.put(v & ((1 << best_p) - 1), best_p)
    frame = bytes(hdr) + bw.align()
    frame += struct.pack(">H", _crc16(frame))

    # ---- stream header ----
    md5 = hashlib.md5(x.astype("<i2").tobytes()).digest()
    info = _MsbWriter()
    info.put(n, 16)  # min block size
    info.put(n, 16)  # max block size
    info.put(len(frame), 24)
    info.put(len(frame), 24)
    info.put(sample_rate, 20)
    info.put(0, 3)  # channels - 1
    info.put(15, 5)  # bps - 1
    info.put(n, 36)
    si = info.align() + md5
    return b"fLaC" + bytes([0x80, 0, 0, len(si)]) + si + frame


def decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """FLAC subset → ((n,) int16, rate): STREAMINFO parse, frame-header
    CRC-8 check, FIXED-predictor reconstruction from Rice-decoded
    residuals, frame CRC-16 check, and STREAMINFO-MD5 verification of the
    decoded stream — a real integrity-checked decompression."""
    import hashlib
    import struct

    if not payload.startswith(b"fLaC"):
        raise NotImplementedError("not a FLAC payload")
    pos = 4
    rate = nsamples = None
    md5_expect = None
    while True:
        head = payload[pos]
        last, btype = head & 0x80, head & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if btype == 0:
            r = _MsbReader(body)
            r.get(16)
            r.get(16)
            r.get(24)
            r.get(24)
            rate = r.get(20)
            if r.get(3) != 0 or r.get(5) != 15:
                raise NotImplementedError("only mono 16-bit supported")
            nsamples = r.get(36)
            md5_expect = body[18:34]
        pos += 4 + blen
        if last:
            break
    if rate is None:
        raise ValueError("missing STREAMINFO")
    frame = payload[pos:]
    if frame[0] != 0xFF or (frame[1] & 0xFE) != 0xF8:
        raise ValueError("bad frame sync")
    bs_code, sr_code = frame[2] >> 4, frame[2] & 0x0F
    if bs_code != 0x07 or sr_code != 0x00:
        raise NotImplementedError("subset: 16-bit blocksize field + STREAMINFO rate")
    if frame[3] >> 4 != 0 or ((frame[3] >> 1) & 0x07) != 0x04:
        raise NotImplementedError("only mono 16-bit frames supported")
    if frame[4] & 0x80:
        raise NotImplementedError("multi-byte frame numbers not needed in subset")
    (blocksize,) = struct.unpack_from(">H", frame, 5)
    blocksize += 1
    if _crc8(frame[:7]) != frame[7]:
        raise ValueError("frame header CRC-8 mismatch")
    r = _MsbReader(frame, 8)
    if r.get(1) != 0:
        raise ValueError("bad subframe padding bit")
    stype = r.get(6)
    if (stype & 0b111000) != 0b001000:
        raise NotImplementedError("only FIXED subframes supported")
    order = stype & 0x07
    if r.get(1) != 0:
        raise NotImplementedError("wasted bits unsupported")
    warm = [r.get(16) for _ in range(order)]
    warm = [v - 0x10000 if v >= 0x8000 else v for v in warm]
    if r.get(2) != 0:
        raise NotImplementedError("only 4-bit rice residuals supported")
    if r.get(4) != 0:
        raise NotImplementedError("only partition order 0 supported")
    p = r.get(4)
    res = []
    for _ in range(blocksize - order):
        q = r.get_unary()
        v = (q << p) | (r.get(p) if p else 0)
        res.append((v >> 1) if (v & 1) == 0 else -((v + 1) >> 1))
    out = list(warm)
    coefs = _FLAC_FIXED_COEFS[order]
    for rv in res:
        pred = sum(c * out[-i - 1] for i, c in enumerate(coefs))
        out.append(rv + pred)
    fend = r.byte_pos()
    (crc_expect,) = struct.unpack_from(">H", frame, fend)
    if _crc16(frame[:fend]) != crc_expect:
        raise ValueError("frame CRC-16 mismatch")
    samples = np.asarray(out, dtype=np.int16)
    if nsamples and samples.size != nsamples:
        raise ValueError("sample count mismatch vs STREAMINFO")
    if md5_expect and md5_expect != b"\x00" * 16:
        if hashlib.md5(samples.astype("<i2").tobytes()).digest() != md5_expect:
            raise ValueError("decoded-stream MD5 mismatch")
    return samples, rate


def synthetic_flac_audio(
    spark: SparkSession, source_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Real FLAC payloads over the shared SQL-reconstructable PCM formula
    (same as synthetic_wav_audio) — lossless, so decoded statistics carry
    the exact same oracle as the raw WAV path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                doc_id = int(r[0])
                text = r[1] or ""
                n = 64 + 32 * (doc_id % 5)
                body = re.sub(r"[^ -~]", "x", text) or "x"
                chars = (body * (n // len(body) + 1))[:n].encode("ascii")
                samples = np.frombuffer(chars, dtype=np.uint8).astype(np.int64) * 256 - 16384
                rows.append((doc_id, n, encode_flac(samples.astype(np.int16))))
            yield pd.DataFrame(rows, columns=["media_id", "meta_samples", "payload"])

    return ensure_parallelism(source_df.select(id_col, text_col)).mapInPandas(
        run, schema="media_id bigint, meta_samples int, payload binary"
    )


def flac_decode_stats(media: DataFrame) -> DataFrame:
    """REAL FLAC decompression (CRC-8/CRC-16/MD5 verified) per payload:
    decoded geometry + exact amplitude statistics — losslessness means the
    oracle is the PCM formula itself."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                samples, rate = decode_flac(bytes(r.payload))
                s = samples.astype(np.float64)
                rows.append(
                    (
                        r.media_id,
                        int(rate),
                        int(samples.size),
                        float(s.mean()),
                        float(np.sqrt((s * s).mean())),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "sample_rate", "n_samples", "mean_amp", "rms"]
            )

    out = ensure_parallelism(media.select("media_id", "payload")).mapInPandas(
        run,
        schema=(
            "media_id bigint, sample_rate int, n_samples int, "
            "mean_amp double, rms double"
        ),
    )
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "mean_amp",
        "rms",
    )
