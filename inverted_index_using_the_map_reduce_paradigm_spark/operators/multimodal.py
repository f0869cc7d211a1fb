"""Multimodal-column plumbing (north-star, SURVEY.md §2.3).

Treats media as opaque ``binary`` payload columns with typed metadata,
processed by Arrow-batched ``mapInPandas`` — the pattern a 100 TB
image/audio pipeline uses (decode / resize / frame-sample per batch on
executors, no driver involvement, no row-at-a-time Python).

Codec tiers:

* UNCOMPRESSED container formats have REAL decoders with zero external
  dependencies — a hand-written P6 PPM header parser + numpy raster
  (``decode_ppm``) and stdlib ``wave`` for RIFF/PCM audio
  (``decode_wav``).  ``multimodal_image_decode`` /
  ``multimodal_audio_decode`` round-trip real encoded payloads through
  them, oracle-checked: the synthesis parameters are deterministic
  functions of (doc_id, n_chars), so DuckDB independently predicts
  every decoded feature and a parser bug breaks the driver hash.
* PNG — the most common real compressed image format — has a REAL
  stdlib-only decoder (``decode_png``): CRC-verified chunk walk,
  concatenated-IDAT zlib inflate, and full inversion of the five
  per-row filters; ``multimodal_png_decode`` round-trips payloads
  whose rows cycle all five filters, oracle-checked the same way.
  Indexed-color (PLTE) and Adam7-interlaced streams decode too
  (``multimodal_png_palette_decode``: bpp=1 defilter + palette
  expansion; ``multimodal_png_interlaced_decode``: seven independently
  filtered passes scattered back, position-weighted checksum).
* Baseline sequential JPEG has a REAL stdlib-only decoder too
  (``decode_jpeg``, generalized in ``_jpeg_parse``): marker walk,
  DHT-declared canonical Huffman entropy decode with byte unstuffing,
  DC prediction + EXTEND, AC run/size + ZRL, dezigzag, dequantization,
  exact orthonormal IDCT, 1- or 3-component interleaved scans.
  ``multimodal_jpeg_decode`` synthesizes streams whose flat blocks
  survive quantization exactly (DC step 8);
  ``multimodal_jpeg_ac_decode`` adds three nonzero AC coefficients per
  block at {0,4}^2 basis positions (integer-exact IDCT, real run/size
  and ZRL symbols); ``multimodal_jpeg_color_decode`` decodes
  interleaved YCbCr 4:4:4 with per-component quant/Huffman tables —
  all three oracle-checked bit for bit.
* ``multimodal_jpeg_progressive_decode`` decodes real SOF2
  streams builtin: five-scan spectral-selection + successive-
  approximation (DC first/refine, AC first pass with EOB runs, a
  two-step AC refinement ladder) with DRI/RSTn restart intervals
  in every scan, oracle-checked bit for bit.  The color variant
  (interleaved ns=3 DC scans, per-component band scans) and the
  subsampled 4:2:0 variant (MCU-interleaved DC vs raster-order AC
  walks over an MCU-padded coefficient buffer) decode builtin too.
* Compression codecs (zlib, multi-member gzip under WARC.gz, snappy,
  LZ4 frame, zstd) round-trip real streams through the installed
  native decoders: stdlib ``zlib`` and pyarrow's C++ codecs.
* Remaining codec variants (arithmetic
  coding, WebP, ...) stay import-gated behind PIL (absent in this
  container): ``real_decode`` dispatches P6/PNG/JPEG to the builtin
  parsers and everything else to PIL or a ``NotImplementedError`` —
  the documented honest stub.
* The original ``multimodal_features`` fake path is kept as the
  codec-independent plumbing check (binary schema, Arrow batch
  iteration, UDF signature, partition-parallel execution).

Scale posture: ``mapInPandas`` is a narrow transformation (no shuffle);
batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
so executor memory stays flat regardless of corpus size.  Feature
extraction parallelism == input partition count.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data import table
from ..registry import register

# This module's functions execute inside Python workers (mapInPandas).
# Serialize them BY VALUE so executors need not import this package --
# the driver process is the only place the repo is on sys.path (and on
# a real cluster this removes the --py-files deployment dependency for
# the hot path).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

try:  # pragma: no cover - the real decoder needs PIL, absent in this env
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

FEATURE_SCHEMA = "doc_id long, n_bytes long, width long, height long, checksum long"


def real_decode(payload: bytes) -> tuple[int, int]:
    """Actual image decode: builtin parsers for P6 PPM (no
    dependency), PNG (stdlib zlib, ``decode_png``), and baseline
    JPEG (``decode_jpeg``); PIL for anything else when
    installed."""
    if payload[:2] == b"P6":
        w, h, _maxval, _off = _ppm_header(payload)
        return w, h
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        try:
            w, h, _mean, _mx, _sum = decode_png(payload)
            return w, h
        except NotImplementedError:  # sub-byte/16-bit -> PIL if present
            if not HAVE_PIL:
                raise
    elif payload[:2] == b"\xff\xd8":
        try:
            w, h, _planes = _jpeg_parse(payload)  # grayscale or YCbCr
            return w, h
        except NotImplementedError:
            try:  # SOF2 -> the builtin progressive parser
                w, h, _planes = _jpeg_parse_progressive(payload)
                return w, h
            except (NotImplementedError, ValueError):
                # arithmetic-coded / >2x factors -> PIL if present
                if not HAVE_PIL:
                    raise
    if not HAVE_PIL:  # pragma: no cover - PIL absent in this env
        raise NotImplementedError(
            "this codec requires PIL; this environment ships none -- "
            "builtin decoders cover P6 PPM, PNG, baseline JPEG, and WAV"
        )
    import io  # pragma: no cover

    import PIL.Image  # pragma: no cover

    with PIL.Image.open(io.BytesIO(payload)) as im:  # pragma: no cover
        return im.size


def fake_features(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for (width, height, checksum): pure
    functions of the bytes so the DuckDB oracle can recompute them."""
    n = len(payload)
    width = n % 640
    height = (n * 31) % 480
    checksum = (payload[0] + payload[-1]) if n else 0
    return width, height, checksum


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one Arrow batch in, one feature frame out."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "width": payloads.map(lambda b: fake_features(b)[0]),
                "height": payloads.map(lambda b: fake_features(b)[1]),
                "checksum": payloads.map(lambda b: fake_features(b)[2]),
            }
        )


@register(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       octet_length(encode(text)) % 640 AS width,
       (octet_length(encode(text)) * 31) % 480 AS height,
       CASE WHEN length(text) > 0
            THEN ascii(substr(text, 1, 1)) + ascii(substr(text, length(text), 1))
            ELSE 0 END AS checksum
FROM documents
""",
    description="binary payload -> typed features via Arrow-batched mapInPandas",
    tags=("multimodal", "udf"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture has no real media, so the binary payload is the
    utf-8 document text; the point under test is the binary column +
    mapInPandas batch pipeline, not the codec."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return payloads.mapInPandas(extract_features, schema=FEATURE_SCHEMA)


# --------------------------------------------------------------------------
# frame sampling — the 1->N shape (video frame extract / audio chunking)
# --------------------------------------------------------------------------

FRAME_BYTES = 256  # stand-in for a frame/chunk stride

FRAME_SCHEMA = "doc_id long, frame_idx long, frame_bytes long, head_byte long"


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker emitting one row per FRAME_BYTES-sized chunk of
    the payload — the row-expanding shape a video frame-sampler or audio
    chunker has (a real decoder slots into the per-frame loop)."""
    for pdf in batches:
        doc_ids: list[int] = []
        idxs: list[int] = []
        sizes: list[int] = []
        heads: list[int] = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            for k, off in enumerate(range(0, n, FRAME_BYTES)):
                doc_ids.append(doc_id)
                idxs.append(k)
                sizes.append(min(FRAME_BYTES, n - off))
                heads.append(payload[off])
        yield pd.DataFrame(
            {"doc_id": doc_ids, "frame_idx": idxs, "frame_bytes": sizes, "head_byte": heads}
        )


@register(
    "multimodal_frame_sample",
    oracle=f"""
WITH f AS (
  SELECT doc_id, octet_length(encode(text)) AS n, text,
         unnest(generate_series(
           0, CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT) - 1))
           AS frame_idx
  FROM documents
  WHERE octet_length(encode(text)) > 0
)
SELECT doc_id, frame_idx,
       least({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}) AS frame_bytes,
       ascii(substr(text, frame_idx * {FRAME_BYTES} + 1, 1)) AS head_byte
FROM f
""",
    description="1->N frame/chunk sampling of binary payloads via mapInPandas",
    tags=("multimodal", "udf"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding mapInPandas: output cardinality is decoupled from
    input cardinality (Arrow batches re-chunk downstream), which is the
    plumbing a frame sampler needs.  The oracle recomputes the chunk
    geometry with generate_series (fixture text is ASCII, so byte
    offsets == char offsets)."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(sample_frames, schema=FRAME_SCHEMA)


# --------------------------------------------------------------------------
# multimodal_dedup — exact dedup over the BINARY payload column
# --------------------------------------------------------------------------


@register(
    "multimodal_dedup",
    oracle="""
WITH h AS (
  -- sha256 in DuckDB is VARCHAR-only; it hashes the UTF-8 bytes, which
  -- are exactly the payload bytes the Spark side hashes as binary
  SELECT doc_id, sha256(text) AS payload_hash,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       count(*) AS n_copies,
       CAST(any_value(n_bytes) AS BIGINT) AS n_bytes,
       payload_hash
FROM h GROUP BY payload_hash
""",
    description="exact dedup over the binary payload column (sha256 of bytes)",
    tags=("multimodal", "dedup"),
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``exact_dedup``'s semantics applied to the BINARY column — the
    first pass every image/audio corpus runs (bit-identical files are
    rampant in crawled media).  Hashing happens directly on the bytes
    (``sha2`` accepts binary; no decode, no UDF), so the plan is one
    projection + one hash shuffle regardless of payload size, and the
    hash can be computed at INGEST and stored alongside the payload —
    after which dedup never touches the bytes again (the
    ``incremental_dedup`` pattern)."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
    )
    return (
        payloads.select(
            "doc_id",
            F.sha2("payload", 256).alias("payload_hash"),
            F.length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("payload_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
            F.first("n_bytes").alias("n_bytes"),
        )
        .select("keeper_doc_id", "n_copies", "n_bytes", "payload_hash")
    )


# --------------------------------------------------------------------------
# REAL codecs, dependency-free tier: P6 PPM images, RIFF/PCM WAV
# audio.  The synthesis parameters are deterministic functions of
# (doc_id, n_chars), so the DuckDB oracles predict every DECODED
# feature independently — the decoders are genuinely exercised and a
# parser bug (wrong header scan, wrong raster offset, wrong PCM dtype)
# fails the driver hash, not just a local test.
# --------------------------------------------------------------------------

import numpy as np  # noqa: E402  (worker-side import, shipped by value)

PPM_MAXVAL = 255
WAV_RATE = 8000


def encode_ppm(doc_id: int, n_chars: int) -> bytes:
    """A real binary P6 PPM: ASCII header + raw RGB raster.  Dimensions
    and fill derive from (doc_id, n_chars) so the oracle can predict
    the decode output."""
    w = n_chars % 64 + 1
    h = doc_id % 48 + 1
    fill = doc_id % 256
    header = f"P6\n{w} {h}\n{PPM_MAXVAL}\n".encode()
    return header + bytes([fill]) * (w * h * 3)


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a P6 header byte-by-byte: three whitespace-separated
    integers (width, height, maxval) after the magic, then EXACTLY one
    whitespace before the raster.  ``bytes.split`` would eat raster
    bytes that happen to be whitespace (fill values 9/10/13/32), so
    the scan is manual.  Returns (w, h, maxval, raster_offset)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    i, vals = 2, []
    while len(vals) < 3:
        while payload[i : i + 1].isspace():
            i += 1
        j = i
        while not payload[j : j + 1].isspace():
            j += 1
        vals.append(int(payload[i:j]))
        i = j
    return vals[0], vals[1], vals[2], i + 1


def decode_ppm(payload: bytes) -> tuple[int, int, int, float, int]:
    """(width, height, n_raster_bytes, mean_pixel, max_pixel) from a
    real P6 parse — header scan + numpy raster view."""
    w, h, _maxval, off = _ppm_header(payload)
    raster = np.frombuffer(payload[off : off + w * h * 3], dtype=np.uint8)
    return (
        w,
        h,
        int(raster.size),
        float(raster.mean()) if raster.size else 0.0,
        int(raster.max()) if raster.size else 0,
    )


def encode_wav(doc_id: int, n_chars: int) -> bytes:
    """A real RIFF/PCM WAV (stdlib ``wave``): mono 16-bit at WAV_RATE,
    an alternating +/-amp square wave whose frame count and amplitude
    derive from (n_chars, doc_id)."""
    import io
    import wave

    n_frames = n_chars % 400 + 50
    amp = doc_id % 100 + 1
    frames = np.empty(n_frames, dtype="<i2")
    frames[0::2] = amp
    frames[1::2] = -amp
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(frames.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, int, float, int]:
    """(n_channels, sample_width, frame_rate, n_frames, duration_ms,
    peak) via a real stdlib ``wave`` parse of the RIFF container plus a
    numpy PCM scan."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        sw = w.getsampwidth()
        rate = w.getframerate()
        nf = w.getnframes()
        data = np.frombuffer(w.readframes(nf), dtype="<i2")
    peak = int(np.abs(data).max()) if data.size else 0
    return nch, sw, rate, nf, round(nf * 1000.0 / rate, 3), peak


# DataType objects (not DDL strings): a string return type would need
# an active SparkContext at import time (same rationale as dedup.py).
@F.pandas_udf(T.BinaryType())
def _ppm_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_ppm(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


@F.pandas_udf(T.BinaryType())
def _wav_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_wav(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


IMG_SCHEMA = (
    "doc_id long, width long, height long, n_raster_bytes long,"
    " mean_pixel double, max_pixel long"
)


def decode_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [decode_ppm(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [f[0] for f in feats],
                "height": [f[1] for f in feats],
                "n_raster_bytes": [f[2] for f in feats],
                "mean_pixel": [round(f[3], 3) + 0.0 for f in feats],
                "max_pixel": [f[4] for f in feats],
            }
        )


@register(
    "multimodal_image_decode",
    oracle="""
SELECT doc_id,
       CAST(n_chars % 64 + 1 AS BIGINT) AS width,
       CAST(doc_id % 48 + 1 AS BIGINT) AS height,
       CAST((n_chars % 64 + 1) * (doc_id % 48 + 1) * 3 AS BIGINT)
         AS n_raster_bytes,
       round(CAST(doc_id % 256 AS DOUBLE), 3) + 0 AS mean_pixel,
       CAST(doc_id % 256 AS BIGINT) AS max_pixel
FROM documents
""",
    description="REAL image decode: encode P6 PPM -> binary column -> parse header + numpy raster",
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a REAL image codec: a binary
    P6 PPM is encoded from (doc_id, n_chars), materialized as a binary
    column, and decoded by the hand-written header parser + numpy
    raster scan.  The oracle predicts the decoded width/height/raster
    stats straight from the parameters, so the driver hash fails on
    any parser defect.  Plan shape: two narrow Arrow stages, no
    shuffle — decode parallelism == input partitions, the 100 TB media
    ingest shape."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _ppm_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_images, schema=IMG_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id long, n_channels long, sample_width long, frame_rate long,"
    " n_frames long, duration_ms double, peak long"
)


def decode_audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [decode_wav(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_channels": [f[0] for f in feats],
                "sample_width": [f[1] for f in feats],
                "frame_rate": [f[2] for f in feats],
                "n_frames": [f[3] for f in feats],
                "duration_ms": [f[4] + 0.0 for f in feats],
                "peak": [f[5] for f in feats],
            }
        )


@register(
    "multimodal_audio_decode",
    oracle=f"""
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(2 AS BIGINT) AS sample_width,
       CAST({WAV_RATE} AS BIGINT) AS frame_rate,
       CAST(n_chars % 400 + 50 AS BIGINT) AS n_frames,
       round((n_chars % 400 + 50) * 1000.0 / {WAV_RATE}, 3) + 0
         AS duration_ms,
       CAST(doc_id % 100 + 1 AS BIGINT) AS peak
FROM documents
""",
    description="REAL audio decode: encode RIFF/PCM WAV -> binary column -> stdlib wave parse + PCM peak",
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a REAL audio codec: a RIFF
    PCM WAV encoded with stdlib ``wave`` from (doc_id, n_chars),
    decoded back through ``wave`` plus a numpy PCM peak scan.  The
    oracle predicts container metadata (channels, sample width, rate,
    frame count), duration, and the square wave's peak amplitude, so
    the driver hash fails on any RIFF/PCM parsing defect.  Same
    narrow two-stage Arrow shape as the image path."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _wav_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_audio, schema=AUDIO_SCHEMA)


# --------------------------------------------------------------------------
# REAL compressed codec, dependency-free: PNG via stdlib zlib.
# The critical path of the most common real image format — 8-byte
# signature, chunk walk with CRC32 verification, IHDR, zlib-inflated
# IDAT (possibly split across chunks), and the five per-row filters
# (None/Sub/Up/Average/Paeth, RFC 2083 §6) — needs NOTHING beyond
# stdlib zlib, so it graduates from the PIL stub tier to a real
# decoder.  The synthesis encoder cycles the filter type per row
# (y % 5), so every decode inverts all five filters; a defilter bug in
# any of them shifts the pixel stats and breaks the driver hash.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel
_PNG_IDAT_SPLIT = 512  # encoder splits IDAT so decode exercises concat


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/upper-left
    to the linear estimate a + b - c, ties broken a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def encode_png(doc_id: int, n_chars: int) -> bytes:
    """A real 8-bit RGB PNG.  Row y is a constant fill
    ``(doc_id + y) % 256`` filtered with type ``y % 5``, so the
    compressed stream round-trips through every filter; dimensions
    derive from (doc_id, n_chars) exactly like the PPM tier so the
    oracle predicts the decode."""
    import struct
    import zlib

    w = n_chars % 64 + 1
    h = doc_id % 48 + 1
    bpp = 3
    prior = np.zeros(w * bpp, dtype=np.int64)
    out = bytearray()
    for y in range(h):
        raw = np.full(w * bpp, (doc_id + y) % 256, dtype=np.int64)
        ft = y % 5
        if ft == 0:
            filt = raw
        elif ft == 1:  # Sub: left neighbor, bpp back
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
            filt = raw - left
        elif ft == 2:  # Up
            filt = raw - prior
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
            filt = raw - (left + prior) // 2
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
            upleft = np.concatenate(
                [np.zeros(bpp, dtype=np.int64), prior[:-bpp]]
            )
            pred = np.array(
                [
                    _paeth(int(a), int(b), int(c))
                    for a, b, c in zip(left, prior, upleft)
                ],
                dtype=np.int64,
            )
            filt = raw - pred
        out.append(ft)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    z = zlib.compress(bytes(out), 6)
    png = bytearray(_PNG_SIG)
    png.extend(_png_chunk(b"IHDR", ihdr))
    # split IDAT: multi-chunk streams are legal and common; decoders
    # must concatenate before inflating
    for i in range(0, len(z), _PNG_IDAT_SPLIT):
        png.extend(_png_chunk(b"IDAT", z[i : i + _PNG_IDAT_SPLIT]))
    png.extend(_png_chunk(b"IEND", b""))
    return bytes(png)


# Adam7 pass grid: (x0, y0, dx, dy) per ISO/IEC 15948 §8.2
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_defilter(rows: "np.ndarray", stride: int, bpp: int) -> "np.ndarray":
    """Invert the five per-row PNG filters over one scanline set (the
    whole image, or one Adam7 pass — each pass filters independently
    with a zero prior above its first row)."""
    h = rows.shape[0]
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int64)
        prior = out[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up is vectorizable
            rec = line + prior
        else:  # Sub/Average/Paeth need the already-reconstructed left
            rec = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + prior[x]) // 2
                elif ft == 4:
                    upleft = prior[x - bpp] if x >= bpp else 0
                    pred = _paeth(int(left), int(prior[x]), int(upleft))
                else:
                    raise ValueError(f"PNG filter type {ft} out of range")
                # reduce EACH byte before it becomes the next left
                # neighbor: predictors operate on reconstructed BYTES
                # (RFC 2083 §6.3), so an unreduced v+256 here would
                # poison the Average/Paeth prediction 3 bytes later
                rec[x] = (line[x] + pred) % 256
        out[y] = rec % 256
    return out


def _png_parse(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """REAL PNG parse to an (h, w, nchan) uint8 raster: signature
    check, chunk walk with CRC32 verification, IHDR/PLTE,
    concatenated-IDAT zlib inflate, full defiltering of the five
    per-row filters, Adam7 de-interlacing (seven independently
    filtered passes scattered back onto the final grid), and PLTE
    expansion for indexed color.  Supports 8-bit
    gray/RGB/gray+alpha/RGBA/indexed, interlaced or not; rejects
    sub-byte depths loudly rather than mis-decoding."""
    import struct
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i = len(_PNG_SIG)
    idat = bytearray()
    plte: bytes | None = None
    w = h = depth = ctype = interlace = None
    while i < len(payload):
        (length,) = struct.unpack(">I", payload[i : i + 4])
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"PLTE":
            if length % 3 or not 3 <= length <= 768:
                raise ValueError("PNG PLTE length not a valid 3*n")
            plte = data
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            break
        i += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    if (
        depth not in (8, 16)
        or (depth == 16 and ctype == 3)  # PLTE indices are 8-bit by spec
        or interlace not in (0, 1)
        or (ctype not in _PNG_CHANNELS and ctype != 3)
    ):
        raise NotImplementedError(
            f"unsupported PNG variant (depth={depth}, color={ctype}, "
            f"interlace={interlace}); supported: 8/16-bit "
            "gray/RGB/gray+alpha/RGBA + 8-bit indexed, Adam7 or none"
        )
    if ctype == 3 and plte is None:
        raise ValueError("indexed-color PNG missing PLTE")
    channels = 1 if ctype == 3 else _PNG_CHANNELS[ctype]
    # the filter algebra is BYTE-wise with bpp = bytes per pixel (RFC
    # 2083 §6.2: at depth 16 the left neighbor is 2*channels bytes back)
    bpp = channels * (depth // 8)
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        stride = w * bpp
        if raw.size != h * (stride + 1):
            raise ValueError("PNG IDAT size does not match dimensions")
        img = _png_defilter(raw.reshape(h, stride + 1), stride, bpp).reshape(
            h, w, bpp
        )
    else:  # Adam7: seven passes, each an independently filtered sub-image
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # empty pass carries no scanlines at all
            stride_p = wp * bpp
            n = hp * (stride_p + 1)
            if pos + n > raw.size:
                raise ValueError("PNG IDAT shorter than its Adam7 passes")
            sub = _png_defilter(
                raw[pos : pos + n].reshape(hp, stride_p + 1), stride_p, bpp
            )
            pos += n
            img[y0::dy, x0::dx] = sub.reshape(hp, wp, bpp)
        if pos != raw.size:
            raise ValueError("PNG IDAT longer than its Adam7 passes")
    if ctype == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(img.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        img = pal[img[:, :, 0]]  # (h, w, 3)
    elif depth == 16:  # recombine big-endian byte pairs into samples
        img = (img[:, :, 0::2].astype(np.uint16) << 8) | img[:, :, 1::2]
    return int(w), int(h), img


def decode_png(payload: bytes) -> tuple[int, int, float, int, int]:
    """(width, height, mean_pixel, max_pixel, pixel_sum) over the
    decoded samples (palette-expanded for indexed color) — see
    ``_png_parse`` for the full decode pipeline this drives."""
    w, h, img = _png_parse(payload)
    px = img.reshape(-1)
    return (
        int(w),
        int(h),
        float(px.mean()) if px.size else 0.0,
        int(px.max()) if px.size else 0,
        int(px.sum(dtype=np.int64)),
    )


@F.pandas_udf(T.BinaryType())
def _png_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_png(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


PNG_SCHEMA = (
    "doc_id long, width long, height long, mean_pixel double,"
    " max_pixel long, pixel_sum long"
)


def decode_pngs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [decode_png(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [f[0] for f in feats],
                "height": [f[1] for f in feats],
                "mean_pixel": [round(f[2], 3) + 0.0 for f in feats],
                "max_pixel": [f[3] for f in feats],
                "pixel_sum": [f[4] for f in feats],
            }
        )


@register(
    "multimodal_png_decode",
    # the oracle rebuilds the per-row fill (doc_id + y) % 256 with
    # generate_series and aggregates — a fully independent recompute of
    # the decoded raster statistics (w*3 identical samples per row)
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 64 + 1 AS w, doc_id % 48 + 1 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       round(avg((doc_id + y) % 256), 3) + 0 AS mean_pixel,
       CAST(max((doc_id + y) % 256) AS BIGINT) AS max_pixel,
       CAST(sum(((doc_id + y) % 256) * w * 3) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id
""",
    description="REAL compressed-codec decode: zlib PNG (chunk walk + CRC + inflate + 5 row filters)",
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a REAL compressed image
    codec: an 8-bit RGB PNG whose rows cycle all five PNG filters is
    encoded from (doc_id, n_chars), zlib-compressed, split across
    IDAT chunks, then decoded by the stdlib-only parser (CRC-verified
    chunk walk, inflate, full defilter).  The oracle rebuilds the
    expected raster statistics from the synthesis parameters with
    generate_series, so any defect in the chunk walk, the inflate
    plumbing, or ANY of the five filter inversions breaks the driver
    hash.  Plan shape: two narrow Arrow stages, no shuffle — decode
    parallelism == input partitions, the 100 TB media-ingest shape."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _png_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_pngs, schema=PNG_SCHEMA)


# --------------------------------------------------------------------------
# REAL lossy codec, dependency-free: baseline sequential JPEG.
# The full critical path of the other ubiquitous image format — marker
# walk, DQT/SOF0/DHT/SOS parse, canonical Huffman decode with byte
# unstuffing, DC prediction + coefficient EXTEND, dezigzag,
# dequantization, and the exact orthonormal 8x8 IDCT — needs nothing
# beyond numpy.  Huffman tables are read from the payload's DHT
# segments (never hardcoded), so the decoder handles any 1- or
# 3-component baseline stream with sampling factors 1-2 (4:4:4 and
# 4:2:0 alike), not just this encoder's output.
# Lossiness is controlled at synthesis: flat 8x8 blocks have DC = 8 x
# (fill - 128), and the AC variant places coefficients only at
# {0,4}^2 basis positions where the 2-D basis magnitude is exactly
# 1/8 — so quantization steps of 8 (DC) / 16 (AC) make the round trip
# EXACT for every value and the DuckDB oracle predicts the decoded
# raster bit for bit while the decoder runs the full lossy-codec
# machinery (DC predict + EXTEND, AC run/size, ZRL, per-component
# tables in the color variant).
# --------------------------------------------------------------------------

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_JPEG_QDC = 8  # DC quant step: divides 8*(v-128) exactly -> lossless flats
_JPEG_QAC = 16
# Chroma table (tq=1) for the color variant: DC step 16 so a quantized
# chroma DC of q reconstructs as exactly 128 + 2*q per pixel.
_JPEG_QDC_CHROMA = 16
# encoder-defined canonical Huffman tables, carried in DHT like any
# real stream: DC categories 0..11 and an AC set incl. EOB + ZRL and
# the (run,size) symbols the AC synthesis emits (runs 3/8/9 from
# the zigzag gaps between natural coefficients 4, 32 and 36).
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 0, 0, 0, 22] + [0] * 11
_JPEG_AC_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x11, 0x21, 0xF0,
    0x31, 0x32, 0x33, 0x34,  # run 3, sizes 1-4
    0x81, 0x82, 0x83, 0x84,  # run 8, sizes 1-4 (follows a ZRL)
    0x91, 0x92, 0x93, 0x94,  # run 9, sizes 1-4
]
# Chroma Huffman set (tid=1): DC categories 0..7 (DC values lie in
# [-50,50] but the DIFFS wrap to +/-100 when a fill crosses the mod-101
# boundary) and an EOB-only AC table — deliberately DIFFERENT shapes
# from tid=0 so a decoder that ignores the per-component table
# selectors cannot decode the color streams at all.
_JPEG_DC1_BITS = [0, 0, 7, 1] + [0] * 12
_JPEG_DC1_VALS = list(range(8))
_JPEG_AC1_BITS = [1] + [0] * 15
_JPEG_AC1_VALS = [0x00]

# orthonormal 2-D DCT basis (== JPEG's (1/4)C(u)C(v) scaling):
# f = M @ F @ M.T reconstructs spatial samples from natural-order coefs
_IDCT_M = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for u in range(8)
        ]
        for x in range(8)
    ]
)


def _jpeg_canonical(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per the canonical assignment (ITU T.81
    Annex C): codes of each length are consecutive, doubling at each
    length step."""
    codes: dict[int, tuple[int, int]] = {}
    code = k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.buf.append(0x00)
                self.acc = self.n = 0

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # pad with 1s
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = self.n = 0
        return bytes(self.buf)


def _jpeg_segment(marker: int, data: bytes) -> bytes:
    import struct

    return struct.pack(">BBH", 0xFF, marker, len(data) + 2) + data


def _jpeg_write_block(
    bw: "_JpegBitWriter",
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    diff: int,
    ac: list[tuple[int, int]] | None = None,
) -> None:
    """Entropy-code one block: DC difference, then the (zigzag_pos,
    quantized_value) AC list (sorted, positions 1..63, values nonzero)
    as real (run,size) symbols — inserting ZRL for gaps >= 16 — then
    EOB unless position 63 was coded."""
    t = abs(diff).bit_length()
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    k = 1
    last = 0
    for pos, val in ac or ():
        run = pos - k
        while run >= 16:
            zc, zl = ac_codes[0xF0]
            bw.write(zc, zl)
            run -= 16
        t = abs(val).bit_length()
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(val if val >= 0 else val + (1 << t) - 1, t)
        k = pos + 1
        last = pos
    if last != 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)


# Natural coefficient positions whose 1-D bases are BOTH exactly
# sqrt(2)/4 in magnitude (b0 == |b4|), so a dequantized coefficient D
# at (v,u) in {0,4}^2 contributes exactly D/8 * s(x)*s(y) per pixel,
# with s(t) = +1 for t in {0,3,4,7} and -1 for t in {1,2,5,6}.  With
# the AC quant step of 16, a quantized value q contributes exactly
# 2*q — integer, so round+clamp are no-ops and DuckDB can recompute
# the decoded raster in closed form.
_JPEG_AC_POS = sorted(
    (_JPEG_ZIGZAG.index(nat), nat) for nat in (4, 32, 36)
)  # zigzag 10 -> nat 32 (v=4,u=0), 14 -> 4 (v=0,u=4), 39 -> 36 (v=4,u=4)


def _jpeg_ac_coeffs(doc_id: int, r: int, c: int) -> tuple[int, int, int]:
    """Per-block quantized AC values (qh at (0,4): varies with x; qv at
    (4,0): varies with y; qd at (4,4)), each mapped into
    [-9,-1] u [1,9] so every block really codes three nonzero AC
    coefficients (zero would change the run structure)."""

    def nz(m: int) -> int:
        return m - 9 if m < 9 else m - 8

    return (
        nz((doc_id + 5 * r + 3 * c) % 18),
        nz((2 * doc_id + 7 * r + c) % 18),
        nz((3 * doc_id + r + 11 * c) % 18),
    )


def encode_jpeg(
    doc_id: int, n_chars: int, restart_interval: int = 0, ac: bool = False
) -> bytes:
    """A real baseline sequential grayscale JPEG: block-row r of the
    raster is a flat fill (``(doc_id + r) % 256``, or
    ``64 + (doc_id + r) % 128`` when ``ac`` so AC swings never clamp);
    dimensions derive from (doc_id, n_chars) in whole 8x8 blocks.  DC
    differences are Huffman-coded with the encoder's DHT-declared
    canonical table.  With the DC quant step {_JPEG_QDC} the flat
    component survives quantization exactly, so the oracle predicts
    the decode.  ``ac`` additionally codes three nonzero AC
    coefficients per block at natural positions 4/32/36 (zigzag runs
    9 and 3 plus a ZRL+run-8 — the full run/size path), each
    contributing exactly 2*q per pixel (see ``_JPEG_AC_POS``).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every that-many MCUs (byte-aligned, DC prediction reset) — the
    error-resilience structure real camera JPEGs carry."""
    import struct

    wb = n_chars % 8 + 1
    hb = doc_id % 6 + 1
    w, h = wb * 8, hb * 8
    dc_codes = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for r in range(hb):
        if ac:
            dc_code = 64 + (doc_id + r) % 128 - 128
        else:
            dc_code = ((doc_id + r) % 256) - 128  # quantized DC: 8*s / 8
        for c in range(wb):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.buf = bytearray(bw.flush())  # byte-align (pad with 1s)
                bw.buf += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = 0  # RST resets the DC predictor
            mcu += 1
            coeffs = None
            if ac:
                qh, qv, qd = _jpeg_ac_coeffs(doc_id, r, c)
                by_nat = {4: qh, 32: qv, 36: qd}
                coeffs = [(pos, by_nat[nat]) for pos, nat in _JPEG_AC_POS]
            _jpeg_write_block(bw, dc_codes, ac_codes, dc_code - pred, coeffs)
            pred = dc_code
    qtab = bytes([0]) + bytes(
        [_JPEG_QDC] + [_JPEG_QAC] * 63
    )  # Pq/Tq=0, zigzag order (index 0 is DC either way)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = (
        _jpeg_segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"  # SOI
        + _jpeg_segment(0xDB, qtab)
        + _jpeg_segment(0xC0, sof)
        + _jpeg_segment(0xC4, dht_dc)
        + _jpeg_segment(0xC4, dht_ac)
        + dri
        + _jpeg_segment(0xDA, sos)
        + bw.flush()
        + b"\xff\xd9"  # EOI
    )


def encode_jpeg_color(doc_id: int, n_chars: int) -> bytes:
    """A real baseline INTERLEAVED YCbCr 4:4:4 JPEG (three components,
    all sampling factors 1x1, one block of each per MCU in Y,Cb,Cr
    scan order).  Y carries the same fill+AC synthesis as
    ``encode_jpeg(ac=True)``; Cb/Cr are flat chroma planes
    ``128 + 2*q`` with q in [-50,50] quantized under the SECOND quant
    table (tq=1, DC step 16) and coded with the SECOND Huffman set
    (tid=1) — so per-component quant-table and Huffman-table selection,
    interleaved MCU layout, and per-component DC predictors are all
    load-bearing for a correct decode."""
    import struct

    wb = n_chars % 8 + 1
    hb = doc_id % 6 + 1
    w, h = wb * 8, hb * 8
    dc0 = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac0 = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc1 = _jpeg_canonical(_JPEG_DC1_BITS, _JPEG_DC1_VALS)
    ac1 = _jpeg_canonical(_JPEG_AC1_BITS, _JPEG_AC1_VALS)
    bw = _JpegBitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for r in range(hb):
        y_dc = 64 + (doc_id + r) % 128 - 128
        cb_dc = (doc_id * 7 + r) % 101 - 50
        cr_dc = (doc_id * 13 + r) % 101 - 50
        for c in range(wb):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, r, c)
            by_nat = {4: qh, 32: qv, 36: qd}
            coeffs = [(pos, by_nat[nat]) for pos, nat in _JPEG_AC_POS]
            _jpeg_write_block(bw, dc0, ac0, y_dc - preds[1], coeffs)
            preds[1] = y_dc
            _jpeg_write_block(bw, dc1, ac1, cb_dc - preds[2], None)
            preds[2] = cb_dc
            _jpeg_write_block(bw, dc1, ac1, cr_dc - preds[3], None)
            preds[3] = cr_dc
    qtab0 = bytes([0x00]) + bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    qtab1 = bytes([0x01]) + bytes([_JPEG_QDC_CHROMA] + [_JPEG_QAC] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        _jpeg_segment(
            0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        )
        + _jpeg_segment(
            0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        )
        # two tables in ONE DHT segment: real encoders pack them, so the
        # decoder's multi-table segment walk is exercised too
        + _jpeg_segment(
            0xC4,
            bytes([0x01]) + bytes(_JPEG_DC1_BITS) + bytes(_JPEG_DC1_VALS)
            + bytes([0x11]) + bytes(_JPEG_AC1_BITS) + bytes(_JPEG_AC1_VALS),
        )
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, qtab0 + qtab1)  # two quant tables, one DQT
        + _jpeg_segment(0xC0, sof)
        + dht
        + _jpeg_segment(0xDA, sos)
        + bw.flush()
        + b"\xff\xd9"
    )


def encode_jpeg_420(doc_id: int, n_chars: int) -> bytes:
    """A real baseline YCbCr 4:2:0 JPEG — the sampling most camera
    JPEGs ship: Y declared 2x2, chroma 1x1, so each MCU covers a 16x16
    tile and carries FOUR Y blocks (in 2x2 MCU-local scan order, which
    the DC predictor chains across) plus one Cb and one Cr block at
    half resolution.  Dimensions are whole MCUs: w = 16*(n_chars%4+1),
    h = 16*(doc_id%3+1).  Y block (R, C) of the 2*hm x 2*wm grid uses
    the same fill+AC synthesis as ``encode_jpeg(ac=True)`` (indexed by
    the GLOBAL block row/col, so the oracle is the same closed form on
    a finer grid); chroma block of MCU row my is flat
    ``128 + 2*((doc_id*k + my) % 101 - 50)`` under the tq=1 table."""
    import struct

    wm = n_chars % 4 + 1  # MCU columns
    hm = doc_id % 3 + 1  # MCU rows
    w, h = wm * 16, hm * 16
    dc0 = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac0 = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc1 = _jpeg_canonical(_JPEG_DC1_BITS, _JPEG_DC1_VALS)
    ac1 = _jpeg_canonical(_JPEG_AC1_BITS, _JPEG_AC1_VALS)
    bw = _JpegBitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for my in range(hm):
        cb_dc = (doc_id * 7 + my) % 101 - 50
        cr_dc = (doc_id * 13 + my) % 101 - 50
        for mx in range(wm):
            for r in range(2):  # MCU-local Y scan order: row-major 2x2
                for c in range(2):
                    R, C = 2 * my + r, 2 * mx + c
                    y_dc = 64 + (doc_id + R) % 128 - 128
                    qh, qv, qd = _jpeg_ac_coeffs(doc_id, R, C)
                    by_nat = {4: qh, 32: qv, 36: qd}
                    coeffs = [
                        (pos, by_nat[nat]) for pos, nat in _JPEG_AC_POS
                    ]
                    _jpeg_write_block(bw, dc0, ac0, y_dc - preds[1], coeffs)
                    preds[1] = y_dc
            _jpeg_write_block(bw, dc1, ac1, cb_dc - preds[2], None)
            preds[2] = cb_dc
            _jpeg_write_block(bw, dc1, ac1, cr_dc - preds[3], None)
            preds[3] = cr_dc
    qtab0 = bytes([0x00]) + bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    qtab1 = bytes([0x01]) + bytes([_JPEG_QDC_CHROMA] + [_JPEG_QAC] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        _jpeg_segment(
            0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        )
        + _jpeg_segment(
            0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        )
        + _jpeg_segment(
            0xC4,
            bytes([0x01]) + bytes(_JPEG_DC1_BITS) + bytes(_JPEG_DC1_VALS)
            + bytes([0x11]) + bytes(_JPEG_AC1_BITS) + bytes(_JPEG_AC1_VALS),
        )
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, qtab0 + qtab1)
        + _jpeg_segment(0xC0, sof)
        + dht
        + _jpeg_segment(0xDA, sos)
        + bw.flush()
        + b"\xff\xd9"
    )



class _JpegBitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any non-stuffing marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("unexpected marker inside entropy data")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, t: int) -> int:
        v = 0
        for _ in range(t):
            v = (v << 1) | self.bit()
        return v

    def decode(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            got = table.get((length, code))
            if got is not None:
                return got
        raise ValueError("invalid Huffman code in JPEG stream")

    def restart(self) -> None:
        """Consume an RSTn marker: drop the padding bits of the current
        byte, then the next two bytes must be FF D0..D7."""
        self.n = 0
        if self.data[self.pos] != 0xFF or not (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


def _jpeg_extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_parse(payload: bytes) -> tuple[int, int, list[tuple[int, "np.ndarray"]]]:
    """REAL baseline JPEG parse to per-component rasters: marker walk
    (APPn/COM skipped), DQT (8-bit, multi-table segments), SOF0 with
    1 or 3 components all sampled 1x1 (progressive SOF2, arithmetic
    and subsampled streams are rejected loudly), DHT canonical-Huffman
    reconstruction (multi-table segments), DRI/RSTn restart intervals
    (byte realign + ALL DC predictors reset), then interleaved
    per-MCU entropy decode with each scan component's own quant table,
    Huffman pair and DC predictor (DC predict + EXTEND, AC run/size
    with EOB and ZRL), dezigzag, dequantize, orthonormal IDCT, +128
    level shift, clamp.  Returns (w, h, [(component_id, raster)]) in
    scan order with rasters cropped to the SOF dimensions."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    i = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    comps: list[tuple[int, int]] = []  # SOF order: (component_id, tq)
    scan: list[tuple[int, int, int]] | None = None  # (cid, dc_id, ac_id)
    restart_interval = 0
    blocks: dict[int, list[np.ndarray]] = {}
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        data = payload[i + 4 : i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(data):
                pq, tq = data[j] >> 4, data[j] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                zz = np.frombuffer(data[j + 1 : j + 65], dtype=np.uint8)
                nat = np.zeros(64)
                nat[_JPEG_ZIGZAG] = zz
                qtabs[tq] = nat.reshape(8, 8)
                j += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nf = struct.unpack(">BHHB", data[:6])
            if prec != 8 or nf not in (1, 3):
                raise NotImplementedError(
                    f"only 8-bit 1- or 3-component baseline JPEG (got "
                    f"precision={prec}, components={nf})"
                )
            comps = []
            for k in range(nf):
                cid, hv, tq = data[6 + 3 * k : 9 + 3 * k]
                hi, vi = hv >> 4, hv & 15
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} unsupported (1-2 only)"
                    )
                comps.append((cid, hi, vi, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise NotImplementedError(
                f"non-baseline SOF{marker - 0xC0} JPEG unsupported"
            )
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            j = 0
            while j < len(data):
                cls, tid = data[j] >> 4, data[j] & 15
                bits = list(data[j + 1 : j + 17])
                nvals = sum(bits)
                vals = list(data[j + 17 : j + 17 + nvals])
                inv = {
                    (length, code): v
                    for v, (code, length) in _jpeg_canonical(bits, vals).items()
                }
                huff[(cls, tid)] = inv
                j += 17 + nvals
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            if w is None:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "non-interleaved (multi-scan) JPEG unsupported"
                )
            tq_of = {c[0]: c[3] for c in comps}
            # per T.81 a single-component scan is NOT MCU-interleaved:
            # each data unit is one block regardless of declared factors
            samp = (
                {comps[0][0]: (1, 1)}
                if len(comps) == 1
                else {c[0]: (c[1], c[2]) for c in comps}
            )
            scan = []
            for k in range(ns):
                cs, tda = data[1 + 2 * k], data[2 + 2 * k]
                if cs not in tq_of:
                    raise ValueError(f"SOS component {cs} not in SOF")
                scan.append((cs, tda >> 4, tda & 15))
            hmax = max(hi for hi, _ in samp.values())
            vmax = max(vi for _, vi in samp.values())
            br = _JpegBitReader(payload, i)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            preds = {cid: 0 for cid, _, _ in scan}
            blocks = {cid: [] for cid, _, _ in scan}
            for mcu in range(mcux * mcuy):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    br.restart()
                    preds = dict.fromkeys(preds, 0)  # RST resets ALL preds
                for cid, dc_id, ac_id in scan:
                    q = qtabs[tq_of[cid]]
                    dc_t, ac_t = huff[(0, dc_id)], huff[(1, ac_id)]
                    hi, vi = samp[cid]
                    for _blk in range(hi * vi):  # MCU-local scan order
                        zz = np.zeros(64)
                        t = br.decode(dc_t)
                        preds[cid] += _jpeg_extend(br.receive(t), t)
                        zz[0] = preds[cid]
                        k = 1
                        while k < 64:
                            rs = br.decode(ac_t)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL: 16 zeros
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC run past end of block")
                            zz[k] = _jpeg_extend(
                                br.receive(rs & 15), rs & 15
                            )
                            k += 1
                        nat = np.zeros(64)
                        nat[_JPEG_ZIGZAG] = zz
                        coef = nat.reshape(8, 8) * q
                        spatial = _IDCT_M @ coef @ _IDCT_M.T
                        blocks[cid].append(
                            np.clip(np.round(spatial + 128), 0, 255).astype(
                                np.uint8
                            )
                        )
            # br.pos is always the first UNREAD byte (partially-consumed
            # bits live in acc/n, but pos already advanced past their
            # byte), so the next marker search resumes exactly there --
            # adding 1 when n>0 would skip the 0xFF of an adjacent marker.
            i = br.pos
            while i < len(payload) and payload[i] != 0xFF:
                i += 1
        else:  # APPn / COM / anything skippable
            pass
    if scan is None or w is None:
        raise ValueError("JPEG missing SOS/SOF")
    out: list[tuple[int, np.ndarray]] = []
    for cid, _, _ in scan:
        hi, vi = samp[cid]
        raster = np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.uint8)
        for idx, blk in enumerate(blocks[cid]):
            m, j = divmod(idx, hi * vi)  # MCU index, MCU-local block
            my, mx = divmod(m, mcux)
            r, c = divmod(j, hi)
            by, bx = my * vi + r, mx * hi + c
            raster[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        # crop MCU padding to this component's own sampled dims
        wi = -(-w * hi // hmax)  # ceil
        hi_dim = -(-h * vi // vmax)
        out.append((cid, raster[:hi_dim, :wi]))
    return int(w), int(h), out


# sign of the u=4 DCT basis per block-local coordinate: cos((2t+1)pi/4)
_JPEG_S4 = np.array([1, -1, -1, 1, 1, -1, -1, 1], dtype=np.int64)


def _jpeg_quad_sums(raster: "np.ndarray") -> tuple[int, int, int]:
    """(sum px*s(x%8), sum px*s(y%8), sum px*s(x%8)*s(y%8)) over the
    raster — the three sums project out exactly 64x the dequantized/8
    AC coefficient at natural positions 4, 32 and 36 per block (every
    other coefficient position and the DC fill cancel), so each AC
    value the stream codes is individually load-bearing for the
    driver hash."""
    h, w = raster.shape
    sx = np.tile(_JPEG_S4, (w + 7) // 8)[:w]
    sy = np.tile(_JPEG_S4, (h + 7) // 8)[:h]
    px = raster.astype(np.int64)
    return (
        int((px * sx[None, :]).sum()),
        int((px * sy[:, None]).sum()),
        int((px * sx[None, :] * sy[:, None]).sum()),
    )


def decode_jpeg(payload: bytes) -> tuple[int, int, float, int, int]:
    """(width, height, mean_pixel, max_pixel, pixel_sum) from a real
    single-component (grayscale) baseline JPEG — see ``_jpeg_parse``
    for the full decode pipeline this drives."""
    w, h, planes = _jpeg_parse(payload)
    if len(planes) != 1:
        raise ValueError(f"expected grayscale JPEG, got {len(planes)} planes")
    px = planes[0][1].reshape(-1)
    return (
        int(w),
        int(h),
        float(px.mean()) if px.size else 0.0,
        int(px.max()) if px.size else 0,
        int(px.sum(dtype=np.int64)),
    )


def decode_jpeg_color(
    payload: bytes,
) -> tuple[int, int, int, int, int, int, int, int, int]:
    """(width, height, y_sum, y_max, cb_sum, cr_sum, ac_h_sum,
    ac_v_sum, ac_d_sum) from a real interleaved YCbCr 4:4:4 baseline
    JPEG: per-plane statistics plus the three quad sums of the Y plane
    (``_jpeg_quad_sums``), which read back the Y AC coefficients."""
    w, h, planes = _jpeg_parse(payload)
    if len(planes) != 3:
        raise ValueError(f"expected YCbCr JPEG, got {len(planes)} planes")
    by_cid = dict(planes)
    y, cb, cr = by_cid[1], by_cid[2], by_cid[3]
    ach, acv, acd = _jpeg_quad_sums(y)
    return (
        int(w),
        int(h),
        int(y.sum(dtype=np.int64)),
        int(y.max()) if y.size else 0,
        int(cb.sum(dtype=np.int64)),
        int(cr.sum(dtype=np.int64)),
        ach,
        acv,
        acd,
    )


@F.pandas_udf(T.BinaryType())
def _jpeg_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    # restart_interval=3: the driver hash also exercises the DRI/RSTn
    # path (byte realignment + DC predictor reset) on every payload
    return pd.Series(
        [
            encode_jpeg(int(d), int(n), restart_interval=3)
            for d, n in zip(doc_id, n_chars)
        ]
    )


JPEG_SCHEMA = (
    "doc_id long, width long, height long, mean_pixel double,"
    " max_pixel long, pixel_sum long"
)


def decode_jpegs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [decode_jpeg(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [f[0] for f in feats],
                "height": [f[1] for f in feats],
                "mean_pixel": [round(f[2], 3) + 0.0 for f in feats],
                "max_pixel": [f[3] for f in feats],
                "pixel_sum": [f[4] for f in feats],
            }
        )


@register(
    "multimodal_jpeg_decode",
    # the oracle rebuilds the per-block-row fill (doc_id + r) % 256 via
    # generate_series — an independent recompute of the decoded raster
    # statistics (w x 8 identical samples per block row; the DC quant
    # step of 8 makes the lossy round trip exact for flat blocks)
    oracle="""
WITH dims AS (
  SELECT doc_id, (n_chars % 8 + 1) * 8 AS w, doc_id % 6 + 1 AS hb
  FROM documents
), px AS (
  SELECT doc_id, w, hb, unnest(generate_series(0, hb - 1)) AS r FROM dims
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(hb) * 8 AS BIGINT) AS height,
       round(avg((doc_id + r) % 256), 3) + 0 AS mean_pixel,
       CAST(max((doc_id + r) % 256) AS BIGINT) AS max_pixel,
       CAST(sum(((doc_id + r) % 256) * w * 8) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id
""",
    description="REAL lossy-codec decode: baseline JPEG (markers + DHT Huffman + dequant + IDCT)",
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a REAL baseline JPEG: marker
    walk, DHT-declared canonical Huffman entropy decode with byte
    unstuffing, DC prediction + EXTEND, dezigzag, dequantization, and
    the exact orthonormal IDCT.  Synthesis pins the lossiness: flat
    8x8 blocks with a DC quant step of 8 reconstruct bit-exactly, so
    the DuckDB oracle predicts the full decoded raster statistics and
    any defect across the entropy/coefficient/transform pipeline
    breaks the driver hash.  Same narrow two-Arrow-stage shape as the
    PNG/PPM paths — decode parallelism == input partitions."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _jpeg_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_jpegs, schema=JPEG_SCHEMA)


@F.pandas_udf(T.BinaryType())
def _jpeg_ac_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    # restart_interval=2 so byte realignment + predictor reset interleave
    # with real AC (run,size) symbols and ZRLs inside one stream
    return pd.Series(
        [
            encode_jpeg(int(d), int(n), restart_interval=2, ac=True)
            for d, n in zip(doc_id, n_chars)
        ]
    )


@F.pandas_udf(T.BinaryType())
def _jpeg_color_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_jpeg_color(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


JPEG_AC_SCHEMA = (
    "doc_id long, width long, height long, pixel_sum long, max_pixel long,"
    " ac_h_sum long, ac_v_sum long, ac_d_sum long"
)


def decode_jpegs_ac(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            w, h, planes = _jpeg_parse(p)
            y = planes[0][1]
            ach, acv, acd = _jpeg_quad_sums(y)
            rows.append(
                (
                    doc_id,
                    w,
                    h,
                    int(y.sum(dtype="int64")),
                    int(y.max()) if y.size else 0,
                    ach,
                    acv,
                    acd,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "pixel_sum", "max_pixel",
                "ac_h_sum", "ac_v_sum", "ac_d_sum",
            ],
        )


JPEG_COLOR_SCHEMA = (
    "doc_id long, width long, height long, y_sum long, y_max long,"
    " cb_sum long, cr_sum long, ac_h_sum long, ac_v_sum long, ac_d_sum long"
)


def decode_jpegs_color(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_jpeg_color(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "y_sum", "y_max",
                "cb_sum", "cr_sum", "ac_h_sum", "ac_v_sum", "ac_d_sum",
            ],
        )


# The AC synthesis in closed form, shared by both oracles: per block
# (r, c) the decoded pixels are fill + ah*s(x) + av*s(y) + ad*s(x)s(y)
# with s summing to zero over a block — so pixel_sum sees only fill,
# max_pixel the best-aligned sign class, and the quad sums exactly
# 64*ah / 64*av / 64*ad per block (see _JPEG_AC_POS / _jpeg_quad_sums).
_JPEG_AC_BLOCKS_CTE = """
WITH dims AS (
  SELECT doc_id, n_chars % 8 + 1 AS wb, doc_id % 6 + 1 AS hb FROM documents
), rows_ AS (
  SELECT doc_id, wb, hb, unnest(generate_series(0, hb - 1)) AS r FROM dims
), blocks AS (
  SELECT doc_id, wb, hb, r, unnest(generate_series(0, wb - 1)) AS c
  FROM rows_
), coef AS (
  SELECT doc_id, wb, hb, r,
         64 + (doc_id + r) % 128 AS fill,
         2 * (CASE WHEN (doc_id + 5*r + 3*c) % 18 < 9
              THEN (doc_id + 5*r + 3*c) % 18 - 9
              ELSE (doc_id + 5*r + 3*c) % 18 - 8 END) AS ah,
         2 * (CASE WHEN (2*doc_id + 7*r + c) % 18 < 9
              THEN (2*doc_id + 7*r + c) % 18 - 9
              ELSE (2*doc_id + 7*r + c) % 18 - 8 END) AS av,
         2 * (CASE WHEN (3*doc_id + r + 11*c) % 18 < 9
              THEN (3*doc_id + r + 11*c) % 18 - 9
              ELSE (3*doc_id + r + 11*c) % 18 - 8 END) AS ad
  FROM blocks
)
"""


@register(
    "multimodal_jpeg_ac_decode",
    oracle=_JPEG_AC_BLOCKS_CTE
    + """
SELECT doc_id,
       CAST(any_value(wb) * 8 AS BIGINT) AS width,
       CAST(any_value(hb) * 8 AS BIGINT) AS height,
       CAST(sum(64 * fill) AS BIGINT) AS pixel_sum,
       CAST(max(fill + greatest(ah + av + ad, ah - av - ad,
                                -ah + av - ad, -ah - av + ad))
            AS BIGINT) AS max_pixel,
       CAST(sum(64 * ah) AS BIGINT) AS ac_h_sum,
       CAST(sum(64 * av) AS BIGINT) AS ac_v_sum,
       CAST(sum(64 * ad) AS BIGINT) AS ac_d_sum
FROM coef GROUP BY doc_id
""",
    description=(
        "REAL JPEG AC path: run/size + ZRL entropy decode of three nonzero"
        " AC coefficients per block, oracle-predicted in closed form"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_ac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a baseline JPEG whose blocks
    are NOT flat: three nonzero AC coefficients per block at natural
    positions 4/32/36 (zigzag runs 9 and 3 plus ZRL+run-8), restart
    markers every 2 MCUs.  The u,v in {0,4} basis trick keeps the IDCT
    integer-exact (each coefficient contributes exactly 2*q per pixel
    with a +/- sign pattern), so DuckDB predicts pixel_sum, max_pixel
    and the three quad sums — which project out each AC coefficient
    individually — making the run/size, ZRL and EXTEND paths
    driver-hash load-bearing."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _jpeg_ac_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_jpegs_ac, schema=JPEG_AC_SCHEMA)


# Per-plane closed form shared by the baseline 4:4:4 and the
# progressive color query (identical coefficients, different scripts).
_JPEG_COLOR_ORACLE = (
    _JPEG_AC_BLOCKS_CTE
    + """
SELECT doc_id,
       CAST(any_value(wb) * 8 AS BIGINT) AS width,
       CAST(any_value(hb) * 8 AS BIGINT) AS height,
       CAST(sum(64 * fill) AS BIGINT) AS y_sum,
       CAST(max(fill + greatest(ah + av + ad, ah - av - ad,
                                -ah + av - ad, -ah - av + ad))
            AS BIGINT) AS y_max,
       CAST(sum(64 * (128 + 2 * ((doc_id * 7 + r) % 101 - 50)))
            AS BIGINT) AS cb_sum,
       CAST(sum(64 * (128 + 2 * ((doc_id * 13 + r) % 101 - 50)))
            AS BIGINT) AS cr_sum,
       CAST(sum(64 * ah) AS BIGINT) AS ac_h_sum,
       CAST(sum(64 * av) AS BIGINT) AS ac_v_sum,
       CAST(sum(64 * ad) AS BIGINT) AS ac_d_sum
FROM coef GROUP BY doc_id
"""
)


@register(
    "multimodal_jpeg_color_decode",
    oracle=_JPEG_COLOR_ORACLE,
    description=(
        "REAL JPEG color path: interleaved YCbCr 4:4:4 MCU decode with"
        " per-component quant/Huffman tables and DC predictors"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_color_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through an interleaved YCbCr 4:4:4
    baseline JPEG: Y carries the AC synthesis, Cb/Cr are flat planes
    quantized under a SECOND quant table (DC step 16 -> pixels
    128 + 2*q) and coded with a SECOND Huffman set, so table
    selection, the 3-blocks-per-MCU scan order and per-component DC
    predictors all change the oracle-predicted per-plane sums."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _jpeg_color_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_jpegs_color, schema=JPEG_COLOR_SCHEMA)


@F.pandas_udf(T.BinaryType())
def _jpeg_420_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_jpeg_420(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


# Y stats over the 2*hm x 2*wm block grid (same closed form as the
# AC query on a finer grid); chroma sums over the half-resolution
# planes (one block per MCU, fill indexed by MCU row).  Shared by the
# baseline and progressive 4:2:0 queries (identical coefficients).
_JPEG_420_ORACLE = """
WITH dims AS (
  SELECT doc_id, n_chars % 4 + 1 AS wm, doc_id % 3 + 1 AS hm FROM documents
), yrows AS (
  SELECT doc_id, wm, hm, unnest(generate_series(0, 2 * hm - 1)) AS r
  FROM dims
), yblocks AS (
  SELECT doc_id, wm, hm, r, unnest(generate_series(0, 2 * wm - 1)) AS c
  FROM yrows
), coef AS (
  SELECT doc_id, wm, hm,
         64 + (doc_id + r) % 128 AS fill,
         2 * (CASE WHEN (doc_id + 5*r + 3*c) % 18 < 9
              THEN (doc_id + 5*r + 3*c) % 18 - 9
              ELSE (doc_id + 5*r + 3*c) % 18 - 8 END) AS ah,
         2 * (CASE WHEN (2*doc_id + 7*r + c) % 18 < 9
              THEN (2*doc_id + 7*r + c) % 18 - 9
              ELSE (2*doc_id + 7*r + c) % 18 - 8 END) AS av,
         2 * (CASE WHEN (3*doc_id + r + 11*c) % 18 < 9
              THEN (3*doc_id + r + 11*c) % 18 - 9
              ELSE (3*doc_id + r + 11*c) % 18 - 8 END) AS ad
  FROM yblocks
), ystats AS (
  SELECT doc_id,
         CAST(any_value(wm) * 16 AS BIGINT) AS width,
         CAST(any_value(hm) * 16 AS BIGINT) AS height,
         CAST(sum(64 * fill) AS BIGINT) AS y_sum,
         CAST(max(fill + greatest(ah + av + ad, ah - av - ad,
                                  -ah + av - ad, -ah - av + ad))
              AS BIGINT) AS y_max,
         CAST(sum(64 * ah) AS BIGINT) AS ac_h_sum,
         CAST(sum(64 * av) AS BIGINT) AS ac_v_sum,
         CAST(sum(64 * ad) AS BIGINT) AS ac_d_sum
  FROM coef GROUP BY doc_id
), crows AS (
  SELECT doc_id, wm, unnest(generate_series(0, hm - 1)) AS my FROM dims
), cstats AS (
  SELECT doc_id,
         CAST(sum(64 * wm * (128 + 2 * ((doc_id * 7 + my) % 101 - 50)))
              AS BIGINT) AS cb_sum,
         CAST(sum(64 * wm * (128 + 2 * ((doc_id * 13 + my) % 101 - 50)))
              AS BIGINT) AS cr_sum
  FROM crows GROUP BY doc_id
)
SELECT y.doc_id, width, height, y_sum, y_max, cb_sum, cr_sum,
       ac_h_sum, ac_v_sum, ac_d_sum
FROM ystats y JOIN cstats c ON y.doc_id = c.doc_id
"""


@register(
    "multimodal_jpeg_420_decode",
    oracle=_JPEG_420_ORACLE,
    description=(
        "REAL JPEG 4:2:0 path: 16x16 MCUs with four Y blocks + half-res"
        " chroma, the sampling most camera JPEGs ship"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_420_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a YCbCr 4:2:0 baseline JPEG
    (Y sampled 2x2, chroma 1x1): the decoder's MCU geometry — four Y
    blocks per 16x16 MCU in MCU-local scan order chained by ONE DC
    predictor, chroma planes assembled at half resolution — is fully
    load-bearing for the oracle match, since a block misplaced within
    its MCU changes the quad sums and a wrong predictor chain changes
    every fill.  Same Arrow-parallel narrow-map plan as the other
    codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _jpeg_420_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_jpegs_color, schema=JPEG_COLOR_SCHEMA)


# Indexed-color (palette) PNG — the third common PNG layout after
# gray/RGB.  Filters run over 1-byte INDICES (bpp=1 changes every
# left-neighbor offset in the filter algebra), then PLTE expands to
# RGB; statistics over the expanded samples make both the defilter and
# the palette lookup oracle-visible.
PNG_PALETTE_SIZE = 64


def _png_palette_entry(j: int) -> tuple[int, int, int]:
    return (j * 37 + 5) % 256, (j * 73 + 11) % 256, (j * 151 + 23) % 256


def encode_png_palette(doc_id: int, n_chars: int) -> bytes:
    """A real 8-bit indexed-color PNG: pixel (x, y) carries palette
    index ``(doc_id + x + y) % 64`` (varying along BOTH axes, so Sub
    diffs are nonzero within every row — a stricter defilter probe
    than the flat-row RGB tier), rows cycle all five filters, and the
    64-entry PLTE is a fixed affine ramp the oracle recomputes."""
    import struct
    import zlib

    w = n_chars % 64 + 1
    h = doc_id % 48 + 1
    prior = np.zeros(w, dtype=np.int64)
    out = bytearray()
    for y in range(h):
        raw = (doc_id + y + np.arange(w, dtype=np.int64)) % PNG_PALETTE_SIZE
        ft = y % 5
        if ft == 0:
            filt = raw
        elif ft == 1:  # Sub (bpp=1: left neighbor is x-1)
            left = np.concatenate([np.zeros(1, dtype=np.int64), raw[:-1]])
            filt = raw - left
        elif ft == 2:  # Up
            filt = raw - prior
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(1, dtype=np.int64), raw[:-1]])
            filt = raw - (left + prior) // 2
        else:  # Paeth
            left = np.concatenate([np.zeros(1, dtype=np.int64), raw[:-1]])
            upleft = np.concatenate(
                [np.zeros(1, dtype=np.int64), prior[:-1]]
            )
            pred = np.array(
                [
                    _paeth(int(a), int(b), int(c))
                    for a, b, c in zip(left, prior, upleft)
                ],
                dtype=np.int64,
            )
            filt = raw - pred
        out.append(ft)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = raw
    plte = b"".join(
        bytes(_png_palette_entry(j)) for j in range(PNG_PALETTE_SIZE)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    z = zlib.compress(bytes(out), 6)
    png = bytearray(_PNG_SIG)
    png.extend(_png_chunk(b"IHDR", ihdr))
    png.extend(_png_chunk(b"PLTE", plte))
    for i in range(0, len(z), _PNG_IDAT_SPLIT):
        png.extend(_png_chunk(b"IDAT", z[i : i + _PNG_IDAT_SPLIT]))
    png.extend(_png_chunk(b"IEND", b""))
    return bytes(png)


@F.pandas_udf(T.BinaryType())
def _png_palette_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_png_palette(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


@register(
    "multimodal_png_palette_decode",
    # per-pixel grid: j = (doc_id + x + y) % 64, palette channels are
    # affine ramps of j — the oracle recomputes the EXPANDED RGB stats
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 64 + 1 AS w, doc_id % 48 + 1 AS h FROM documents
), rows_ AS (
  SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims
), px AS (
  SELECT doc_id, w, h, (doc_id + y + unnest(generate_series(0, w - 1))) % 64
         AS j
  FROM rows_
), chan AS (
  SELECT doc_id, w, h,
         (j * 37 + 5) % 256 AS r,
         (j * 73 + 11) % 256 AS g,
         (j * 151 + 23) % 256 AS b
  FROM px
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       round(sum(r + g + b) / (3.0 * any_value(w) * any_value(h)), 3) + 0
         AS mean_pixel,
       CAST(max(greatest(r, g, b)) AS BIGINT) AS max_pixel,
       CAST(sum(r + g + b) AS BIGINT) AS pixel_sum
FROM chan GROUP BY doc_id
""",
    description=(
        "REAL indexed-color PNG decode: defilter over 1-byte indices +"
        " PLTE expansion to RGB"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_png_palette_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through an indexed-color PNG whose
    pixel indices vary along both axes (nonzero Sub diffs in every
    row) under all five cycling filters, then expands through a
    64-entry PLTE.  The oracle recomputes the expanded RGB statistics
    per pixel, so a defilter bug at bpp=1 (different left-neighbor
    offsets than the RGB tier) or a palette-lookup bug breaks the
    driver hash.  Same two-Arrow-stage narrow plan as the other codec
    tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _png_palette_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_pngs, schema=PNG_SCHEMA)


# Adam7 interlaced RGB PNG.  The synthesis varies along BOTH axes
# and per channel, and the query's checksum is POSITION-WEIGHTED —
# sum/max/mean are permutation-invariant, so a de-interlacer that
# scattered pixels to the wrong (x, y) could pass them; the weighted
# sum cannot be fooled by any misplacement.
def _png_filter_row(
    raw: "np.ndarray", prior: "np.ndarray", ft: int, bpp: int
) -> "np.ndarray":
    """Apply PNG filter ``ft`` to one raw scanline (both int64)."""
    left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
    if ft == 0:
        return raw
    if ft == 1:
        return raw - left
    if ft == 2:
        return raw - prior
    if ft == 3:
        return raw - (left + prior) // 2
    upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prior[:-bpp]])
    pred = np.array(
        [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, upleft)],
        dtype=np.int64,
    )
    return raw - pred


def encode_png_interlaced(doc_id: int, n_chars: int) -> bytes:
    """A real Adam7-interlaced 8-bit RGB PNG: sample (x, y, c) is
    ``(doc_id + 3x + 5y + 7c) % 256`` (varying along every axis), each
    of the seven passes filtered independently with filters cycling
    over the PASS's own rows — so de-interlacing, per-pass filter
    state, and the empty-pass rule are all load-bearing."""
    import struct
    import zlib

    w = n_chars % 64 + 1
    h = doc_id % 48 + 1
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    cs = np.arange(3, dtype=np.int64)
    img = (
        doc_id + 3 * xs[None, :, None] + 5 * ys[:, None, None] + 7 * cs[None, None, :]
    ) % 256
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]  # (hp, wp, 3)
        hp, wp = sub.shape[:2]
        if hp == 0 or wp == 0:
            continue  # empty pass emits nothing, not even filter bytes
        prior = np.zeros(wp * 3, dtype=np.int64)
        for r in range(hp):
            raw = sub[r].reshape(-1)
            ft = r % 5
            filt = _png_filter_row(raw, prior, ft, 3)
            out.append(ft)
            out.extend((filt % 256).astype(np.uint8).tobytes())
            prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    z = zlib.compress(bytes(out), 6)
    png = bytearray(_PNG_SIG)
    png.extend(_png_chunk(b"IHDR", ihdr))
    for i in range(0, len(z), _PNG_IDAT_SPLIT):
        png.extend(_png_chunk(b"IDAT", z[i : i + _PNG_IDAT_SPLIT]))
    png.extend(_png_chunk(b"IEND", b""))
    return bytes(png)


@F.pandas_udf(T.BinaryType())
def _png_interlaced_payload(
    doc_id: pd.Series, n_chars: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            encode_png_interlaced(int(d), int(n))
            for d, n in zip(doc_id, n_chars)
        ]
    )


PNG_ILACE_SCHEMA = (
    "doc_id long, width long, height long, pixel_sum long, max_pixel long,"
    " pos_checksum long"
)


def decode_pngs_interlaced(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            w, h, img = _png_parse(p)
            v = img.astype(np.int64)
            xs = np.arange(w, dtype=np.int64)
            ys = np.arange(h, dtype=np.int64)
            cs = np.arange(img.shape[2], dtype=np.int64)
            wgt = (
                1
                + (xs[None, :, None] + 2 * ys[:, None, None] + cs[None, None, :])
                % 9
            )
            rows.append(
                (
                    doc_id,
                    w,
                    h,
                    int(v.sum()),
                    int(v.max()) if v.size else 0,
                    int((v * wgt).sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "pixel_sum", "max_pixel",
                "pos_checksum",
            ],
        )


@register(
    "multimodal_png_interlaced_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 64 + 1 AS w, doc_id % 48 + 1 AS h FROM documents
), ys AS (
  SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims
), xs AS (
  SELECT doc_id, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM ys
), sam AS (
  SELECT doc_id, w, h, y, x, unnest(generate_series(0, 2)) AS c FROM xs
), v AS (
  SELECT doc_id, w, h,
         (doc_id + 3 * x + 5 * y + 7 * c) % 256 AS val,
         1 + (x + 2 * y + c) % 9 AS wgt
  FROM sam
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(sum(val) AS BIGINT) AS pixel_sum,
       CAST(max(val) AS BIGINT) AS max_pixel,
       CAST(sum(val * wgt) AS BIGINT) AS pos_checksum
FROM v GROUP BY doc_id
""",
    description=(
        "REAL Adam7 interlaced PNG decode: seven independently filtered"
        " passes scattered back, position-weighted checksum"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_png_interlaced_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through an Adam7-interlaced RGB PNG
    whose samples vary along x, y and channel.  The oracle's
    position-weighted checksum makes the de-interlacer itself
    falsifiable: sum/max are invariant under pixel permutation, so
    only the weighted sum catches a pass scattered to wrong
    coordinates or per-pass filter state bleeding across passes.  Same
    two-Arrow-stage narrow plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _png_interlaced_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(
        decode_pngs_interlaced, schema=PNG_ILACE_SCHEMA
    )


# G.711 mu-law WAV — a REAL compressed telephony audio codec whose
# expansion is a pure per-byte formula (no recursive predictor state),
# so a DuckDB oracle can recompute every decoded sample in closed form.
# The RIFF container is hand-rolled: stdlib ``wave`` refuses non-PCM
# format tags, which is exactly what makes this tier load-bearing —
# the chunk walk, the fmt format-tag dispatch, and the expansion
# formula are all this module's own code.
WAV_ULAW_FORMAT = 7  # WAVE_FORMAT_MULAW


def _ulaw_expand(b: int) -> int:
    """CCITT G.711 mu-law byte -> linear 16-bit sample (the classic
    Sun ulaw2linear: complement, extract exponent/mantissa, re-bias)."""
    u = ~b & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return 0x84 - t if u & 0x80 else t - 0x84


def encode_wav_ulaw(doc_id: int, n_chars: int) -> bytes:
    """A real RIFF WAV with format tag 7 (mu-law), mono 8 kHz, 8 bits
    per sample; sample byte i is ``(doc_id + i) % 256`` so the oracle
    enumerates the exact decoded waveform."""
    import struct

    n = n_chars % 800 + 50
    data = bytes((doc_id + i) % 256 for i in range(n))
    fmt = struct.pack(
        "<HHIIHH", WAV_ULAW_FORMAT, 1, 8000, 8000, 1, 8
    )  # tag, ch, rate, byterate, align, bits
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")  # RIFF word padding
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_ulaw(payload: bytes) -> tuple[int, int, int, int, int]:
    """(n_samples, sample_rate, sample_sum, sample_max, sample_min)
    from a real RIFF chunk walk (fmt format-tag check, word-aligned
    chunk skipping) + per-byte G.711 expansion."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    fmt_tag = rate = None
    data: bytes | None = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if i + 8 + clen > len(payload):
            # a corrupt length would otherwise surface as a
            # struct.error on the fmt unpack or a silently TRUNCATED
            # data chunk (fewer decoded samples) — fail loud instead,
            # per the codec tiers' contract
            raise ValueError(
                f"WAV chunk {cid!r} at {i} claims {clen} bytes but only "
                f"{len(payload) - i - 8} remain"
            )
        body = payload[i + 8 : i + 8 + clen]
        if cid == b"fmt ":
            fmt_tag, nch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if nch != 1 or bits != 8:
                raise NotImplementedError("only mono 8-bit mu-law WAV")
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen % 2)  # chunks are word-aligned
    if fmt_tag is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if fmt_tag != WAV_ULAW_FORMAT:
        raise NotImplementedError(f"format tag {fmt_tag}, expected mu-law (7)")
    samples = np.array([_ulaw_expand(b) for b in data], dtype=np.int64)
    return (
        int(samples.size),
        int(rate),
        int(samples.sum()),
        int(samples.max()) if samples.size else 0,
        int(samples.min()) if samples.size else 0,
    )


@F.pandas_udf(T.BinaryType())
def _ulaw_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_wav_ulaw(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


ULAW_SCHEMA = (
    "doc_id long, n_samples long, sample_rate long, sample_sum long,"
    " sample_max long, sample_min long"
)


def decode_wavs_ulaw(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_wav_ulaw(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_samples", "sample_rate", "sample_sum",
                "sample_max", "sample_min",
            ],
        )


@register(
    "multimodal_ulaw_decode",
    # the G.711 expansion in SQL: u = 255 - byte, exponent/mantissa
    # split, re-bias — the same closed form the decoder implements,
    # recomputed independently over the synthesized byte stream
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 800 + 50 AS n FROM documents
), bytes_ AS (
  SELECT doc_id, n,
         (doc_id + unnest(generate_series(0, n - 1))) % 256 AS b
  FROM dims
), expanded AS (
  SELECT doc_id, n,
         CASE WHEN (255 - b) >= 128
              THEN 132 - ((((255 - b) % 16) * 8 + 132)
                          * (1 << (((255 - b) // 16) % 8)))
              ELSE (((255 - b) % 16) * 8 + 132)
                   * (1 << (((255 - b) // 16) % 8)) - 132
         END AS s
  FROM bytes_
)
SELECT doc_id,
       CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(sum(s) AS BIGINT) AS sample_sum,
       CAST(max(s) AS BIGINT) AS sample_max,
       CAST(min(s) AS BIGINT) AS sample_min
FROM expanded GROUP BY doc_id
""",
    description=(
        "REAL compressed-audio decode: G.711 mu-law WAV (hand-rolled"
        " RIFF walk + per-byte expansion)"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_ulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a mu-law (G.711) WAV — the
    compressed telephony codec — with a hand-rolled RIFF container
    (stdlib ``wave`` refuses non-PCM tags): word-aligned chunk walk,
    format-tag dispatch, and the complement/exponent/mantissa/re-bias
    expansion, every decoded sample recomputed by the oracle in closed
    form.  Same two-Arrow-stage narrow plan as the other codec
    tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _ulaw_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_wavs_ulaw, schema=ULAW_SCHEMA)


# 16-bit grayscale PNG — the scientific-imaging depth.  The filter
# algebra runs over BYTES with a 2-byte left-neighbor offset, then
# big-endian pairs recombine into samples; a decoder that filtered over
# samples (or combined little-endian) breaks on every non-None row.
def encode_png_16(doc_id: int, n_chars: int) -> bytes:
    """A real 16-bit grayscale PNG: sample (x, y) is
    ``(doc_id * 251 + 9x + 17y) % 65536`` (both bytes of most samples
    nonzero, varying along both axes), rows cycle all five filters."""
    import struct
    import zlib

    w = n_chars % 64 + 1
    h = doc_id % 48 + 1
    xs = np.arange(w, dtype=np.int64)
    prior = np.zeros(2 * w, dtype=np.int64)
    out = bytearray()
    for y in range(h):
        samples = (doc_id * 251 + 9 * xs + 17 * y) % 65536
        raw = np.empty(2 * w, dtype=np.int64)
        raw[0::2] = samples >> 8
        raw[1::2] = samples & 0xFF
        ft = y % 5
        filt = _png_filter_row(raw, prior, ft, 2)
        out.append(ft)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)  # depth 16, gray
    z = zlib.compress(bytes(out), 6)
    png = bytearray(_PNG_SIG)
    png.extend(_png_chunk(b"IHDR", ihdr))
    for i in range(0, len(z), _PNG_IDAT_SPLIT):
        png.extend(_png_chunk(b"IDAT", z[i : i + _PNG_IDAT_SPLIT]))
    png.extend(_png_chunk(b"IEND", b""))
    return bytes(png)


@F.pandas_udf(T.BinaryType())
def _png16_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_png_16(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


@register(
    "multimodal_png16_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 64 + 1 AS w, doc_id % 48 + 1 AS h FROM documents
), ys AS (
  SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims
), px AS (
  SELECT doc_id, w, h,
         (doc_id * 251 + 9 * unnest(generate_series(0, w - 1)) + 17 * y)
           % 65536 AS v
  FROM ys
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       round(sum(v) / (1.0 * any_value(w) * any_value(h)), 3) + 0
         AS mean_pixel,
       CAST(max(v) AS BIGINT) AS max_pixel,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id
""",
    description=(
        "REAL 16-bit grayscale PNG decode: byte-wise filters with 2-byte"
        " offsets, big-endian sample recombination"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_png16_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a 16-bit grayscale PNG whose
    samples vary along both axes under all five cycling filters.  The
    oracle recomputes sum/max/mean over the 16-bit SAMPLES, so both a
    filter-offset bug (depth 16 moves the left neighbor to 2 bytes
    back) and an endianness bug in the byte-pair recombination break
    the driver hash.  Same two-Arrow-stage narrow plan as the other
    codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _png16_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_pngs, schema=PNG_SCHEMA)


# --------------------------------------------------------------------------
# Progressive JPEG (SOF2) — the most common JPEG variant on the web.
# Real spectral-selection + successive-approximation coding over the
# same Huffman/IDCT machinery as the baseline decoder: four scans (DC
# first pass at Al=1, DC refinement, AC first pass over the 1..63 band
# at Al=1 with EOB-run coding, AC refinement with correction bits and
# newly-significant insertion — ITU T.81 G.1.2 / G.2, the same scan
# script libjpeg's jpeg_simple_progression emits for grayscale).  The
# fixture reuses the {0,4}^2 integer-exact AC synthesis, so after the
# refinement scans complete the coefficient buffer equals the
# baseline-AC quantized values bit for bit and the SAME DuckDB
# closed-form oracle (_JPEG_AC_BLOCKS_CTE) predicts the decode.
# --------------------------------------------------------------------------

# AC table for the progressive scans: every (run 0-15, size 1-4)
# symbol, ZRL, and EOBn for runs up to 2^6-1 blocks (fixture max 48
# blocks/band) — 71 symbols, all length 8 (canonical, incomplete).
_JPEG_PROG_AC_VALS = (
    [r << 4 for r in range(6)]  # EOB0..EOB5
    + [0xF0]  # ZRL
    + [(run << 4) | size for run in range(16) for size in range(1, 5)]
)
_JPEG_PROG_AC_BITS = [0] * 7 + [len(_JPEG_PROG_AC_VALS)] + [0] * 8


class _JpegProgWriter(_JpegBitWriter):
    """Bit writer with the two progressive-encoder accumulators:
    pending EOB run and buffered correction bits (libjpeg's
    emit_eobrun / BE buffer — T.81 G.1.2.2-3).  Correction bits for
    already-nonzero coefficients are NOT emitted where they logically
    occur; they queue until the next Huffman symbol (ZRL, newly-
    significant, or flushed EOBn) and follow its extension bits."""

    def __init__(self, ac_codes: dict[int, tuple[int, int]]) -> None:
        super().__init__()
        self.ac_codes = ac_codes
        self.eobrun = 0
        self.pending_bits: list[int] = []

    def emit_symbol(self, rs: int) -> None:
        code, length = self.ac_codes[rs]
        self.write(code, length)

    def emit_pending(self) -> None:
        for b in self.pending_bits:
            self.write(b, 1)
        self.pending_bits = []

    def flush_eobrun(self) -> None:
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            self.emit_symbol(r << 4)
            if r:
                self.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        self.emit_pending()


def _jpeg_prog_restart(bw: "_JpegBitWriter", rst: int) -> int:
    """Byte-align (1-padded) and emit RSTn; returns the next marker
    number (modulo-8 cycle, restarting at 0 each scan per T.81)."""
    bw.buf = bytearray(bw.flush())
    bw.buf += bytes([0xFF, 0xD0 + rst])
    return (rst + 1) % 8


def _jpeg_prog_scan_header(
    comps: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int
) -> bytes:
    data = bytes([len(comps)])
    for cid, td, ta in comps:
        data += bytes([cid, (td << 4) | ta])
    return _jpeg_segment(0xDA, data + bytes([ss, se, (ah << 4) | al]))


def encode_jpeg_progressive(
    doc_id: int, n_chars: int, restart_interval: int = 0
) -> bytes:
    """A real progressive (SOF2) grayscale JPEG carrying the same
    quantized coefficients as ``encode_jpeg(ac=True)`` — flat fill
    64 + (doc_id+r) % 128 per block row plus the three {0,4}^2 AC
    coefficients — split across a five-scan grayscale script:
    DC(Al=1), DC refine, AC 1-63 first pass (Al=2, EOB-run coded),
    then the AC refinement ladder (Ah=2,Al=1) and (Ah=1,Al=0) with
    correction bits and newly-significant +/-1<<Al insertions.
    AC values with |v| < 4 vanish in the first pass and materialize
    only in the refinement scans (|v| in [2,3] at Al=1, |v| = 1 at
    Al=0), and ~4% of blocks carry an all-zero first-pass band so
    EOB runs genuinely span blocks — every successive-approximation
    code path is load-bearing for the oracle hash."""
    import struct

    wb = n_chars % 8 + 1
    hb = doc_id % 6 + 1
    w, h = wb * 8, hb * 8
    ss_band = 1, 63
    # per-block zigzag-indexed quantized coefficients
    zz_blocks: list[np.ndarray] = []
    for r in range(hb):
        dc = 64 + (doc_id + r) % 128 - 128
        for c in range(wb):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, r, c)
            zz = np.zeros(64, dtype=np.int64)
            zz[0] = dc
            by_nat = {4: qh, 32: qv, 36: qd}
            for pos, nat in _JPEG_AC_POS:
                zz[pos] = by_nat[nat]
            zz_blocks.append(zz)

    dc_codes = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    # scan 1: DC first pass, Al=1 (arithmetic shift; diff-coded)
    bw = _JpegBitWriter()
    pred = rst = 0
    for b, zz in enumerate(zz_blocks):
        if restart_interval and b and b % restart_interval == 0:
            rst = _jpeg_prog_restart(bw, rst)
            pred = 0  # RST resets the DC predictor
        v = int(zz[0]) >> 1
        diff = v - pred
        pred = v
        t = abs(diff).bit_length()
        code, length = dc_codes[t]
        bw.write(code, length)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    scan_dc1 = _jpeg_prog_scan_header([(1, 0, 0)], 0, 0, 0, 1) + bw.flush()

    # scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block
    bw = _JpegBitWriter()
    rst = 0
    for b, zz in enumerate(zz_blocks):
        if restart_interval and b and b % restart_interval == 0:
            rst = _jpeg_prog_restart(bw, rst)
        bw.write(int(zz[0]) & 1, 1)
    scan_dc2 = _jpeg_prog_scan_header([(1, 0, 0)], 0, 0, 1, 0) + bw.flush()

    # scan 3: AC first pass (Ss=1..Se=63, Al=2) with EOB-run coding.
    # Al=2 (not 1) so that blocks whose three AC values are all
    # |v| <= 3 — ~4% of fixture blocks — carry an EMPTY first-pass
    # band and real EOB runs span blocks (with Al=1 the synthesis
    # never empties a band and EOBRUN would be stuck at 1).
    lo, hi = ss_band
    ac_al = 2
    pw = _JpegProgWriter(ac_codes)
    rst = 0
    for b, zz in enumerate(zz_blocks):
        if restart_interval and b and b % restart_interval == 0:
            pw.flush_eobrun()  # an EOB run never crosses a restart
            rst = _jpeg_prog_restart(pw, rst)
        nz = [
            (k, (abs(int(zz[k])) >> ac_al) * (1 if zz[k] > 0 else -1))
            for k in range(lo, hi + 1)
            if abs(int(zz[k])) >> ac_al
        ]
        if not nz:
            pw.eobrun += 1
            continue
        pw.flush_eobrun()
        kprev = lo
        for k, s in nz:
            run = k - kprev
            while run >= 16:
                pw.emit_symbol(0xF0)
                run -= 16
            t = abs(s).bit_length()
            pw.emit_symbol((run << 4) | t)
            pw.write(s if s >= 0 else s + (1 << t) - 1, t)
            kprev = k + 1
        if kprev <= hi:
            pw.eobrun += 1
    pw.flush_eobrun()
    scan_ac1 = _jpeg_prog_scan_header([(1, 0, 0)], lo, hi, 0, ac_al) + pw.flush()

    # scans 4..5: AC refinement ladder (Ah=2,Al=1) then (Ah=1,Al=0) —
    # T.81 G.1.2.3 / libjpeg encode_mcu_AC_refine: at precision Al,
    # |v|>>Al == 1 is newly significant (its history |v|>>Ah is
    # necessarily 0), > 1 queues a correction bit behind the next
    # Huffman symbol or flushed EOB run.
    ac_refines = []
    for al in range(ac_al - 1, -1, -1):
        pw = _JpegProgWriter(ac_codes)
        rst = 0
        for b, zz in enumerate(zz_blocks):
            if restart_interval and b and b % restart_interval == 0:
                pw.flush_eobrun()  # flushes buffered correction bits too
                rst = _jpeg_prog_restart(pw, rst)
            absval = [abs(int(zz[k])) >> al for k in range(lo, hi + 1)]
            eob = 0  # band index AFTER the last newly-significant coef
            for j, a in enumerate(absval):
                if a == 1:
                    eob = j + 1
            run = 0
            block_bits: list[int] = []
            for j, a in enumerate(absval):
                if a == 0:
                    run += 1
                    continue
                if a > 1:  # already nonzero: buffer its correction bit
                    block_bits.append(a & 1)
                    continue
                # newly significant (+/-1<<al): ZRLs as needed, then code
                while run > 15 and j < eob:
                    pw.flush_eobrun()
                    pw.emit_symbol(0xF0)
                    run -= 16
                    pw.pending_bits, block_bits = block_bits, []
                    pw.emit_pending()
                pw.flush_eobrun()
                pw.emit_symbol((run << 4) | 1)
                pw.write(1 if zz[lo + j] > 0 else 0, 1)
                pw.pending_bits, block_bits = block_bits, []
                pw.emit_pending()
                run = 0
            if run > 0 or block_bits:
                pw.eobrun += 1
                pw.pending_bits.extend(block_bits)
                if pw.eobrun == 0x7FFF:
                    pw.flush_eobrun()
        pw.flush_eobrun()
        ac_refines.append(
            _jpeg_prog_scan_header([(1, 0, 0)], lo, hi, al + 1, al)
            + pw.flush()
        )

    qtab = bytes([0]) + bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = (
        bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS)
    )
    dri = (
        _jpeg_segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, qtab)
        + _jpeg_segment(0xC2, sof)  # SOF2: progressive DCT, Huffman
        + _jpeg_segment(0xC4, dht_dc)
        + _jpeg_segment(0xC4, dht_ac)
        + dri
        + scan_dc1
        + scan_dc2
        + scan_ac1
        + b"".join(ac_refines)
        + b"\xff\xd9"
    )


def _jpeg_parse_progressive(
    payload: bytes,
) -> tuple[int, int, list[tuple[int, "np.ndarray"]]]:
    """REAL progressive JPEG decode (SOF2, Huffman, all components
    sampled 1x1): a per-component zigzag coefficient buffer
    accumulates across scans — DC first (diff + EXTEND, << Al) and DC
    refinement (raw bit at Al); AC first (run/size with EOBn runs
    spanning blocks, ZRL, << Al) and AC refinement (newly-significant
    +/-1<<Al via size-1 symbols + sign bit, one correction bit per
    already-nonzero coefficient including inside ZRL skips and EOB
    runs) — then one dezigzag + dequantize + orthonormal IDCT at EOI,
    exactly the T.81 G.2 procedure.  DC scans may be interleaved
    (ns = nf, with h_i x v_i blocks per component per MCU for
    subsampled streams); AC scans are single-component per the spec
    and walk the component's OWN block grid (A.2.2 non-interleaved
    order) mapped into the MCU-padded coefficient buffer.  Sampling
    factors 1-2 are supported (4:4:4, 4:2:2, 4:2:0).  Returns
    (w, h, [(component_id, raster)]) like ``_jpeg_parse``; reference
    parity: byte stuffing, marker walk and multi-table DQT/DHT
    segments behave identically to the baseline parser."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    i = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    coefs: dict[int, np.ndarray] = {}  # cid -> (gh*gw, 64) zigzag, padded
    # cid -> (gw, gh, nbx_c, nby_c): MCU-padded grid vs actual blocks
    geom: dict[int, tuple[int, int, int, int]] = {}
    preds: dict[int, int] = {}
    mcux = mcuy = 0
    eobrun = 0
    restart_interval = 0
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        data = payload[i + 4 : i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDB:
            j = 0
            while j < len(data):
                pq, tq = data[j] >> 4, data[j] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                zz = np.frombuffer(data[j + 1 : j + 65], dtype=np.uint8)
                qtabs[tq] = zz.astype(np.int64)  # kept in ZIGZAG order
                j += 65
        elif marker == 0xC2:  # SOF2 progressive
            prec, h, w, nf = struct.unpack(">BHHB", data[:6])
            if prec != 8 or nf not in (1, 3):
                raise NotImplementedError(
                    "only 8-bit 1- or 3-component progressive JPEG"
                )
            comps = []
            for k in range(nf):
                cid, hv, tq = data[6 + 3 * k : 9 + 3 * k]
                hi_f, vi_f = hv >> 4, hv & 15
                if hi_f not in (1, 2) or vi_f not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {hi_f}x{vi_f} unsupported"
                        " (1-2 only)"
                    )
                comps.append((cid, hi_f, vi_f, tq))
            # a single-component frame is never MCU-interleaved (T.81
            # A.2.2): its declared factors don't shape the block walk
            if nf == 1:
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            for cid, hi_f, vi_f, _ in comps:
                gw, gh = mcux * hi_f, mcuy * vi_f  # MCU-padded grid
                nbx_c = (-(-w * hi_f // hmax) + 7) // 8  # actual blocks
                nby_c = (-(-h * vi_f // vmax) + 7) // 8
                geom[cid] = (gw, gh, nbx_c, nby_c)
                coefs[cid] = np.zeros((gw * gh, 64), dtype=np.int64)
        elif marker in (0xC0, 0xC1, 0xC3):
            raise ValueError(
                f"SOF{marker - 0xC0} stream given to the progressive parser"
            )
        elif marker == 0xC4:
            j = 0
            while j < len(data):
                cls, tid = data[j] >> 4, data[j] & 15
                bits = list(data[j + 1 : j + 17])
                nvals = sum(bits)
                vals = list(data[j + 17 : j + 17 + nvals])
                huff[(cls, tid)] = {
                    (length, code): v
                    for v, (code, length) in _jpeg_canonical(bits, vals).items()
                }
                j += 17 + nvals
        elif marker == 0xDD:  # DRI: restart interval in MCUs (= blocks, 1x1)
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # one scan of the progressive script
            if w is None:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            scan = []
            for k in range(ns):
                cs, tda = data[1 + 2 * k], data[2 + 2 * k]
                if cs not in coefs:
                    raise ValueError(f"SOS component {cs} not in SOF")
                scan.append((cs, tda >> 4, tda & 15))
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ahal = data[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            br = _JpegBitReader(payload, i)
            eobrun = 0
            samp = {c[0]: (c[1], c[2]) for c in comps}
            if ss == 0:  # DC scan (se must be 0): may interleave
                if se != 0:
                    raise ValueError("progressive DC scan with Se != 0")
                preds = {cid: 0 for cid, _, _ in scan}
                if ns > 1:  # MCU-interleaved: h_i x v_i blocks per comp
                    for mcu in range(mcux * mcuy):
                        if (
                            restart_interval
                            and mcu
                            and mcu % restart_interval == 0
                        ):
                            br.restart()  # byte-align + consume RSTn
                            preds = dict.fromkeys(preds, 0)
                        my, mx = divmod(mcu, mcux)
                        for cid, dc_id, _ in scan:
                            hi_f, vi_f = samp[cid]
                            gw = geom[cid][0]
                            cf = coefs[cid]
                            for v in range(vi_f):  # MCU-local scan order
                                for u in range(hi_f):
                                    b = (my * vi_f + v) * gw + mx * hi_f + u
                                    if ah == 0:  # first: diff-coded, << Al
                                        t = br.decode(huff[(0, dc_id)])
                                        preds[cid] += _jpeg_extend(
                                            br.receive(t), t
                                        )
                                        cf[b, 0] = preds[cid] << al
                                    elif br.bit():  # refine: raw bit at Al
                                        cf[b, 0] |= 1 << al
                else:  # single-component DC scan: component block order
                    cid, dc_id, _ = scan[0]
                    gw, _, nbx_c, nby_c = geom[cid]
                    cf = coefs[cid]
                    for bb in range(nbx_c * nby_c):
                        if (
                            restart_interval
                            and bb
                            and bb % restart_interval == 0
                        ):
                            br.restart()  # byte-align + consume RSTn
                            preds = dict.fromkeys(preds, 0)
                        b = (bb // nbx_c) * gw + bb % nbx_c
                        if ah == 0:  # first pass: diff-coded, << Al
                            t = br.decode(huff[(0, dc_id)])
                            preds[cid] += _jpeg_extend(br.receive(t), t)
                            cf[b, 0] = preds[cid] << al
                        elif br.bit():  # refinement: raw bit at Al
                            cf[b, 0] |= 1 << al
            else:  # AC scan: single component per T.81 G.1.1.1.1
                if ns != 1:
                    raise ValueError("interleaved progressive AC scan")
                cid, _, ac_id = scan[0]
                gw, _, nbx_c, nby_c = geom[cid]
                cf = coefs[cid]
                ac_t = huff[(1, ac_id)]
                p1, m1 = 1 << al, -1 << al
                for bb in range(nbx_c * nby_c):
                    b = (bb // nbx_c) * gw + bb % nbx_c
                    if restart_interval and bb and bb % restart_interval == 0:
                        br.restart()  # byte-align + consume RSTn
                        eobrun = 0  # an EOB run never crosses a restart
                    if ah == 0:  # ---- first pass (G.2.2) ----
                        if eobrun:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            rs = br.decode(ac_t)
                            r, s = rs >> 4, rs & 15
                            if s:
                                k += r
                                if k > se:
                                    raise ValueError("AC run past band end")
                                cf[b, k] = (
                                    _jpeg_extend(br.receive(s), s) << al
                                )
                                k += 1
                            elif r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.receive(r)
                                break
                            else:
                                k += 16  # ZRL
                    else:  # ---- refinement pass (G.2.3) ----
                        k = ss
                        if not eobrun:
                            while k <= se:
                                rs = br.decode(ac_t)
                                r, s = rs >> 4, rs & 15
                                val = 0
                                if s:
                                    if s != 1:
                                        raise ValueError(
                                            "refinement size != 1"
                                        )
                                    val = p1 if br.bit() else m1
                                elif r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.receive(r)
                                    break  # remaining corrections below
                                # skip r zero-HISTORY coefficients,
                                # refining nonzero ones along the way
                                while k <= se:
                                    if cf[b, k]:
                                        if br.bit() and not (
                                            abs(cf[b, k]) & p1
                                        ):
                                            cf[b, k] += (
                                                p1 if cf[b, k] > 0 else m1
                                            )
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val:
                                    if k > se:
                                        raise ValueError(
                                            "refinement run past band end"
                                        )
                                    cf[b, k] = val
                                k += 1
                        if eobrun:  # EOB-covered tail: corrections only
                            while k <= se:
                                if cf[b, k]:
                                    if br.bit() and not (abs(cf[b, k]) & p1):
                                        cf[b, k] += p1 if cf[b, k] > 0 else m1
                                k += 1
                            eobrun -= 1
            i = br.pos
            while i < len(payload) and payload[i] != 0xFF:
                i += 1
        else:  # APPn / COM (skipped)
            pass
    if not coefs or w is None:
        raise ValueError("JPEG missing SOS/SOF")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    out: list[tuple[int, np.ndarray]] = []
    for cid, hi_f, vi_f, tq in comps:
        q = qtabs[tq]
        gw, gh, _, _ = geom[cid]
        raster = np.zeros((gh * 8, gw * 8), dtype=np.uint8)
        for b in range(gw * gh):
            nat = np.zeros(64)
            nat[_JPEG_ZIGZAG] = coefs[cid][b] * q
            spatial = _IDCT_M @ nat.reshape(8, 8) @ _IDCT_M.T
            by, bx = divmod(b, gw)
            raster[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.round(spatial + 128), 0, 255
            ).astype(np.uint8)
        # crop MCU padding to this component's own sampled dims
        wi = -(-w * hi_f // hmax)
        hi_dim = -(-h * vi_f // vmax)
        out.append((cid, raster[:hi_dim, :wi]))
    return int(w), int(h), out


@F.pandas_udf(T.BinaryType())
def _jpeg_progressive_payload(
    doc_id: pd.Series, n_chars: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            encode_jpeg_progressive(int(d), int(n), restart_interval=2)
            for d, n in zip(doc_id, n_chars)
        ]
    )


def decode_jpegs_progressive(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            w, h, planes = _jpeg_parse_progressive(p)
            y = planes[0][1]
            ach, acv, acd = _jpeg_quad_sums(y)
            rows.append(
                (
                    doc_id, w, h,
                    int(y.sum(dtype="int64")),
                    int(y.max()) if y.size else 0,
                    ach, acv, acd,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "pixel_sum", "max_pixel",
                "ac_h_sum", "ac_v_sum", "ac_d_sum",
            ],
        )


@register(
    "multimodal_jpeg_progressive_decode",
    oracle=_JPEG_AC_BLOCKS_CTE
    + """
SELECT doc_id,
       CAST(any_value(wb) * 8 AS BIGINT) AS width,
       CAST(any_value(hb) * 8 AS BIGINT) AS height,
       CAST(sum(64 * fill) AS BIGINT) AS pixel_sum,
       CAST(max(fill + greatest(ah + av + ad, ah - av - ad,
                                -ah + av - ad, -ah - av + ad))
            AS BIGINT) AS max_pixel,
       CAST(sum(64 * ah) AS BIGINT) AS ac_h_sum,
       CAST(sum(64 * av) AS BIGINT) AS ac_v_sum,
       CAST(sum(64 * ad) AS BIGINT) AS ac_d_sum
FROM coef GROUP BY doc_id
""",
    description=(
        "REAL progressive JPEG (SOF2): 4-scan spectral-selection +"
        " successive-approximation decode, oracle-predicted bit for bit"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_progressive_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a real 4-scan progressive
    JPEG carrying the same quantized coefficients as the baseline AC
    fixture.  |v| = 1 AC values vanish in the Al=1 first pass and are
    inserted only by the refinement scan's newly-significant path,
    first-pass-empty bands merge into EOB runs spanning blocks, and
    every surviving coefficient consumes a correction bit — so the
    oracle hash (identical to multimodal_jpeg_ac_decode's closed form)
    is load-bearing for the whole G.2 successive-approximation
    procedure, not just the happy path.  The fixture carries
    ``DRI=2`` restart markers, so every scan also exercises per-RST
    byte realignment, DC-predictor reset and EOB-run termination.
    Same narrow two-Arrow-stage plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _jpeg_progressive_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_jpegs_progressive, schema=JPEG_AC_SCHEMA)


# Chroma AC table for the progressive color script: EOB0..EOB5 ONLY
# (all length 3) — shaped so a decoder that ignores the per-scan AC
# table selector cannot decode the chroma band scans at all.
_JPEG_PROG_AC1_VALS = [r << 4 for r in range(6)]
_JPEG_PROG_AC1_BITS = [0, 0, 6] + [0] * 13


def encode_jpeg_progressive_color(doc_id: int, n_chars: int) -> bytes:
    """A real progressive (SOF2) YCbCr 4:4:4 JPEG carrying EXACTLY the
    coefficients of ``encode_jpeg_color`` (Y: fill + {0,4}^2 AC
    synthesis; Cb/Cr: flat chroma under the tq=1 table), split across
    a seven-scan color script: one INTERLEAVED DC first pass (ns = 3,
    Al=1, per-component DC tables and predictors in Y,Cb,Cr MCU
    order), one interleaved DC refinement (one raw bit per block per
    component), the Y AC ladder (first pass at Al=2 with EOB runs,
    then the two refinement scans), and one all-EOB-run AC scan per
    chroma component under a DEDICATED EOBn-only Huffman table
    (tid=1).  This is the scan topology libjpeg's
    jpeg_simple_progression emits for color images, so the
    interleaved-DC path, per-scan table selection and cross-block EOB
    runs are all load-bearing for the shared color oracle."""
    import struct

    wb = n_chars % 8 + 1
    hb = doc_id % 6 + 1
    w, h = wb * 8, hb * 8
    nblocks = wb * hb
    # per-component zigzag coefficient planes, identical to the
    # baseline color fixture
    zz_y: list[np.ndarray] = []
    zz_cb: list[np.ndarray] = []
    zz_cr: list[np.ndarray] = []
    for r in range(hb):
        y_dc = 64 + (doc_id + r) % 128 - 128
        cb_dc = (doc_id * 7 + r) % 101 - 50
        cr_dc = (doc_id * 13 + r) % 101 - 50
        for c in range(wb):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, r, c)
            zz = np.zeros(64, dtype=np.int64)
            zz[0] = y_dc
            by_nat = {4: qh, 32: qv, 36: qd}
            for pos, nat in _JPEG_AC_POS:
                zz[pos] = by_nat[nat]
            zz_y.append(zz)
            for plane, dc in ((zz_cb, cb_dc), (zz_cr, cr_dc)):
                z = np.zeros(64, dtype=np.int64)
                z[0] = dc
                plane.append(z)

    dc0 = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    dc1 = _jpeg_canonical(_JPEG_DC1_BITS, _JPEG_DC1_VALS)
    ac0 = _jpeg_canonical(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    ac1 = _jpeg_canonical(_JPEG_PROG_AC1_BITS, _JPEG_PROG_AC1_VALS)
    planes = [(1, dc0, zz_y), (2, dc1, zz_cb), (3, dc1, zz_cr)]

    # scan 1: interleaved DC first pass (ns = nf = 3, Al=1)
    bw = _JpegBitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for b in range(nblocks):
        for cid, dct, zzs in planes:
            v = int(zzs[b][0]) >> 1
            diff = v - preds[cid]
            preds[cid] = v
            t = abs(diff).bit_length()
            code, length = dct[t]
            bw.write(code, length)
            if t:
                bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    scan_dc1 = (
        _jpeg_prog_scan_header([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, 1)
        + bw.flush()
    )

    # scan 2: interleaved DC refinement (one raw bit per block per comp)
    bw = _JpegBitWriter()
    for b in range(nblocks):
        for cid, _, zzs in planes:
            bw.write(int(zzs[b][0]) & 1, 1)
    scan_dc2 = (
        _jpeg_prog_scan_header([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 1, 0)
        + bw.flush()
    )

    # scans 3..5: the Y AC ladder — same script as the grayscale
    # fixture (first pass at Al=2 with EOB runs, then two refinements)
    lo, hi = 1, 63
    ac_al = 2
    pw = _JpegProgWriter(ac0)
    for zz in zz_y:
        nz = [
            (k, (abs(int(zz[k])) >> ac_al) * (1 if zz[k] > 0 else -1))
            for k in range(lo, hi + 1)
            if abs(int(zz[k])) >> ac_al
        ]
        if not nz:
            pw.eobrun += 1
            continue
        pw.flush_eobrun()
        kprev = lo
        for k, s in nz:
            run = k - kprev
            while run >= 16:
                pw.emit_symbol(0xF0)
                run -= 16
            t = abs(s).bit_length()
            pw.emit_symbol((run << 4) | t)
            pw.write(s if s >= 0 else s + (1 << t) - 1, t)
            kprev = k + 1
        if kprev <= hi:
            pw.eobrun += 1
    pw.flush_eobrun()
    y_scans = [
        _jpeg_prog_scan_header([(1, 0, 0)], lo, hi, 0, ac_al) + pw.flush()
    ]
    for al in range(ac_al - 1, -1, -1):
        pw = _JpegProgWriter(ac0)
        for zz in zz_y:
            absval = [abs(int(zz[k])) >> al for k in range(lo, hi + 1)]
            eob = 0
            for j, a in enumerate(absval):
                if a == 1:
                    eob = j + 1
            run = 0
            block_bits: list[int] = []
            for j, a in enumerate(absval):
                if a == 0:
                    run += 1
                    continue
                if a > 1:
                    block_bits.append(a & 1)
                    continue
                while run > 15 and j < eob:
                    pw.flush_eobrun()
                    pw.emit_symbol(0xF0)
                    run -= 16
                    pw.pending_bits, block_bits = block_bits, []
                    pw.emit_pending()
                pw.flush_eobrun()
                pw.emit_symbol((run << 4) | 1)
                pw.write(1 if zz[lo + j] > 0 else 0, 1)
                pw.pending_bits, block_bits = block_bits, []
                pw.emit_pending()
                run = 0
            if run > 0 or block_bits:
                pw.eobrun += 1
                pw.pending_bits.extend(block_bits)
                if pw.eobrun == 0x7FFF:
                    pw.flush_eobrun()
        pw.flush_eobrun()
        y_scans.append(
            _jpeg_prog_scan_header([(1, 0, 0)], lo, hi, al + 1, al)
            + pw.flush()
        )

    # scans 6..7: chroma AC bands are all-zero -> ONE EOB run each,
    # coded under the dedicated EOBn-only table (fixture max 48 blocks
    # fits EOB5's 32..63 range)
    chroma_scans = []
    for cid in (2, 3):
        pw = _JpegProgWriter(ac1)
        pw.eobrun = nblocks
        pw.flush_eobrun()
        chroma_scans.append(
            _jpeg_prog_scan_header([(cid, 0, 1)], lo, hi, 0, 0) + pw.flush()
        )

    qtab0 = bytes([0x00]) + bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    qtab1 = bytes([0x01]) + bytes([_JPEG_QDC_CHROMA] + [_JPEG_QAC] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        _jpeg_segment(
            0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        )
        + _jpeg_segment(
            0xC4,
            bytes([0x10])
            + bytes(_JPEG_PROG_AC_BITS)
            + bytes(_JPEG_PROG_AC_VALS),
        )
        # chroma DC + AC tables packed in one DHT segment, as real
        # encoders do (multi-table walk stays exercised)
        + _jpeg_segment(
            0xC4,
            bytes([0x01]) + bytes(_JPEG_DC1_BITS) + bytes(_JPEG_DC1_VALS)
            + bytes([0x11])
            + bytes(_JPEG_PROG_AC1_BITS)
            + bytes(_JPEG_PROG_AC1_VALS),
        )
    )
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, qtab0 + qtab1)
        + _jpeg_segment(0xC2, sof)
        + dht
        + scan_dc1
        + scan_dc2
        + b"".join(y_scans)
        + b"".join(chroma_scans)
        + b"\xff\xd9"
    )


def encode_jpeg_progressive_420(doc_id: int, n_chars: int) -> bytes:
    """A real progressive (SOF2) YCbCr 4:2:0 JPEG — the subsampled-
    progressive combination most web JPEGs ship — carrying EXACTLY the
    coefficients of ``encode_jpeg_420``.  The interleaved DC scans
    walk 16x16 MCUs with FOUR Y blocks each (2x2 MCU-local order, one
    predictor chaining across them) plus one half-resolution Cb and Cr
    block; the Y AC ladder then walks the Y grid in COMPONENT raster
    order (T.81 A.2.2 non-interleaved), which differs from the MCU
    order precisely when sampling is 2x2 — so the decoder's
    dual-ordering geometry (MCU-padded buffer + per-scan block
    mapping) is load-bearing for the shared 4:2:0 oracle.  Chroma
    bands are single cross-block EOB runs under the EOBn-only chroma
    table."""
    import struct

    wm = n_chars % 4 + 1  # MCU columns
    hm = doc_id % 3 + 1  # MCU rows
    w, h = wm * 16, hm * 16
    yw, yh = 2 * wm, 2 * hm  # Y block grid

    def y_zz(R: int, C: int) -> np.ndarray:
        zz = np.zeros(64, dtype=np.int64)
        zz[0] = 64 + (doc_id + R) % 128 - 128
        qh, qv, qd = _jpeg_ac_coeffs(doc_id, R, C)
        by_nat = {4: qh, 32: qv, 36: qd}
        for pos, nat in _JPEG_AC_POS:
            zz[pos] = by_nat[nat]
        return zz

    dc0 = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    dc1 = _jpeg_canonical(_JPEG_DC1_BITS, _JPEG_DC1_VALS)
    ac0 = _jpeg_canonical(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    ac1 = _jpeg_canonical(_JPEG_PROG_AC1_BITS, _JPEG_PROG_AC1_VALS)

    def chroma_dc(cid: int, my: int) -> int:
        k = 7 if cid == 2 else 13
        return (doc_id * k + my) % 101 - 50

    # scans 1-2: interleaved DC first pass (Al=1) + refinement — MCU
    # order, four Y data units then Cb then Cr per MCU
    dc_scans = []
    for ah, al in ((0, 1), (1, 0)):
        bw = _JpegBitWriter()
        preds = {1: 0, 2: 0, 3: 0}
        for my in range(hm):
            for mx in range(wm):
                units = [
                    (1, dc0, int(y_zz(2 * my + r, 2 * mx + c)[0]))
                    for r in range(2)
                    for c in range(2)
                ] + [
                    (2, dc1, chroma_dc(2, my)),
                    (3, dc1, chroma_dc(3, my)),
                ]
                for cid, dct, dc in units:
                    if ah == 0:
                        v = dc >> 1
                        diff = v - preds[cid]
                        preds[cid] = v
                        t = abs(diff).bit_length()
                        code, length = dct[t]
                        bw.write(code, length)
                        if t:
                            bw.write(
                                diff if diff >= 0 else diff + (1 << t) - 1, t
                            )
                    else:
                        bw.write(dc & 1, 1)
        dc_scans.append(
            _jpeg_prog_scan_header(
                [(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, ah, al
            )
            + bw.flush()
        )

    # scans 3-5: Y AC ladder in COMPONENT raster order (not MCU order)
    lo, hi = 1, 63
    ac_al = 2
    zz_y = [y_zz(R, C) for R in range(yh) for C in range(yw)]
    pw = _JpegProgWriter(ac0)
    for zz in zz_y:
        nz = [
            (k, (abs(int(zz[k])) >> ac_al) * (1 if zz[k] > 0 else -1))
            for k in range(lo, hi + 1)
            if abs(int(zz[k])) >> ac_al
        ]
        if not nz:
            pw.eobrun += 1
            continue
        pw.flush_eobrun()
        kprev = lo
        for k, s in nz:
            run = k - kprev
            while run >= 16:
                pw.emit_symbol(0xF0)
                run -= 16
            t = abs(s).bit_length()
            pw.emit_symbol((run << 4) | t)
            pw.write(s if s >= 0 else s + (1 << t) - 1, t)
            kprev = k + 1
        if kprev <= hi:
            pw.eobrun += 1
    pw.flush_eobrun()
    y_scans = [
        _jpeg_prog_scan_header([(1, 0, 0)], lo, hi, 0, ac_al) + pw.flush()
    ]
    for al in range(ac_al - 1, -1, -1):
        pw = _JpegProgWriter(ac0)
        for zz in zz_y:
            absval = [abs(int(zz[k])) >> al for k in range(lo, hi + 1)]
            eob = 0
            for j, a in enumerate(absval):
                if a == 1:
                    eob = j + 1
            run = 0
            block_bits: list[int] = []
            for j, a in enumerate(absval):
                if a == 0:
                    run += 1
                    continue
                if a > 1:
                    block_bits.append(a & 1)
                    continue
                while run > 15 and j < eob:
                    pw.flush_eobrun()
                    pw.emit_symbol(0xF0)
                    run -= 16
                    pw.pending_bits, block_bits = block_bits, []
                    pw.emit_pending()
                pw.flush_eobrun()
                pw.emit_symbol((run << 4) | 1)
                pw.write(1 if zz[lo + j] > 0 else 0, 1)
                pw.pending_bits, block_bits = block_bits, []
                pw.emit_pending()
                run = 0
            if run > 0 or block_bits:
                pw.eobrun += 1
                pw.pending_bits.extend(block_bits)
                if pw.eobrun == 0x7FFF:
                    pw.flush_eobrun()
        pw.flush_eobrun()
        y_scans.append(
            _jpeg_prog_scan_header([(1, 0, 0)], lo, hi, al + 1, al)
            + pw.flush()
        )

    # scans 6-7: chroma bands — one EOB run over the hm*wm half-res grid
    chroma_scans = []
    for cid in (2, 3):
        pw = _JpegProgWriter(ac1)
        pw.eobrun = hm * wm
        pw.flush_eobrun()
        chroma_scans.append(
            _jpeg_prog_scan_header([(cid, 0, 1)], lo, hi, 0, 0) + pw.flush()
        )

    qtab0 = bytes([0x00]) + bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    qtab1 = bytes([0x01]) + bytes([_JPEG_QDC_CHROMA] + [_JPEG_QAC] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        _jpeg_segment(
            0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        )
        + _jpeg_segment(
            0xC4,
            bytes([0x10])
            + bytes(_JPEG_PROG_AC_BITS)
            + bytes(_JPEG_PROG_AC_VALS),
        )
        + _jpeg_segment(
            0xC4,
            bytes([0x01]) + bytes(_JPEG_DC1_BITS) + bytes(_JPEG_DC1_VALS)
            + bytes([0x11])
            + bytes(_JPEG_PROG_AC1_BITS)
            + bytes(_JPEG_PROG_AC1_VALS),
        )
    )
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, qtab0 + qtab1)
        + _jpeg_segment(0xC2, sof)
        + dht
        + b"".join(dc_scans)
        + b"".join(y_scans)
        + b"".join(chroma_scans)
        + b"\xff\xd9"
    )


@F.pandas_udf(T.BinaryType())
def _jpeg_progressive_color_payload(
    doc_id: pd.Series, n_chars: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            encode_jpeg_progressive_color(int(d), int(n))
            for d, n in zip(doc_id, n_chars)
        ]
    )


def decode_jpegs_progressive_color(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            w, h, planes = _jpeg_parse_progressive(p)
            if len(planes) != 3:
                raise ValueError(
                    f"expected YCbCr JPEG, got {len(planes)} planes"
                )
            by_cid = dict(planes)
            y, cb, cr = by_cid[1], by_cid[2], by_cid[3]
            ach, acv, acd = _jpeg_quad_sums(y)
            rows.append(
                (
                    doc_id, w, h,
                    int(y.sum(dtype=np.int64)),
                    int(y.max()) if y.size else 0,
                    int(cb.sum(dtype=np.int64)),
                    int(cr.sum(dtype=np.int64)),
                    ach, acv, acd,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "y_sum", "y_max",
                "cb_sum", "cr_sum", "ac_h_sum", "ac_v_sum", "ac_d_sum",
            ],
        )


@register(
    "multimodal_jpeg_progressive_color_decode",
    oracle=_JPEG_COLOR_ORACLE,
    description=(
        "REAL progressive color JPEG: interleaved ns=3 DC scans +"
        " per-component AC band scans, shared color closed-form oracle"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_progressive_color_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a seven-scan progressive
    YCbCr 4:4:4 JPEG (libjpeg's color scan topology): the DC scans
    interleave all three components per MCU (the ns = nf decode path
    no other fixture reaches), the Y band runs the full successive-
    approximation ladder, and each chroma band is a single cross-block
    EOB run under a chroma-only Huffman table — so per-scan component
    routing, per-component predictors and table selectors all feed the
    oracle hash shared with ``multimodal_jpeg_color_decode``.  Same
    narrow two-Arrow-stage plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        _jpeg_progressive_color_payload("doc_id", "n_chars").alias("payload"),
    )
    return payloads.mapInPandas(
        decode_jpegs_progressive_color, schema=JPEG_COLOR_SCHEMA
    )


@F.pandas_udf(T.BinaryType())
def _jpeg_progressive_420_payload(
    doc_id: pd.Series, n_chars: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            encode_jpeg_progressive_420(int(d), int(n))
            for d, n in zip(doc_id, n_chars)
        ]
    )


@register(
    "multimodal_jpeg_progressive_420_decode",
    oracle=_JPEG_420_ORACLE,
    description=(
        "REAL subsampled-progressive JPEG (SOF2 4:2:0): MCU-interleaved"
        " DC vs raster-order AC block walks, shared 4:2:0 oracle"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_jpeg_progressive_420_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a progressive YCbCr 4:2:0
    JPEG — the subsampled-progressive combination most web JPEGs
    actually ship (previously the one loudly-rejected variant).  The
    interleaved DC scans walk 16x16 MCUs with four Y blocks each
    (2x2 MCU-local order chained by one predictor), while the Y AC
    ladder walks the SAME blocks in component raster order — the two
    orders differ exactly when sampling is 2x2, so the decoder's
    MCU-padded coefficient buffer and per-scan block mapping are both
    load-bearing for the oracle hash shared with
    ``multimodal_jpeg_420_decode``.  Same narrow two-Arrow-stage plan
    as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        _jpeg_progressive_420_payload("doc_id", "n_chars").alias("payload"),
    )
    return payloads.mapInPandas(
        decode_jpegs_progressive_color, schema=JPEG_COLOR_SCHEMA
    )


# --------------------------------------------------------------------------
# Audio codec ladder, rung 2: stereo 16-bit PCM (interleaved-frame
# deinterleave is the classic stereo bug class) and IMA/DVI ADPCM
# (WAVE format 0x11) — a real 4-bit predictive codec
# with the 89-entry step table, per-nibble index adaptation and
# predictor clamping.  The ADPCM oracle replicates the whole state
# machine as a DuckDB RECURSIVE CTE, so every table step, clamp and
# block-header reset is driver-hash load-bearing.
# --------------------------------------------------------------------------


def encode_wav_stereo(doc_id: int, n_chars: int) -> bytes:
    """A real RIFF/PCM stereo 16-bit WAV (stdlib ``wave``): left is an
    alternating +/-ampL square wave, right a (doc_id + t) % 200 - 100
    ramp — deliberately different per channel so any deinterleave slip
    (channel swap, off-by-one-frame) changes the per-channel stats."""
    import io
    import wave

    n_frames = n_chars % 300 + 40
    amp_l = doc_id % 90 + 10
    t = np.arange(n_frames, dtype=np.int64)
    left = np.where(t % 2 == 0, amp_l, -amp_l)
    right = (doc_id + t) % 200 - 100
    frames = np.empty(2 * n_frames, dtype="<i2")
    frames[0::2] = left
    frames[1::2] = right
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(frames.tobytes())
    return buf.getvalue()


def decode_wav_stereo(
    payload: bytes,
) -> tuple[int, int, int, int, int, int, int]:
    """(n_channels, n_frames, peak_l, peak_r, sum_l, sum_r, rate) via
    stdlib ``wave`` plus an explicit interleaved-frame deinterleave —
    per-channel stats, not the whole-buffer peak ``decode_wav``
    reports, so the frame layout itself is what the oracle checks."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        rate = w.getframerate()
        nf = w.getnframes()
        if nch != 2 or w.getsampwidth() != 2:
            raise NotImplementedError("decode_wav_stereo: 2ch 16-bit only")
        data = np.frombuffer(w.readframes(nf), dtype="<i2").astype(np.int64)
    left, right = data[0::2], data[1::2]
    return (
        nch,
        nf,
        int(np.abs(left).max()) if nf else 0,
        int(np.abs(right).max()) if nf else 0,
        int(left.sum()),
        int(right.sum()),
        rate,
    )


@F.pandas_udf(T.BinaryType())
def _wav_stereo_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_wav_stereo(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


WAV_STEREO_SCHEMA = (
    "doc_id long, n_channels long, n_frames long, peak_l long,"
    " peak_r long, sum_l long, sum_r long, frame_rate long"
)


def decode_wavs_stereo(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_wav_stereo(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_channels", "n_frames", "peak_l", "peak_r",
                "sum_l", "sum_r", "frame_rate",
            ],
        )


@register(
    "multimodal_wav_stereo_decode",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, n_chars % 300 + 40 AS nf FROM documents
), frames AS (
  SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS t FROM dims
), chans AS (
  SELECT doc_id, nf,
         CASE WHEN t % 2 = 0 THEN doc_id % 90 + 10
              ELSE -(doc_id % 90 + 10) END AS l,
         (doc_id + t) % 200 - 100 AS r
  FROM frames
)
SELECT doc_id,
       CAST(2 AS BIGINT) AS n_channels,
       CAST(any_value(nf) AS BIGINT) AS n_frames,
       CAST(max(abs(l)) AS BIGINT) AS peak_l,
       CAST(max(abs(r)) AS BIGINT) AS peak_r,
       CAST(sum(l) AS BIGINT) AS sum_l,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST({WAV_RATE} AS BIGINT) AS frame_rate
FROM chans GROUP BY doc_id
""",
    description=(
        "REAL stereo 16-bit PCM WAV decode: interleaved-frame"
        " deinterleave with per-channel oracle-predicted stats"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_wav_stereo_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a stereo 16-bit PCM WAV with
    a different waveform per channel.  The oracle predicts per-channel
    peaks and sums from the synthesis, so a channel swap, an
    off-by-one frame slip, or a sample-width misread each break the
    driver hash — the stats the mono ``multimodal_audio_decode`` can't
    distinguish.  Same narrow two-Arrow-stage plan as the other codec
    tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _wav_stereo_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_wavs_stereo, schema=WAV_STEREO_SCHEMA)


# IMA/DVI ADPCM (WAVE_FORMAT_DVI_ADPCM = 0x11), mono: 4-byte block
# headers (initial int16 predictor, step index, reserved) followed by
# 4-bit nibbles, low nibble first (Microsoft WAVE spec / IMA ADPCM
# reference, same tables as e.g. ffmpeg's adpcm_ima_wav).
WAV_IMA_ADPCM_FORMAT = 0x11
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_BLOCK_ALIGN = 128  # mono: 4-byte header + 124 data bytes
_IMA_SAMPLES_PER_BLOCK = (_IMA_BLOCK_ALIGN - 4) * 2 + 1  # 249
_IMA_N_BLOCKS = 2  # fixture: two blocks -> header reset exercised


def _ima_fixture_params(doc_id: int, b: int) -> tuple[int, int]:
    """Block b's header (initial predictor, step index): doc-keyed so
    every block starts at a different point of the step table (index
    spans the full 0..88 range across the fixture)."""
    pred0 = (doc_id * 37 + b * 101) % 4001 - 2000
    idx0 = (doc_id * 7 + b * 13) % 89
    return pred0, idx0


def _ima_fixture_nibble(doc_id: int, b: int, t: int) -> int:
    """The t-th 4-bit code of block b: hits all 16 nibbles (sign bit
    included) and all 8 index adjustments."""
    return (doc_id + 5 * t + 3 * b + t * t) % 16


def encode_wav_ima_adpcm(doc_id: int, n_chars: int) -> bytes:
    """A real two-block mono IMA-ADPCM WAV.  The nibble stream is
    PRESCRIBED (``_ima_fixture_nibble``) rather than fitted to a
    waveform — any 4-bit sequence is a valid IMA stream, and a
    prescribed one walks the step table far more aggressively than
    encoding a smooth signal would, so the DECODER's adaptation logic
    (not an encoder's search) is what the oracle exercises.  n_chars
    keys nothing here: block count is fixed at 2 so the recursive
    oracle's depth stays bounded."""
    import struct

    del n_chars  # dims fixed: 2 blocks x 249 samples
    data = bytearray()
    for b in range(_IMA_N_BLOCKS):
        pred0, idx0 = _ima_fixture_params(doc_id, b)
        data += struct.pack("<hBB", pred0, idx0, 0)
        nibbles = [
            _ima_fixture_nibble(doc_id, b, t)
            for t in range(_IMA_SAMPLES_PER_BLOCK - 1)
        ]
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            data.append(lo | (hi << 4))
    n_samples = _IMA_N_BLOCKS * _IMA_SAMPLES_PER_BLOCK
    fmt = struct.pack(
        "<HHIIHHHH",
        WAV_IMA_ADPCM_FORMAT, 1, 8000,
        8000 * _IMA_BLOCK_ALIGN // _IMA_SAMPLES_PER_BLOCK,  # byte rate
        _IMA_BLOCK_ALIGN, 4,  # block align, bits per sample
        2, _IMA_SAMPLES_PER_BLOCK,  # cbSize, wSamplesPerBlock
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n_samples)
        + b"data" + struct.pack("<I", len(data)) + bytes(data)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_ima_adpcm(payload: bytes) -> tuple[int, int, int, int, int]:
    """(n_samples, rate, sample_sum, sample_min, sample_max) via a full
    RIFF walk (bound-checked chunk lengths, like ``decode_wav_ulaw``)
    and the real IMA expansion: per block, read the 4-byte header
    (initial predictor emitted as sample 0), then per nibble
    diff = step>>3 (+ step>>2 if bit0, + step>>1 if bit1, + step if
    bit2), sign from bit3, predictor clamped to int16, index adjusted
    by the 8-entry table and clamped to 0..88.  General for any mono
    stream (trailing partial block included); stereo raises loudly."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    fmt_tag = rate = block_align = spb = nch = None
    data: bytes | None = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if i + 8 + clen > len(payload):
            raise ValueError(
                f"WAV chunk {cid!r} at {i} claims {clen} bytes but only "
                f"{len(payload) - i - 8} remain"
            )
        body = payload[i + 8 : i + 8 + clen]
        if cid == b"fmt ":
            fmt_tag, nch, rate, _br, block_align, _bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if len(body) >= 20:
                (spb,) = struct.unpack("<H", body[18:20])
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen % 2)
    if fmt_tag is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if fmt_tag != WAV_IMA_ADPCM_FORMAT:
        raise NotImplementedError(f"format tag {fmt_tag}, expected IMA (17)")
    if nch != 1:
        raise NotImplementedError("stereo IMA-ADPCM unsupported (mono only)")
    if spb is None:
        spb = (block_align - 4) * 2 + 1
    total = n = mn = mx = 0
    first = True
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        pred, idx, _rsv = struct.unpack("<hBB", block[:4])
        if idx > 88:
            raise ValueError(f"IMA step index {idx} out of range")
        out = [pred]
        remaining = spb - 1
        for byte in block[4:]:
            for nib in (byte & 15, byte >> 4):
                if remaining == 0:
                    break
                step = _IMA_STEPS[idx]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + _IMA_INDEX_ADJ[nib & 7]))
                out.append(pred)
                remaining -= 1
        total += sum(out)
        n += len(out)
        lo, hi = min(out), max(out)
        if first:
            mn, mx, first = lo, hi, False
        else:
            mn, mx = min(mn, lo), max(mx, hi)
    return n, int(rate), total, mn, mx


@F.pandas_udf(T.BinaryType())
def _ima_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [
            encode_wav_ima_adpcm(int(d), int(n))
            for d, n in zip(doc_id, n_chars)
        ]
    )


IMA_SCHEMA = (
    "doc_id long, n_samples long, sample_rate long, sample_sum long,"
    " sample_min long, sample_max long"
)


def decode_wavs_ima(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_wav_ima_adpcm(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_samples", "sample_rate", "sample_sum",
                "sample_min", "sample_max",
            ],
        )


_IMA_STEPS_SQL = "[" + ", ".join(str(s) for s in _IMA_STEPS) + "]"
_IMA_ADJ_SQL = "[" + ", ".join(str(a) for a in _IMA_INDEX_ADJ) + "]"


@register(
    "multimodal_ima_adpcm_decode",
    oracle=f"""
WITH RECURSIVE blocks AS (
  SELECT doc_id, unnest(generate_series(0, {_IMA_N_BLOCKS - 1})) AS b
  FROM documents
), machine AS (
  SELECT doc_id, b, 0 AS t,
         CAST((doc_id * 37 + b * 101) % 4001 - 2000 AS BIGINT) AS pred,
         CAST((doc_id * 7 + b * 13) % 89 AS BIGINT) AS idx,
         CAST((doc_id * 37 + b * 101) % 4001 - 2000 AS BIGINT) AS cum,
         CAST((doc_id * 37 + b * 101) % 4001 - 2000 AS BIGINT) AS mn,
         CAST((doc_id * 37 + b * 101) % 4001 - 2000 AS BIGINT) AS mx
  FROM blocks
  UNION ALL
  SELECT doc_id, b, t + 1,
         pred2 AS pred,
         greatest(0, least(88, idx + list_extract({_IMA_ADJ_SQL}, (nib % 8) + 1))) AS idx,
         cum + pred2, least(mn, pred2), greatest(mx, pred2)
  FROM (
    SELECT *,
           greatest(-32768, least(32767,
             CASE WHEN nib >= 8 THEN pred - diff ELSE pred + diff END)) AS pred2
    FROM (
      SELECT *,
             (step // 8) + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
                         + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
                         + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END AS diff
      FROM (
        SELECT doc_id, b, t, pred, idx, cum, mn, mx,
               (doc_id + 5 * t + 3 * b + t * t) % 16 AS nib,
               list_extract({_IMA_STEPS_SQL}, idx + 1) AS step
        FROM machine WHERE t < {_IMA_SAMPLES_PER_BLOCK - 1}
      )
    )
  )
)
SELECT doc_id,
       CAST({_IMA_N_BLOCKS * _IMA_SAMPLES_PER_BLOCK} AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(sum(cum) AS BIGINT) AS sample_sum,
       CAST(min(mn) AS BIGINT) AS sample_min,
       CAST(max(mx) AS BIGINT) AS sample_max
FROM machine WHERE t = {_IMA_SAMPLES_PER_BLOCK - 1}
GROUP BY doc_id
""",
    description=(
        "REAL IMA/DVI ADPCM decode: 4-bit predictive expansion with the"
        " 89-step table, oracle = the full state machine as a recursive CTE"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_ima_adpcm_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a real two-block mono
    IMA-ADPCM WAV (format 0x11).  The prescribed nibble stream hits
    all 16 codes, walks the step table across its whole range (block
    headers key the start index over 0..88), and triggers both
    predictor clamps; the DuckDB oracle replays the identical state
    machine as a recursive CTE, so every step lookup, index
    adjustment, clamp and block reset lands in the driver hash.
    Same narrow two-Arrow-stage plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _ima_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_wavs_ima, schema=IMA_SCHEMA)


# --------------------------------------------------------------------------
# Audio codec ladder, rung 3: G.711 A-law (WAVE format 6) — the
# OTHER half of the international telephony pair (A-law is the E1/
# European PSTN companded format; mu-law above is the T1/NA one).  The
# two expansions look deceptively similar but differ in every detail
# that matters: A-law XORs 0x55 (vs mu-law's complement), its sign bit
# SET means POSITIVE (mu-law's means negative), segment 1 adds the
# 0x108 bias WITHOUT shifting, and the peak is +/-32256 (vs 32124).  A
# decoder that reuses the mu-law table logic fails on every one of
# those, so the pair pins both G.711 halves independently.
# --------------------------------------------------------------------------

WAV_ALAW_FORMAT = 6  # WAVE_FORMAT_ALAW


def _alaw_expand(b: int) -> int:
    """ITU-T G.711 A-law byte -> linear PCM (16-bit domain), the Sun
    ``alaw2linear`` reference expansion: XOR 0x55, 4-bit mantissa
    shifted to bits 4-7, 3-bit segment with the 0x108 bias applied
    unshifted at segment 1 and shifted by seg-1 above, sign bit 0x80
    set = positive (the A-law/mu-law polarity inversion)."""
    b ^= 0x55
    t = (b & 0x0F) << 4
    seg = (b & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if b & 0x80 else -t


def encode_wav_alaw(doc_id: int, n_chars: int) -> bytes:
    """A real RIFF WAV with format tag 6 (A-law), mono 8-bit, 8 kHz.
    The byte stream ``(doc_id * 11 + 5 * i) % 256`` (stride-5, coprime
    with 256) walks residues across all eight segments and both signs,
    so the whole expansion table is load-bearing."""
    import struct

    n = n_chars % 800 + 50
    data = bytes((doc_id * 11 + 5 * i) % 256 for i in range(n))
    fmt = struct.pack("<HHIIHH", WAV_ALAW_FORMAT, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")  # RIFF word padding
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_alaw(payload: bytes) -> tuple[int, int, int, int, int]:
    """(n_samples, sample_rate, sample_sum, sample_max, sample_min)
    from a bound-checked RIFF chunk walk (same loud-failure contract
    as ``decode_wav_ulaw``) + per-byte G.711 A-law expansion."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    fmt_tag = rate = None
    data: bytes | None = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if i + 8 + clen > len(payload):
            raise ValueError(
                f"WAV chunk {cid!r} at {i} claims {clen} bytes but only "
                f"{len(payload) - i - 8} remain"
            )
        body = payload[i + 8 : i + 8 + clen]
        if cid == b"fmt ":
            fmt_tag, nch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if nch != 1 or bits != 8:
                raise NotImplementedError("only mono 8-bit A-law WAV")
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen % 2)  # chunks are word-aligned
    if fmt_tag is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if fmt_tag != WAV_ALAW_FORMAT:
        raise NotImplementedError(f"format tag {fmt_tag}, expected A-law (6)")
    samples = np.array([_alaw_expand(b) for b in data], dtype=np.int64)
    return (
        int(samples.size),
        int(rate),
        int(samples.sum()),
        int(samples.max()) if samples.size else 0,
        int(samples.min()) if samples.size else 0,
    )


@F.pandas_udf(T.BinaryType())
def _alaw_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_wav_alaw(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


def decode_wavs_alaw(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_wav_alaw(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_samples", "sample_rate", "sample_sum",
                "sample_max", "sample_min",
            ],
        )


@register(
    "multimodal_alaw_decode",
    # the A-law expansion in SQL: x = byte XOR 0x55, mantissa<<4,
    # segment dispatch with the unshifted seg-1 bias case, sign bit
    # set = positive — each recomputed independently over the
    # synthesized byte stream
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 800 + 50 AS n FROM documents
), bytes_ AS (
  SELECT doc_id, n,
         xor((doc_id * 11 + 5 * unnest(generate_series(0, n - 1))) % 256,
             85) AS x
  FROM dims
), expanded AS (
  SELECT doc_id, n,
         CASE WHEN x % 256 >= 128 THEN 1 ELSE -1 END
         * CASE (x // 16) % 8
             WHEN 0 THEN (x % 16) * 16 + 8
             WHEN 1 THEN (x % 16) * 16 + 264
             ELSE ((x % 16) * 16 + 264) * (1 << ((x // 16) % 8 - 1))
           END AS s
  FROM bytes_
)
SELECT doc_id,
       CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(sum(s) AS BIGINT) AS sample_sum,
       CAST(max(s) AS BIGINT) AS sample_max,
       CAST(min(s) AS BIGINT) AS sample_min
FROM expanded GROUP BY doc_id
""",
    description=(
        "REAL compressed-audio decode: G.711 A-law WAV (format tag 6)"
        " completing the international telephony pair with mu-law"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_alaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through an A-law (G.711) WAV — the
    European-PSTN companded codec, completing the telephony pair with
    ``multimodal_ulaw_decode``.  The oracle recomputes the expansion
    in closed form (XOR-0x55, segment dispatch, inverted sign
    polarity), so a decoder that borrowed any mu-law detail — the
    complement, the shifted seg-1 bias, the sign convention — breaks
    the driver hash.  Same narrow two-Arrow-stage plan as the other
    codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _alaw_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_wavs_alaw, schema=ULAW_SCHEMA)


# --------------------------------------------------------------------------
# Image codec ladder: GIF — the remaining ubiquitous legacy image
# format, and the only mainstream one built on LZW.  The encoder emits
# a real GIF89a stream (logical screen descriptor, global color table,
# a Graphic Control Extension the decoder must skip, image descriptor,
# variable-width LSB-first LZW in 255-byte sub-blocks, trailer); the
# decoder is a full spec-shaped parser whose LZW side handles the
# clear/EOI codes, code-width growth at table-size boundaries and the
# KwKwK deferred-code case.  The oracle recomputes pixel indices and
# palette in closed form, so the whole bit-packing + string-table walk
# is driver-hash load-bearing.
# --------------------------------------------------------------------------

_GIF_MIN_CODE_SIZE = 4  # 16-color palette


def _gif_palette(doc_id: int, j: int) -> tuple[int, int, int]:
    """Global-color-table entry j (doc-keyed so palette application —
    not just index decode — lands in the oracle hash)."""
    return ((17 * j + doc_id) % 256, (29 * j) % 256, (41 * j + 7) % 256)


def _lzw_compress(indices: list[int], min_code_size: int) -> bytes:
    """GIF-flavor LZW: emit CLEAR first, grow the code width AFTER the
    insert that fills the current width (no TIFF early-change), cap at
    12 bits, finish with EOI; bits packed LSB-first."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    acc = n_acc = 0
    out = bytearray()

    def emit(code: int, w: int) -> None:
        nonlocal acc, n_acc
        acc |= code << n_acc
        n_acc += w
        while n_acc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8

    emit(clear, width)
    buf: tuple[int, ...] = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        else:  # table full: reset (not hit by the fixture dims, but real)
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        buf = (px,)
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if n_acc:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int) -> list[int]:
    """The decoder half: variable-width LSB-first codes, CLEAR resets,
    the KwKwK case (code == next free slot decodes prev + prev[0]),
    width growth when the NEXT insert would overflow the current
    width — the exact mirror of ``_lzw_compress``'s post-insert rule."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = n_acc = pos = 0

    def read(w: int) -> int:
        nonlocal acc, n_acc, pos
        while n_acc < w:
            if pos >= len(data):
                raise ValueError("LZW stream truncated before EOI")
            acc |= data[pos] << n_acc
            pos += 1
            n_acc += 8
        code = acc & ((1 << w) - 1)
        acc >>= w
        n_acc -= w
        return code

    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    width = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    while True:
        code = read(width)
        if code == eoi:
            return out
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range at width {width}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) >= (1 << width) and width < 12:
                width += 1
        prev = entry


def encode_gif(doc_id: int, n_chars: int) -> bytes:
    """A real GIF89a: header, logical screen descriptor with a 16-entry
    global color table, a Graphic Control Extension (the decoder must
    sub-block-skip it), one image descriptor, LZW pixel data split into
    255-byte sub-blocks, trailer.  Pixel (x, y) has palette index
    ``(doc_id + 3x + 5y) % 16``."""
    import struct

    w = n_chars % 40 + 5
    h = doc_id % 30 + 5
    indices = [
        (doc_id + 3 * x + 5 * y) % 16 for y in range(h) for x in range(w)
    ]
    out = bytearray(b"GIF89a")
    # packed: GCT present, color resolution 7, GCT size 3 -> 2^4 entries
    out += struct.pack("<HHBBB", w, h, 0b1_111_0_011, 0, 0)
    for j in range(16):
        out += bytes(_gif_palette(doc_id, j))
    out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])  # GCE: 4-byte block + term
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(_GIF_MIN_CODE_SIZE)
    z = _lzw_compress(indices, _GIF_MIN_CODE_SIZE)
    for i in range(0, len(z), 255):
        blk = z[i : i + 255]
        out.append(len(blk))
        out += blk
    out += b"\x00\x3b"  # data terminator + trailer
    return bytes(out)


def decode_gif(
    payload: bytes,
) -> tuple[int, int, int, int, int, int, int]:
    """(width, height, n_pixels, idx_checksum, sum_r, sum_g, sum_b)
    via a full GIF block walk: screen descriptor, global color table,
    extension skipping, image descriptor, sub-block reassembly, LZW
    decode, palette application.  idx_checksum is position-weighted
    (``sum((1 + x + 7y) * idx)``) so a raster transpose or scan-order
    slip breaks the hash even when the index multiset is unchanged."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    i = 13
    palette: list[tuple[int, int, int]] | None = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        palette = [
            tuple(payload[i + 3 * j : i + 3 * j + 3]) for j in range(n)
        ]
        i += 3 * n
    while i < len(payload):
        b = payload[i]
        if b == 0x3B:  # trailer
            raise ValueError("GIF trailer before any image descriptor")
        if b == 0x21:  # extension: label, then sub-blocks to a 0 byte
            i += 2
            while payload[i]:
                i += 1 + payload[i]
            i += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x} at {i}")
        left, top, w, h, ipacked = struct.unpack("<HHHHB", payload[i + 1 : i + 10])
        i += 10
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 7)
            palette = [
                tuple(payload[i + 3 * j : i + 3 * j + 3]) for j in range(n)
            ]
            i += 3 * n
        if ipacked & 0x40:
            raise NotImplementedError("interlaced GIF unsupported")
        min_code = payload[i]
        i += 1
        z = bytearray()
        while payload[i]:
            ln = payload[i]
            z += payload[i + 1 : i + 1 + ln]
            i += 1 + ln
        i += 1
        if palette is None:
            raise ValueError("GIF image with no color table")
        idx = _lzw_decompress(bytes(z), min_code)
        if len(idx) != w * h:
            raise ValueError(f"LZW decoded {len(idx)} pixels, want {w * h}")
        a = np.asarray(idx, dtype=np.int64).reshape(h, w)
        xs = np.arange(w, dtype=np.int64)[None, :]
        ys = np.arange(h, dtype=np.int64)[:, None]
        pal = np.asarray(palette, dtype=np.int64)
        return (
            int(w),
            int(h),
            int(w * h),
            int(((1 + xs + 7 * ys) * a).sum()),
            int(pal[a, 0].sum()),
            int(pal[a, 1].sum()),
            int(pal[a, 2].sum()),
        )
    raise ValueError("GIF ended without an image descriptor")


@F.pandas_udf(T.BinaryType())
def _gif_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_gif(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


GIF_SCHEMA = (
    "doc_id long, width long, height long, n_pixels long,"
    " idx_checksum long, sum_r long, sum_g long, sum_b long"
)


def decode_gifs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_gif(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "n_pixels", "idx_checksum",
                "sum_r", "sum_g", "sum_b",
            ],
        )


@register(
    "multimodal_gif_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 40 + 5 AS w, doc_id % 30 + 5 AS h FROM documents
), ps AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p FROM dims
), px AS (
  SELECT doc_id, w, h, p % w AS x, p // w AS y FROM ps
), ix AS (
  SELECT doc_id, w, h, x, y, (doc_id + 3 * x + 5 * y) % 16 AS idx FROM px
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum((1 + x + 7 * y) * idx) AS BIGINT) AS idx_checksum,
       CAST(sum((17 * idx + doc_id) % 256) AS BIGINT) AS sum_r,
       CAST(sum((29 * idx) % 256) AS BIGINT) AS sum_g,
       CAST(sum((41 * idx + 7) % 256) AS BIGINT) AS sum_b
FROM ix GROUP BY doc_id
""",
    description=(
        "REAL GIF decode: variable-width LZW (clear/EOI, KwKwK,"
        " 255-byte sub-blocks) + palette, oracle-predicted per-pixel"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a real GIF89a — the one
    mainstream image format built on LZW.  The decoder walks the block
    structure (screen descriptor, global color table, extension
    sub-block skipping, image descriptor), reassembles the 255-byte
    data sub-blocks and runs a full variable-width LZW expansion
    (clear-code resets, post-insert width growth, the KwKwK
    deferred-code case); the oracle recomputes every pixel index and
    palette channel in closed form.  Same narrow two-Arrow-stage plan
    as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _gif_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_gifs, schema=GIF_SCHEMA)


# --------------------------------------------------------------------------
# Video container tier: MJPEG-in-AVI — the first REAL video path
# (the generic frame_sample query treats payloads as opaque bytes; this
# one parses an actual container and entropy-decodes every frame).  AVI
# is the RIFF video container: nested LIST chunks (hdrl with the main +
# stream headers, movi with per-frame '00dc' chunks), word-aligned
# lengths, and an idx1 index the decoder must skip.  Each frame is a
# real baseline JPEG decoded by the existing marker-walk/Huffman/IDCT
# machinery, so the video tier composes the image tier instead of
# faking it.  Frame content varies per frame with the frame ORDER
# pinned by a position-weighted checksum — a container walk that
# reorders, drops or double-reads a frame breaks the driver hash.
# --------------------------------------------------------------------------

_AVI_US_PER_FRAME = 40_000  # 25 fps


def encode_avi_mjpeg(doc_id: int, n_chars: int) -> bytes:
    """A real AVI: RIFF('AVI ') > LIST(hdrl)[avih + LIST(strl)[strh
    'vids'/'MJPG' + strf BITMAPINFOHEADER]] + LIST(movi)['00dc'
    frames] + idx1.  Frame f is ``encode_jpeg(doc_id + 186*(f+1),
    n_chars)`` — the stride is a multiple of 6 so every frame keeps
    the doc's block-row count (constant dims, like a real camera
    stream) while the fill value changes per frame."""
    import struct

    nf = n_chars % 6 + 2
    frames = [
        encode_jpeg(doc_id + 186 * (f + 1), n_chars) for f in range(nf)
    ]
    w = (n_chars % 8 + 1) * 8
    h = (doc_id % 6 + 1) * 8

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    avih = struct.pack(
        "<14I", _AVI_US_PER_FRAME, 0, 0, 0x10, nf, 0, 1,
        max(len(fr) for fr in frames), w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, nf, 0, 0, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = chunk(
        b"LIST",
        b"hdrl" + chunk(b"avih", avih)
        + chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for fr in frames:
        offsets.append(len(movi_body))
        movi_body += chunk(b"00dc", fr)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, len(fr))
            for off, fr in zip(offsets, frames)
        ),
    )
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(payload: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_len) over a word-aligned RIFF
    chunk range, failing loud on a length that overruns the range
    (the codec tiers' corrupt-container contract)."""
    import struct

    i = start
    while i + 8 <= end:
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if i + 8 + clen > end:
            raise ValueError(
                f"RIFF chunk {cid!r} at {i} claims {clen} bytes but only "
                f"{end - i - 8} remain"
            )
        yield cid, i + 8, clen
        i += 8 + clen + (clen % 2)


def decode_avi_mjpeg(
    payload: bytes,
) -> tuple[int, int, int, int, int, int, int]:
    """(n_frames, width, height, fps, luma_sum, luma_max,
    frame_checksum) from a full AVI walk: verify the RIFF('AVI ')
    envelope, find avih inside LIST(hdrl) (dims, frame timing, declared
    frame count), entropy-decode every '00dc' frame in LIST(movi) with
    the baseline-JPEG machinery, skip idx1/junk.  frame_checksum
    weights frame f's pixel sum by (f+1), so frame order is hashed,
    and the declared-vs-decoded frame count and per-frame dims are
    cross-checked loudly."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    avih = None
    frames: list[bytes] = []
    for cid, off, ln in _riff_chunks(payload, 12, len(payload)):
        if cid != b"LIST":
            continue  # idx1 / JUNK
        ltyp = payload[off : off + 4]
        if ltyp == b"hdrl":
            for c2, o2, l2 in _riff_chunks(payload, off + 4, off + ln):
                if c2 == b"avih":
                    import struct

                    avih = struct.unpack("<14I", payload[o2 : o2 + 56])
        elif ltyp == b"movi":
            for c2, o2, l2 in _riff_chunks(payload, off + 4, off + ln):
                if c2[2:] == b"dc":  # '00dc' video frame
                    frames.append(payload[o2 : o2 + l2])
    if avih is None:
        raise ValueError("AVI missing avih header")
    us_per_frame, _, _, _, total_frames, _, _streams = avih[:7]
    w, h = avih[8], avih[9]
    if len(frames) != total_frames:
        raise ValueError(
            f"avih declares {total_frames} frames, movi has {len(frames)}"
        )
    luma_sum = checksum = 0
    luma_max = 0
    for f, fr in enumerate(frames):
        fw, fh, _mean, fmax, fsum = decode_jpeg(fr)
        if (fw, fh) != (w, h):
            raise ValueError(
                f"frame {f} is {fw}x{fh}, header says {w}x{h}"
            )
        luma_sum += fsum
        luma_max = max(luma_max, fmax)
        checksum += (f + 1) * fsum
    return (
        len(frames),
        int(w),
        int(h),
        round(1_000_000 / us_per_frame),
        luma_sum,
        luma_max,
        checksum,
    )


@F.pandas_udf(T.BinaryType())
def _avi_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_avi_mjpeg(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


AVI_SCHEMA = (
    "doc_id long, n_frames long, width long, height long, fps long,"
    " luma_sum long, luma_max long, frame_checksum long"
)


def decode_avis(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_avi_mjpeg(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_frames", "width", "height", "fps",
                "luma_sum", "luma_max", "frame_checksum",
            ],
        )


@register(
    "multimodal_avi_mjpeg_decode",
    # frame f, block-row r: fill (doc_id + 186(f+1) + r) % 256 over
    # w x 8 pixels — the closed form of the per-frame JPEG synthesis,
    # recomputed independently per frame and row
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 6 + 2 AS nf, (n_chars % 8 + 1) * 8 AS w,
         doc_id % 6 + 1 AS hb
  FROM documents
), fr AS (
  SELECT doc_id, nf, w, hb, unnest(generate_series(0, nf - 1)) AS f
  FROM dims
), rows_ AS (
  SELECT doc_id, nf, w, hb, f, unnest(generate_series(0, hb - 1)) AS r
  FROM fr
), px AS (
  SELECT doc_id, nf, w, hb, f,
         (doc_id + 186 * (f + 1) + r) % 256 AS v
  FROM rows_
)
SELECT doc_id,
       CAST(any_value(nf) AS BIGINT) AS n_frames,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(hb) * 8 AS BIGINT) AS height,
       CAST(25 AS BIGINT) AS fps,
       CAST(sum(v * w * 8) AS BIGINT) AS luma_sum,
       CAST(max(v) AS BIGINT) AS luma_max,
       CAST(sum((f + 1) * v * w * 8) AS BIGINT) AS frame_checksum
FROM px GROUP BY doc_id
""",
    description=(
        "REAL video decode: MJPEG-in-AVI container walk (nested RIFF"
        " LISTs, idx1 skip) + per-frame baseline-JPEG entropy decode"
    ),
    tags=("multimodal", "udf", "codec", "video"),
)
def q_multimodal_avi_mjpeg_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-trips every document through a real MJPEG AVI (2-7 frames,
    25 fps): the decoder walks the nested RIFF structure, cross-checks
    the avih frame count and dims against what it actually decodes,
    and runs the full baseline-JPEG pipeline on every frame.  The
    oracle predicts per-frame rasters in closed form; the
    (f+1)-weighted checksum pins frame ORDER, not just content.  Same
    narrow two-Arrow-stage plan as the image tiers — per-payload frame
    decode is embarrassingly parallel, the 100 TB video-ingest shape."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _avi_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_avis, schema=AVI_SCHEMA)


# --------------------------------------------------------------------------
# BMP: the uncompressed Windows bitmap — trivially simple on
# paper, but every one of its quirks is a classic decode bug: 24-bit
# pixels are stored B,G,R (not RGB), rows are padded to 4-byte
# boundaries (so any odd width desyncs a naive reader), and a POSITIVE
# biHeight means the raster is BOTTOM-UP.  The fixture forces all
# three: odd widths, per-channel formulas that differ, and a
# y-weighted checksum that breaks if the vertical flip is skipped.
# --------------------------------------------------------------------------


def encode_bmp(doc_id: int, n_chars: int) -> bytes:
    """A real BI_RGB 24-bit BMP (file header + BITMAPINFOHEADER,
    bottom-up rows, 4-byte row padding).  Pixel (x, y) in TOP-DOWN
    image coordinates has r=(doc_id+2x+3y)%256, g=(5x+y)%256,
    b=(doc_id+x+7y)%256."""
    import struct

    w = n_chars % 37 + 3
    h = doc_id % 25 + 2
    stride = (3 * w + 3) // 4 * 4
    raster = bytearray()
    for yy in range(h - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(w):
            row += bytes(
                (
                    (doc_id + x + 7 * yy) % 256,  # B first on disk
                    (5 * x + yy) % 256,
                    (doc_id + 2 * x + 3 * yy) % 256,
                )
            )
        row += b"\x00" * (stride - 3 * w)
        raster += row
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40)
    return hdr + info + bytes(raster)


def decode_bmp(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b, r_checksum) via the real
    header walk: honor the pixel-data offset, the padded stride, the
    BGR byte order and the bottom-up row order (positive biHeight).
    r_checksum = sum((1 + x + 7y) * r) over TOP-DOWN coordinates, so
    skipping the vertical flip (or transposing) breaks the hash even
    though the channel sums wouldn't."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (_sz, _r1, _r2, off) = struct.unpack("<IHHI", payload[2:14])
    hsize, w, h, planes, bpp, comp = struct.unpack("<IiiHHI", payload[14:34])
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only BI_RGB 24-bit BMP (got {bpp}/{comp})")
    if h <= 0:
        raise NotImplementedError("top-down (negative height) BMP")
    stride = (3 * w + 3) // 4 * 4
    if off + stride * h > len(payload):
        raise ValueError("BMP pixel array truncated")
    rows = np.frombuffer(
        payload[off : off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : 3 * w].astype(np.int64)
    px = rows.reshape(h, w, 3)[::-1]  # flip: disk is bottom-up
    b, g, r = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    xs = np.arange(w, dtype=np.int64)[None, :]
    ys = np.arange(h, dtype=np.int64)[:, None]
    return (
        int(w),
        int(h),
        int(r.sum()),
        int(g.sum()),
        int(b.sum()),
        int(((1 + xs + 7 * ys) * r).sum()),
    )


@F.pandas_udf(T.BinaryType())
def _bmp_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_bmp(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


BMP_SCHEMA = (
    "doc_id long, width long, height long, sum_r long, sum_g long,"
    " sum_b long, r_checksum long"
)


def decode_bmps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_bmp(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
                "r_checksum",
            ],
        )


@register(
    "multimodal_bmp_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 37 + 3 AS w, doc_id % 25 + 2 AS h FROM documents
), ps AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p FROM dims
), px AS (
  SELECT doc_id, w, h, p % w AS x, p // w AS y FROM ps
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST(sum((doc_id + 2 * x + 3 * y) % 256) AS BIGINT) AS sum_r,
       CAST(sum((5 * x + y) % 256) AS BIGINT) AS sum_g,
       CAST(sum((doc_id + x + 7 * y) % 256) AS BIGINT) AS sum_b,
       CAST(sum((1 + x + 7 * y) * ((doc_id + 2 * x + 3 * y) % 256))
            AS BIGINT) AS r_checksum
FROM px GROUP BY doc_id
""",
    description=(
        "REAL BMP decode: padded-stride BGR bottom-up raster with a"
        " flip-pinning positional checksum"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a real 24-bit BI_RGB BMP.
    Odd widths force the 4-byte row padding, the per-channel formulas
    differ (a BGR/RGB swap moves sums between channels), and the
    y-weighted red checksum is computed in TOP-DOWN coordinates while
    the file stores rows bottom-up — the three classic BMP decode bugs
    each break the driver hash independently.  Same narrow
    two-Arrow-stage plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _bmp_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_bmps, schema=BMP_SCHEMA)


# --------------------------------------------------------------------------
# Compression codecs: zlib (DEFLATE), WARC.gz (multi-member gzip),
# snappy, LZ4 frame and zstd.  Each query compresses every document with
# the real library and decodes it on executors with the installed native
# decoder (stdlib zlib, pyarrow's C++ codecs): the decode an ingest job
# over .jsonl.zst shards or Common Crawl WARC.gz files runs.  The oracle
# is sha256 of the text, so a decode that is not byte-exact breaks the
# driver hash; a corrupt payload raises the library's own error.
# --------------------------------------------------------------------------

import hashlib  # noqa: E402
import zlib  # noqa: E402
from functools import partial  # noqa: E402

import pyarrow as pa  # noqa: E402

INFLATE_SCHEMA = "doc_id long, n_bytes long, digest string"


def _digest_rows(
    batches: Iterator[pd.DataFrame], decompress: Callable[[bytes], bytes]
) -> Iterator[pd.DataFrame]:
    """(doc_id, n_bytes, sha256 hex) of every decoded payload."""
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            data = decompress(p)
            rows.append((doc_id, len(data), hashlib.sha256(data).hexdigest()))
        yield pd.DataFrame(rows, columns=["doc_id", "n_bytes", "digest"])


def encode_zlib_doc(doc_id: int, text: str) -> bytes:
    """REAL zlib output with a per-doc strategy rotation: doc_id%3==0
    level-0 (stored blocks only), ==1 Z_FIXED (fixed-Huffman), ==2
    default level 6 (dynamic) — so the corpus exercises every block
    type the spec defines."""
    mode = doc_id % 3
    if mode == 0:
        return zlib.compress(text.encode(), 0)
    strategy = zlib.Z_FIXED if mode == 1 else zlib.Z_DEFAULT_STRATEGY
    co = zlib.compressobj(6, zlib.DEFLATED, 15, 8, strategy)
    return co.compress(text.encode()) + co.flush()


@F.pandas_udf(T.BinaryType())
def _zlib_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_zlib_doc(int(d), t) for d, t in zip(doc_id, text)]
    )


def decode_zlibs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _digest_rows(batches, zlib.decompress)


@register(
    "inflate_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents
""",
    description=(
        "zlib round-trip: real zlib streams in all 3 DEFLATE block types,"
        " decoded by zlib with its Adler-32 check"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_inflate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compresses every document with zlib, the strategy rotated per
    doc so stored, fixed-Huffman and dynamic-Huffman blocks all
    appear, and decodes each stream on executors with zlib, which
    checks the Adler-32 trailer.  The oracle is sha256(text): the
    decode must be byte-exact for every document.  Same narrow
    two-Arrow-stage plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _zlib_payload("doc_id", "text").alias("payload")
    )
    return payloads.mapInPandas(decode_zlibs, schema=INFLATE_SCHEMA)


# Common Crawl ships WARC files as MULTI-MEMBER gzip: one gzip member
# per WARC record, concatenated, so a reader can seek to a record
# boundary and decode one member without touching the rest.


def _gzip_members(payload: bytes) -> list[bytes]:
    """The decompressed bytes of each member of a multi-member gzip
    file.  zlib parses each RFC 1952 header and checks each member's
    CRC-32 and ISIZE trailer.  A member cut off before its end is
    refused: zlib returns the prefix it could decode without error."""
    members: list[bytes] = []
    while payload:
        d = zlib.decompressobj(wbits=31)
        members.append(d.decompress(payload))
        if not d.eof:
            raise ValueError("truncated gzip member")
        payload = d.unused_data
    return members


def _parse_warc_record(raw: bytes) -> tuple[dict[str, str], bytes]:
    """(headers, payload) from one WARC record: version line, CRLF
    header block, Content-Length-delimited payload, trailing CRLFCRLF."""
    if not raw.startswith(b"WARC/1.0\r\n"):
        raise ValueError("WARC record missing WARC/1.0 version line")
    head_end = raw.index(b"\r\n\r\n")
    headers: dict[str, str] = {}
    for line in raw[10:head_end].split(b"\r\n"):
        k, _, v = line.partition(b": ")
        headers[k.decode()] = v.decode()
    n = int(headers["Content-Length"])
    payload = raw[head_end + 4 : head_end + 4 + n]
    if len(payload) != n:
        raise ValueError("WARC payload shorter than Content-Length")
    if raw[head_end + 4 + n :] != b"\r\n\r\n":
        raise ValueError("WARC record missing trailing CRLFCRLF")
    return headers, payload


def _warc_record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in headers
    )
    return head + b"\r\n" + payload + b"\r\n\r\n"


def encode_warc_gz(doc_id: int, text: str) -> bytes:
    """A real two-record WARC.gz for one document: a warcinfo record
    then a response record carrying the text, EACH gzipped as its own
    member (gzip module = real RFC 1952 output) and concatenated — the
    Common Crawl layout."""
    import gzip

    body = text.encode()
    info = _warc_record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", f"<urn:uuid:info-{doc_id}>"),
            ("Content-Type", "application/warc-fields"),
            ("Content-Length", str(len(b"software: engine\r\n"))),
        ],
        b"software: engine\r\n",
    )
    resp = _warc_record(
        [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:uuid:doc-{doc_id}>"),
            ("WARC-Target-URI", f"http://corpus.example/doc/{doc_id}"),
            ("Content-Type", "text/plain"),
            ("Content-Length", str(len(body))),
        ],
        body,
    )
    return gzip.compress(info, 6, mtime=0) + gzip.compress(resp, 6, mtime=0)


def decode_warc_gz(doc_id: int, payload: bytes) -> tuple[int, str, int, str]:
    """(n_records, target_uri, payload_len, payload_sha) via the full
    multi-member walk; cross-checks the response record's id against
    the doc and requires exactly one warcinfo + one response."""
    members = _gzip_members(payload)
    records = [_parse_warc_record(m) for m in members]
    types = [h["WARC-Type"] for h, _ in records]
    if types != ["warcinfo", "response"]:
        raise ValueError(f"unexpected WARC record sequence {types}")
    h, body = records[1]
    if h["WARC-Record-ID"] != f"<urn:uuid:doc-{doc_id}>":
        raise ValueError("response record id does not match doc")
    return (
        len(records),
        h["WARC-Target-URI"],
        len(body),
        hashlib.sha256(body).hexdigest(),
    )


@F.pandas_udf(T.BinaryType())
def _warc_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_warc_gz(int(d), t) for d, t in zip(doc_id, text)]
    )


WARC_SCHEMA = (
    "doc_id long, n_records long, target_uri string, payload_len long,"
    " payload_sha string"
)


def decode_warcs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_warc_gz(doc_id, p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_records", "target_uri", "payload_len",
                "payload_sha",
            ],
        )



@register(
    "warc_gz_extract",
    oracle="""
SELECT doc_id,
       CAST(2 AS BIGINT) AS n_records,
       concat('http://corpus.example/doc/', doc_id) AS target_uri,
       CAST(length(text) AS BIGINT) AS payload_len,
       sha256(text) AS payload_sha
FROM documents
""",
    description=(
        "WARC.gz ingest: multi-member gzip walk (zlib, CRC-32 + ISIZE per"
        " member) + WARC/1.0 record parsing, Common Crawl layout"
    ),
    tags=("multimodal", "udf", "codec", "ingest"),
)
def q_warc_gz_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a real WARC.gz (warcinfo +
    response records, one gzip member each, concatenated — exactly how
    Common Crawl ships the web).  The extractor decodes the members one
    by one with zlib, which checks each member's CRC-32 and ISIZE
    trailer, then parses the WARC version line, header fields and
    Content-Length-delimited payload.  The oracle pins the extracted
    URI, payload length and sha256 in closed form.  Same narrow
    two-Arrow-stage plan as the codec tiers — the member-per-record
    layout is what makes WARC ingest embarrassingly parallel."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _warc_payload("doc_id", "text").alias("payload")
    )
    return payloads.mapInPandas(decode_warcs, schema=WARC_SCHEMA)


# Snappy is the codec under most parquet files (and this engine's own
# default page compression); LZ4 and zstd are the other two parquet
# codec families, and zstd is what .jsonl.zst training shards ship in.


def snappy_decompress(payload: bytes) -> bytes:
    """A raw snappy block, decoded by pyarrow's C++ codec.  The varint
    preamble gives the decoded size that ``pa.decompress`` needs;
    snappy rejects a stream that does not match it."""
    n = shift = 0
    for b in payload:
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return pa.decompress(payload, n, codec="snappy", asbytes=True)
    raise ValueError("snappy preamble truncated")


def encode_snappy_doc(text: str) -> bytes:
    """REAL snappy bytes from the production C++ codec (pyarrow)."""
    return pa.compress(text.encode(), codec="snappy", asbytes=True)


@F.pandas_udf(T.BinaryType())
def _snappy_payload(text: pd.Series) -> pd.Series:
    return pd.Series([encode_snappy_doc(t) for t in text])


def decode_snappys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _digest_rows(batches, snappy_decompress)


@register(
    "snappy_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents
""",
    description=(
        "snappy round-trip: real pyarrow/C++ snappy blocks decoded by the"
        " same codec, sized from the varint preamble"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_snappy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compresses every document with the REAL snappy codec (pyarrow's
    bundled C++ library — the same implementation under parquet page
    compression) and decodes it on executors with that codec, sized
    from the block's varint preamble.  The oracle is sha256(text)
    byte-exactness for every document.  Same narrow two-Arrow-stage
    plan as the other codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _snappy_payload("text").alias("payload")
    )
    return payloads.mapInPandas(decode_snappys, schema=INFLATE_SCHEMA)


def frame_decompress(payload: bytes, codec: str) -> bytes:
    """Every frame of a zstd or LZ4 frame payload, decoded by pyarrow's
    stream reader for ``codec``.  ``pa.decompress`` would need the
    decoded size up front, and pyarrow's LZ4 frames do not carry it.
    An empty payload holds no frame; the reader would return no bytes
    for it, so it is refused."""
    if not payload:
        raise ValueError(f"empty {codec} payload")
    return pa.input_stream(pa.py_buffer(payload), compression=codec).read()


@F.pandas_udf(T.BinaryType())
def _lz4_payload(text: pd.Series) -> pd.Series:
    return pd.Series(
        [pa.compress(t.encode(), codec="lz4", asbytes=True) for t in text]
    )


def decode_lz4s(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _digest_rows(batches, partial(frame_decompress, codec="lz4"))


@register(
    "lz4_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents
""",
    description=(
        "LZ4 frame round-trip: real pyarrow LZ4 frames decoded by pyarrow's"
        " LZ4 frame reader (header checksum verified)"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_lz4_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compresses every document with the REAL LZ4 frame codec
    (pyarrow's bundled C library) and decodes it on executors with
    pyarrow's LZ4 frame stream reader, which verifies the frame
    descriptor's header checksum.  Oracle: sha256(text)
    byte-exactness; same narrow two-Arrow-stage plan as the codec
    tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _lz4_payload("text").alias("payload")
    )
    return payloads.mapInPandas(decode_lz4s, schema=INFLATE_SCHEMA)


@F.pandas_udf(T.BinaryType())
def _zstd_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
    # level rotation: 1 favors fixed/fast paths, 19 maximizes FSE-
    # described tables and multi-stream Huffman — breadth per corpus
    levels = {0: 1, 1: 3, 2: 19}
    return pd.Series(
        [
            pa.Codec("zstd", compression_level=levels[int(d) % 3]).compress(
                t.encode(), asbytes=True
            )
            for d, t in zip(doc_id, text)
        ]
    )


def decode_zstds(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _digest_rows(batches, partial(frame_decompress, codec="zstd"))


@register(
    "zstd_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents
""",
    description=(
        "zstd round-trip: real libzstd frames at levels 1/3/19 decoded by"
        " pyarrow's zstd stream reader"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compresses every document with REAL libzstd (pyarrow's bundled
    C library, level rotated 1/3/19 per doc) and decodes it on
    executors with pyarrow's zstd stream reader.  zstd is what
    .jsonl.zst training corpora arrive in; the oracle (sha256 of the
    text) requires byte-exact decoding of every document.  Same
    narrow two-Arrow-stage plan as the codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _zstd_payload("doc_id", "text").alias("payload")
    )
    return payloads.mapInPandas(decode_zstds, schema=INFLATE_SCHEMA)


def decode_avi_sampled(
    doc_id: int, payload: bytes, stride: int
) -> tuple[int, int, int, int]:
    """(n_frames_total, n_decoded, luma_sum_sampled, checksum_sampled)
    decoding ONLY every ``stride``-th frame: the container walk indexes
    all '00dc' chunks (cheap — header arithmetic, no entropy work) and
    runs the JPEG pipeline just on the sampled ones.  This is the
    standard shape for video at corpus scale: frame extraction cost is
    proportional to the SAMPLE, not the footage, because the container
    addresses frames without decoding them."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    frames: list[bytes] = []
    for cid, off, ln in _riff_chunks(payload, 12, len(payload)):
        if cid != b"LIST":
            continue
        if payload[off : off + 4] == b"movi":
            for c2, o2, l2 in _riff_chunks(payload, off + 4, off + ln):
                if c2[2:] == b"dc":
                    frames.append(payload[o2 : o2 + l2])
    luma = checksum = 0
    n_dec = 0
    for f in range(0, len(frames), stride):
        _w, _h, _mean, _mx, fsum = decode_jpeg(frames[f])
        luma += fsum
        checksum += (f + 1) * fsum
        n_dec += 1
    return len(frames), n_dec, luma, checksum


AVI_SAMPLE_STRIDE = 2
AVI_SAMPLED_SCHEMA = (
    "doc_id long, n_frames long, n_decoded long, luma_sum_sampled long,"
    " checksum_sampled long"
)


def decode_avis_sampled(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_avi_sampled(doc_id, p, AVI_SAMPLE_STRIDE))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_frames", "n_decoded", "luma_sum_sampled",
                "checksum_sampled",
            ],
        )


@register(
    "video_frame_sample_decode",
    # frames f = 0, 2, 4, ... only — the oracle sums over the SAMPLED
    # subset, so decoding extra frames (or the wrong ones) breaks the
    # hash just as surely as decoding none
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 6 + 2 AS nf, (n_chars % 8 + 1) * 8 AS w,
         doc_id % 6 + 1 AS hb
  FROM documents
), fr AS (
  SELECT doc_id, nf, w, hb, unnest(generate_series(0, nf - 1, 2)) AS f
  FROM dims
), rows_ AS (
  SELECT doc_id, nf, w, hb, f, unnest(generate_series(0, hb - 1)) AS r
  FROM fr
), px AS (
  SELECT doc_id, nf, w, hb, f,
         (doc_id + 186 * (f + 1) + r) % 256 AS v
  FROM rows_
)
SELECT doc_id,
       CAST(any_value(nf) AS BIGINT) AS n_frames,
       CAST((any_value(nf) + 1) // 2 AS BIGINT) AS n_decoded,
       CAST(sum(v * w * 8) AS BIGINT) AS luma_sum_sampled,
       CAST(sum((f + 1) * v * w * 8) AS BIGINT) AS checksum_sampled
FROM px GROUP BY doc_id
""",
    description=(
        "sampled video decode: index all AVI frames, entropy-decode"
        " only every 2nd — cost tracks the sample, not the footage"
    ),
    tags=("multimodal", "udf", "codec", "video"),
)
def q_video_frame_sample_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The practical 100 TB video-ingest shape: the container walk
    indexes every frame (header arithmetic only), then the JPEG
    pipeline runs on every 2nd frame — extraction cost proportional to
    the SAMPLE rather than the footage, which is why frame-sampled
    featurization of petabyte video is tractable at all.  The oracle
    sums per-frame stats over exactly the sampled subset (f = 0, 2,
    ...), so decoding the wrong frames, all frames, or skipping the
    index count each break the hash.  Same narrow two-Arrow-stage plan
    as the codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _avi_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_avis_sampled, schema=AVI_SAMPLED_SCHEMA)


# --------------------------------------------------------------------------
# TIFF: the scientific/scan format — and the OTHER LZW dialect.
# TIFF-LZW differs from GIF-LZW in exactly the ways that corrupt a
# decoder that assumes one spec: codes pack MSB-FIRST (GIF: LSB), the
# alphabet is the full byte range (clear=256/eoi=257, initial width
# 9), and the code width grows ONE CODE EARLY ("early change", TIFF6
# spec as implemented by libtiff).  The container brings its own bug
# surface: II and MM byte orders (the fixture emits BOTH, keyed by doc
# parity), the IFD tag walk with inline-vs-pointed values, and
# multi-strip layout — strips compress independently, which is what
# makes strip-parallel decode of a huge scan archive possible.
# --------------------------------------------------------------------------

_TIFF_ROWS_PER_STRIP = 4


def _lzw_tiff_compress(data: bytes) -> bytes:
    """TIFF-dialect LZW: 256-symbol alphabet, clear=256, eoi=257,
    MSB-first bit packing, EARLY code-width change (width grows when
    next_code == 2^width - 1, one code before GIF would)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = n_acc = 0
    out = bytearray()

    def emit(code: int, w: int) -> None:
        nonlocal acc, n_acc
        acc = (acc << w) | code
        n_acc += w
        while n_acc >= 8:
            n_acc -= 8
            out.append((acc >> n_acc) & 0xFF)

    emit(256, width)
    buf = b""
    for b in data:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        if next_code < 4094:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1  # EARLY change
        else:
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        buf = bytes([b])
    if buf:
        emit(table[buf], width)
    emit(257, width)
    if n_acc:
        out.append((acc << (8 - n_acc)) & 0xFF)
    return bytes(out)


def _lzw_tiff_decompress(data: bytes) -> bytes:
    """The decoder half: MSB-first reads, early width change mirrored
    one insert ahead of the GIF rule, KwKwK handling, clear resets."""
    acc = n_acc = pos = 0

    def read(w: int) -> int:
        nonlocal acc, n_acc, pos
        while n_acc < w:
            if pos >= len(data):
                raise ValueError("TIFF LZW stream truncated before EOI")
            acc = (acc << 8) | data[pos]
            pos += 1
            n_acc += 8
        n_acc -= w
        code = (acc >> n_acc) & ((1 << w) - 1)
        return code

    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == 257:
            return bytes(out)
        if code == 256:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code < len(table) and (code < 256 or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"TIFF LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4094:
            table.append(prev + entry[:1])
            # the decoder's inserts lag the encoder's by one code, so
            # its early change fires at 2^w - 2 where the encoder's
            # fires at 2^w - 1 — the same lag compensation as GIF's,
            # shifted one code earlier by the TIFF dialect
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry


def encode_tiff(doc_id: int, n_chars: int) -> bytes:
    """A real LZW-compressed grayscale TIFF, byte order by doc parity
    (even -> II little-endian, odd -> MM big-endian): header, one IFD
    with the 8 baseline tags, multi-strip layout (4 rows/strip, each
    strip independently LZW'd), strip offset/count arrays stored
    out-of-line when longer than one IFD value slot.  Pixel (x, y) is
    ``(doc_id + 3x + 5y) % 256``."""
    import struct

    bo = "<" if doc_id % 2 == 0 else ">"
    w = n_chars % 40 + 4
    h = doc_id % 28 + 3
    strips = []
    for y0 in range(0, h, _TIFF_ROWS_PER_STRIP):
        rows = bytearray()
        for y in range(y0, min(y0 + _TIFF_ROWS_PER_STRIP, h)):
            rows.extend((doc_id + 3 * x + 5 * y) % 256 for x in range(w))
        strips.append(_lzw_tiff_compress(bytes(rows)))
    n = len(strips)

    def tag(tid: int, typ: int, cnt: int, val: int) -> bytes:
        # SHORT values sit in the high-order-correct half of the slot
        if typ == 3 and cnt == 1:
            return struct.pack(f"{bo}HHI", tid, typ, cnt) + struct.pack(
                f"{bo}HH", val, 0
            )
        return struct.pack(f"{bo}HHII", tid, typ, cnt, val)

    # layout: header(8) + IFD + out-of-line arrays + strip data
    n_tags = 8
    ifd_size = 2 + 12 * n_tags + 4
    arrays_at = 8 + ifd_size
    if n == 1:
        offsets_at = counts_at = 0
        data_at = arrays_at
    else:
        offsets_at = arrays_at
        counts_at = arrays_at + 4 * n
        data_at = counts_at + 4 * n
    strip_offsets = []
    pos = data_at
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    ifd = struct.pack(f"{bo}H", n_tags)
    ifd += tag(256, 3, 1, w)  # ImageWidth
    ifd += tag(257, 3, 1, h)  # ImageLength
    ifd += tag(258, 3, 1, 8)  # BitsPerSample
    ifd += tag(259, 3, 1, 5)  # Compression = LZW
    ifd += tag(262, 3, 1, 1)  # Photometric = BlackIsZero
    ifd += tag(
        273, 4, n, strip_offsets[0] if n == 1 else offsets_at
    )  # StripOffsets
    ifd += tag(278, 3, 1, _TIFF_ROWS_PER_STRIP)  # RowsPerStrip
    ifd += tag(
        279, 4, n, len(strips[0]) if n == 1 else counts_at
    )  # StripByteCounts
    ifd += struct.pack(f"{bo}I", 0)  # next IFD: none
    out = bytearray()
    out += (b"II" if bo == "<" else b"MM") + struct.pack(f"{bo}HI", 42, 8)
    out += ifd
    if n > 1:
        for off in strip_offsets:
            out += struct.pack(f"{bo}I", off)
        for s in strips:
            out += struct.pack(f"{bo}I", len(s))
    for s in strips:
        out += s
    return bytes(out)


def decode_tiff(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """(width, height, n_strips, big_endian, pixel_sum, checksum) via
    the real walk: byte-order dispatch, magic 42, IFD tag parse with
    inline-vs-pointed LONG arrays, per-strip TIFF-LZW decode, raster
    reassembly in strip order.  checksum = sum((1 + x + 7y) * v), so a
    strip-order or row-order slip breaks the hash."""
    import struct

    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload (no II/MM byte order)")
    magic, ifd_at = struct.unpack(f"{bo}HI", payload[2:8])
    if magic != 42:
        raise ValueError(f"TIFF magic {magic}, expected 42")
    (n_tags,) = struct.unpack(f"{bo}H", payload[ifd_at : ifd_at + 2])
    tags: dict[int, tuple[int, int, bytes]] = {}
    for k in range(n_tags):
        e = ifd_at + 2 + 12 * k
        tid, typ, cnt = struct.unpack(f"{bo}HHI", payload[e : e + 8])
        tags[tid] = (typ, cnt, payload[e + 8 : e + 12])

    def short_or_long(tid: int) -> int:
        typ, cnt, raw = tags[tid]
        if typ == 3:
            return struct.unpack(f"{bo}HH", raw)[0]
        return struct.unpack(f"{bo}I", raw)[0]

    def long_array(tid: int) -> list[int]:
        typ, cnt, raw = tags[tid]
        if cnt == 1:
            return [struct.unpack(f"{bo}I", raw)[0]]
        (at,) = struct.unpack(f"{bo}I", raw)
        return list(
            struct.unpack(f"{bo}{cnt}I", payload[at : at + 4 * cnt])
        )

    if short_or_long(259) != 5:
        raise NotImplementedError("only LZW-compressed TIFF")
    w, h = short_or_long(256), short_or_long(257)
    rps = short_or_long(278)
    offs, lens = long_array(273), long_array(279)
    if len(offs) != len(lens):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    raster = bytearray()
    for off, ln in zip(offs, lens):
        raster += _lzw_tiff_decompress(payload[off : off + ln])
    if len(raster) != w * h:
        raise ValueError(f"decoded {len(raster)} pixels, want {w * h}")
    a = np.frombuffer(bytes(raster), dtype=np.uint8).astype(np.int64)
    a = a.reshape(h, w)
    xs = np.arange(w, dtype=np.int64)[None, :]
    ys = np.arange(h, dtype=np.int64)[:, None]
    if rps <= 0 or (h + rps - 1) // rps != len(offs):
        raise ValueError("strip count inconsistent with RowsPerStrip")
    return (
        int(w),
        int(h),
        len(offs),
        int(payload[:2] == b"MM"),
        int(a.sum()),
        int(((1 + xs + 7 * ys) * a).sum()),
    )


@F.pandas_udf(T.BinaryType())
def _tiff_payload(doc_id: pd.Series, n_chars: pd.Series) -> pd.Series:
    return pd.Series(
        [encode_tiff(int(d), int(n)) for d, n in zip(doc_id, n_chars)]
    )


TIFF_SCHEMA = (
    "doc_id long, width long, height long, n_strips long,"
    " big_endian long, pixel_sum long, checksum long"
)


def decode_tiffs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (doc_id, *decode_tiff(p))
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "n_strips", "big_endian",
                "pixel_sum", "checksum",
            ],
        )


@register(
    "multimodal_tiff_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, n_chars % 40 + 4 AS w, doc_id % 28 + 3 AS h FROM documents
), ps AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p FROM dims
), px AS (
  SELECT doc_id, w, h, p % w AS x, p // w AS y FROM ps
)
SELECT doc_id,
       CAST(any_value(w) AS BIGINT) AS width,
       CAST(any_value(h) AS BIGINT) AS height,
       CAST((any_value(h) + 3) // 4 AS BIGINT) AS n_strips,
       CAST(doc_id % 2 AS BIGINT) AS big_endian,
       CAST(sum((doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS pixel_sum,
       CAST(sum((1 + x + 7 * y) * ((doc_id + 3 * x + 5 * y) % 256))
            AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""",
    description=(
        "REAL TIFF decode: dual-endian IFD walk + multi-strip TIFF-LZW"
        " (MSB-first, early change) — the OTHER LZW dialect"
    ),
    tags=("multimodal", "udf", "codec"),
)
def q_multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips every document through a real LZW TIFF, byte order
    alternating II/MM by doc parity so endian handling is hashed, the
    raster split into independently compressed 4-row strips (the
    structure that makes strip-parallel decode of scan archives
    possible), and the compression being the TIFF LZW DIALECT —
    MSB-first packing and the early code-width change, both opposite
    to the GIF decoder elsewhere in this file, so the two dialects pin
    each other.  The oracle recomputes dimensions, strip count,
    endianness and the position-weighted raster checksum in closed
    form.  Same narrow two-Arrow-stage plan as the codec tiers."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", _tiff_payload("doc_id", "n_chars").alias("payload")
    )
    return payloads.mapInPandas(decode_tiffs, schema=TIFF_SCHEMA)
