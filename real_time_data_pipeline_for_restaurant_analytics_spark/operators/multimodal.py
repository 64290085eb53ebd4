"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (training-data-pipeline surface).

Two decode tiers:

- **REAL formats** — P6 PPM and 24-bit BI_RGB BMP images,
  RIFF/PCM16 WAV audio and YUV4MPEG2 (C420) video, parsed and
  written with numpy alone (``decode_image``/``encode_ppm``/
  ``encode_bmp``, ``decode_wav``, ``decode_y4m`` below), plus PNG,
  whose DEFLATE layer is the stdlib's zlib (``encode_png``/
  ``decode_png``: CRC-verified chunks and the integer-exact
  unfilter recurrences), all running inside Arrow-batched
  ``mapInPandas`` and oracle-verified byte-for-byte (q108–q111,
  q122, q146).
- **Stub seam** for formats with a hand-rolled entropy coder (JPEG,
  GIF, WebP, AVIF, compressed audio/video need codec libs):
  ``decode_image`` and the
  WAV/Y4M parsers raise NotImplementedError at that boundary, and
  ``decode_image_stub`` keeps the clearly-marked fake for arbitrary
  binaries (q30/q37's payloads).

Everything Spark-side is real and tested either way: the binary
column schema, the mapInPandas UDF signatures, batch shapes, and the
partitioning story (binary payloads hash-partition on the id, payload
bytes never shuffle more than once).

At 100 TB the pattern is: keep payloads in parquet binary columns (or
pointers to object storage), run mapInPandas with modest
``maxRecordsPerBatch`` so a batch of payloads fits executor memory,
and emit narrow typed metadata that downstream joins/filters use —
the heavy bytes are touched exactly once.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, content_md5 string, fake_width int, fake_height int"
)


def decode_image_stub(payload: bytes) -> tuple[int, int]:
    """STUB: real implementation would decode the image header (PIL/
    libvips) and return (width, height). Container has no codec libs,
    so this derives a deterministic fake from the payload bytes —
    replace the body, keep the signature.
    """
    w = 1 + payload[0] % 64 if payload else 0
    h = 1 + payload[-1] % 64 if payload else 0
    return (w * 16, h * 16)


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched metadata extraction over binary payloads."""
    for pdf in batches:
        payloads = pdf["payload"]
        dims = [decode_image_stub(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "content_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                "fake_width": [d[0] for d in dims],
                "fake_height": [d[1] for d in dims],
            }
        )


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Manufacture the opaque binary column (in production this IS the
    stored image/audio bytes; here utf-8 bytes of the text stand in)."""
    return df.select("doc_id", F.encode(F.col(text_col), "utf-8").alias("payload"))


def extract_metadata(binary_df: DataFrame) -> DataFrame:
    """mapInPandas over the binary column → typed metadata."""
    return binary_df.mapInPandas(_meta_batches, schema=META_SCHEMA)


THUMB_SCHEMA = "doc_id bigint, thumb binary, thumb_bytes bigint, thumb_md5 string"


def resize_stub(payload: bytes, max_bytes: int = 64) -> bytes:
    """STUB: real implementation decodes, resizes (PIL/libvips), and
    re-encodes. Deterministic fake: keep a bounded prefix — preserving
    the transform's contract (binary in → smaller binary out)."""
    return payload[:max_bytes]


def _thumb_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        thumbs = pdf["payload"].map(resize_stub)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "thumb": thumbs,
                "thumb_bytes": thumbs.map(len),
                "thumb_md5": thumbs.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )


def make_thumbnails(binary_df: DataFrame) -> DataFrame:
    """Binary→binary transform over mapInPandas (resize/frame-sample
    shape): payloads stream through Arrow in bounded batches and are
    touched exactly once; output is a new bounded binary column, so
    downstream stages shuffle thumbnails, never the originals."""
    return binary_df.mapInPandas(_thumb_batches, schema=THUMB_SCHEMA)


@register(
    "q37_multimodal_thumbnails",
    oracle="""
SELECT doc_id,
       CAST(octet_length(CAST(substr(text, 1, 64) AS BLOB)) AS BIGINT) AS thumb_bytes,
       md5(substr(text, 1, 64)) AS thumb_md5
FROM documents ORDER BY doc_id
""",
    doc="Binary→binary multimodal transform (resize/frame-sample plumbing; "
    "stub kernel keeps a bounded prefix, so the oracle can verify bytes).",
)
def q37_multimodal_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    thumbs = make_thumbnails(with_binary_payload(d))
    # ascii-only synthetic text ⇒ utf-8 byte prefix == char prefix, so
    # the DuckDB substr oracle checks the Spark-side bytes exactly.
    return thumbs.select("doc_id", "thumb_bytes", "thumb_md5").orderBy("doc_id")


@register(
    "q30_multimodal_metadata",
    oracle="""
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents ORDER BY doc_id
""",
    doc="Binary-column metadata extraction via Arrow-batched mapInPandas "
    "(decode kernel stubbed; plumbing real).",
)
def q30_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    meta = extract_metadata(with_binary_payload(d))
    # fake_width/height come from the stub → excluded from the oracle
    # contract; byte-length and digest are real and engine-checkable.
    return meta.select("doc_id", "n_bytes", "content_md5").orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL decode path (round 5). The stub above remains the seam for
# compressed formats (they need codec libs), but uncompressed raster
# formats are just headers + raw pixels — decodable with numpy alone —
# and PNG's compression is stdlib zlib + integer filter recurrences.
# This implements genuine PPM (P6), BMP (24-bit BI_RGB) and PNG codecs
# and runs them inside the same Arrow-batched mapInPandas plumbing, so
# the "decode kernel" is real for formats that need no external library.
#
# The registered queries synthesize deterministic PPM images whose pixel
# values are pure integer functions of (doc_id, x, y) — so a DuckDB
# oracle replays width/height/channel-sums/thumbnail checksums exactly,
# hash-checking the REAL byte-level decode end to end.
# ---------------------------------------------------------------------------

import numpy as np


def spread_ids(ids_df: DataFrame) -> DataFrame:
    """Fan the id column out to every core BEFORE payload synthesis /
    decode (round-10, SCALE_r09 §3: at sf1.0 the documents table
    arrives as 2 parquet splits, so the zero-shuffle decode pipelines
    ran on 2/32 cores — the scan's byte-proportional split sizing is
    exactly wrong for compute-per-row kernels). The exchange moves
    ONLY the 8-byte ids (~1 MB at 150k docs) round-robin, with an
    EXPLICIT numPartitions so AQE can't coalesce the tiny frame back
    into few tasks (the advisory-repartition pitfall, round 8). Real
    stored-payload corpora can't use this move (it would shuffle the
    payload bytes); there the fix is sizing
    ``spark.sql.files.maxPartitionBytes`` to the decode cost — this
    helper is for the synthesize-from-ids fixture family, where the
    pre-payload frame is free to move."""
    n = ids_df.sparkSession.sparkContext.defaultParallelism
    return ids_df.repartition(n)


#: fixture-cache hit/miss counters that bench.py prints as ``fx``.
#: Nothing counts into them (every payload fixture is synthesized in
#: the query); they stay so the bench's output line keeps its shape.
PAYLOAD_CACHE_STATS = {"hits": 0, "misses": 0}


def encode_ppm(pix: "np.ndarray") -> bytes:
    """P6 binary PPM from an (h, w, 3) uint8 array."""
    h, w, c = pix.shape
    assert c == 3
    return b"P6\n%d %d\n255\n" % (w, h) + pix.astype(np.uint8).tobytes()


def encode_bmp(pix: "np.ndarray") -> bytes:
    """24-bit BI_RGB BMP from an (h, w, 3) uint8 RGB array (rows
    bottom-up, BGR order, 4-byte row padding — the real format)."""
    h, w, _ = pix.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = b"".join(
        pix[y, :, ::-1].astype(np.uint8).tobytes() + b"\x00" * pad
        for y in range(h - 1, -1, -1)
    )
    import struct

    pixel_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", pixel_off + len(body), 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


#: Adam7 interlace pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_filter_lines(raw: bytes, h: int, stride: int, bpp: int) -> bytes:
    """Filter ``h`` scanlines of ``stride`` bytes with the filter type
    CYCLING y % 5 through None/Sub/Up/Average/Paeth — every filter the
    spec defines is exercised on any image ≥ 5 rows, so a decoder bug
    in any unfilter branch breaks the round trip loudly. ``bpp`` is
    the byte distance to the left neighbor (channels × bytes/sample).
    Plain-bytes arithmetic, not per-element numpy indexing: the
    recurrences are byte-sequential, and bytearray/int ops are ~5-10x
    faster than numpy scalar access in that shape (measured,
    SCALE_r09 — this loop is the whole cost of the PNG codec)."""
    zero = bytes(stride)
    lines = []
    for y in range(h):
        ftype = y % 5
        cur = raw[y * stride : (y + 1) * stride]
        up = raw[(y - 1) * stride : y * stride] if y > 0 else zero
        if ftype == 0:
            body = cur
        elif ftype == 1:
            out = bytearray(stride)
            for i in range(stride):
                out[i] = (cur[i] - (cur[i - bpp] if i >= bpp else 0)) & 0xFF
            body = bytes(out)
        elif ftype == 2:
            body = bytes((a - b) & 0xFF for a, b in zip(cur, up))
        elif ftype == 3:
            out = bytearray(stride)
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                out[i] = (cur[i] - (left + up[i]) // 2) & 0xFF
            body = bytes(out)
        else:
            out = bytearray(stride)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = up[i]
                cc = up[i - bpp] if i >= bpp else 0
                p = a + b - cc
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - cc if p >= cc else cc - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                out[i] = (cur[i] - pred) & 0xFF
            body = bytes(out)
        lines.append(bytes([ftype]) + body)
    return b"".join(lines)


def encode_png(
    pix: "np.ndarray",
    palette: "np.ndarray | None" = None,
    interlace: bool = False,
    depth: int | None = None,
) -> bytes:
    """REAL PNG writer (round-9; generalized round-10): the array
    shape and dtype pick the color type — (h, w) uint8 is grayscale
    (or palette indices when ``palette`` (n, 3) is given), (h, w, 2)
    gray+alpha, (h, w, 3) truecolor, (h, w, 4) RGBA; uint16 input
    writes 16-bit samples (big-endian per the spec). ``interlace``
    emits Adam7: each of the seven passes is an independently
    filtered sub-image. Filters cycle per line (see
    :func:`_png_filter_lines`); chunk CRCs are real (zlib.crc32)."""
    import struct
    import zlib

    if depth is None:
        depth = 16 if pix.dtype == np.uint16 else 8
    if pix.ndim == 2:
        channels = 1
        color = 3 if palette is not None else 0
    else:
        channels = pix.shape[2]
        color = {2: 4, 3: 2, 4: 6}[channels]
    if depth < 8 and channels != 1:
        raise ValueError("sub-byte depths are single-channel (gray/palette)")
    if depth < 8 and pix.max(initial=0) >= (1 << depth):
        raise ValueError(f"sample out of {depth}-bit range")
    h, w = pix.shape[:2]
    bpp = max(1, channels * depth // 8)
    pix3 = pix.reshape(h, w, channels)

    def pass_bytes(sub: "np.ndarray") -> bytes:
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            return b""
        if depth < 8:
            # pack depth-bit samples MSB-first, each row byte-padded
            bits = (
                sub[:, :, 0][:, :, None]
                >> np.arange(depth - 1, -1, -1)[None, None, :]
            ) & 1
            bits = bits.reshape(ph, pw * depth)
            pad = (-bits.shape[1]) % 8
            if pad:
                bits = np.concatenate(
                    [bits, np.zeros((ph, pad), dtype=bits.dtype)], axis=1
                )
            raw = np.packbits(bits.astype(np.uint8), axis=1).tobytes()
            return _png_filter_lines(raw, ph, (pw * depth + 7) // 8, bpp)
        raw = sub.astype(">u2" if depth == 16 else np.uint8).tobytes()
        return _png_filter_lines(raw, ph, pw * bpp, bpp)

    if interlace:
        body = b"".join(
            pass_bytes(pix3[y0::dy, x0::dx]) for x0, y0, dx, dy in _ADAM7
        )
    else:
        body = pass_bytes(pix3)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, int(interlace))
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if color == 3:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")


def decode_png(payload: bytes) -> "np.ndarray":
    """REAL PNG decode with nothing but the stdlib (round-9;
    generalized round-10): chunk walk with CRC verification, IHDR
    validation, PLTE capture, IDAT concatenation, zlib inflate, and
    the per-scanline unfilter recurrences — Sub, Up, Average, and
    Paeth are all integer-exact, which is what makes a compressed
    codec oracle-replayable at all. Every color type decodes
    (grayscale, truecolor, palette — expanded through PLTE to RGB —
    gray+alpha, RGBA), at every spec depth (1/2/4-bit MSB-first
    packed samples, 8-bit, 16-bit with uint16 output), plain or
    Adam7-interlaced (seven independently-filtered sub-images
    scattered back onto the pixel grid) — the format's raster
    surface is closed. Returns (h, w) for 1-channel images (sub-byte
    grays as their RAW 0..2^d-1 sample values), (h, w, c) otherwise.
    The DEFLATE layer is the stdlib's zlib; nothing entropy-coded is
    hand-written here.

    Cost honesty (r9 verdict): the unfilter recurrences are
    interpreter-bound pure Python — ~0.14 ms/KB/core after the
    bytearray rewrite, orders below a native codec. That is the price
    of deterministic oracle replayability; it is zero-shuffle and
    embarrassingly parallel, so it scales with cores, and a
    production deployment would swap in a native decoder behind this
    same function signature, keeping this one as the oracle-checked
    reference implementation."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG signature")
    pos, ihdr, idat, plte = 8, None, b"", None
    while pos < len(payload):
        # full-frame guard BEFORE any unpack (ADVICE r10): a payload
        # cut inside the 12-byte length/tag/CRC framing must raise the
        # same ValueError as one cut inside the data — callers classify
        # corrupt-vs-seam by exception type, and a bare struct.error
        # from unpack_from past the buffer end would misroute them
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk")
        (length,) = struct.unpack_from(">I", payload, pos)
        if pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch — corrupt payload")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            if len(data) % 3 or not data:
                raise ValueError("PLTE length is not a multiple of 3")
            plte = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("PNG with reserved compression/filter method")
    if color not in (0, 2, 3, 4, 6):
        raise ValueError(f"PNG color type {color} is not in the spec")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"PNG bit depth {depth} is not in the spec")
    if depth < 8 and color not in (0, 3):
        raise ValueError(f"{depth}-bit PNG with multi-channel color type {color}")
    if color == 3 and depth == 16:
        # palette indices cap at 8 bits (spec 11.2.2, ADVICE r11) —
        # without this check 16-bit samples would silently decode as
        # palette indices
        raise ValueError("16-bit PNG with palette color type is not in the spec")
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace} is not in the spec")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    # filters operate on BYTES: at sub-byte depths the left-neighbor
    # distance is one byte (spec 9.2), and a scanline is the packed
    # ceil(w·channels·depth/8) bytes
    bpp = max(1, channels * depth // 8)
    if color == 3 and plte is None:
        raise ValueError("palette PNG without a PLTE chunk")
    flat = zlib.decompress(idat)

    def rowbytes(pw: int) -> int:
        return (pw * channels * depth + 7) // 8

    def unfilter(chunk_bytes: bytes, ph: int, pw: int) -> bytes:
        # plain-bytes unfilter recurrences (see _png_filter_lines):
        # bytearray/int arithmetic beats numpy scalar access ~5-10x
        stride = rowbytes(pw)
        recon_all = bytearray(ph * stride)
        zero = bytes(stride)
        for y in range(ph):
            base = y * (stride + 1)
            ftype = chunk_bytes[base]
            line = chunk_bytes[base + 1 : base + 1 + stride]
            prior = (
                bytes(recon_all[(y - 1) * stride : y * stride]) if y > 0 else zero
            )
            off = y * stride
            if ftype == 0:
                recon_all[off : off + stride] = line
            elif ftype == 2:  # Up: no intra-line recurrence
                recon_all[off : off + stride] = bytes(
                    (a + b) & 0xFF for a, b in zip(line, prior)
                )
            elif ftype == 1:
                rec = bytearray(stride)
                for i in range(stride):
                    rec[i] = (line[i] + (rec[i - bpp] if i >= bpp else 0)) & 0xFF
                recon_all[off : off + stride] = rec
            elif ftype == 3:
                rec = bytearray(stride)
                for i in range(stride):
                    left = rec[i - bpp] if i >= bpp else 0
                    rec[i] = (line[i] + (left + prior[i]) // 2) & 0xFF
                recon_all[off : off + stride] = rec
            elif ftype == 4:
                rec = bytearray(stride)
                for i in range(stride):
                    a = rec[i - bpp] if i >= bpp else 0
                    b = prior[i]
                    cc = prior[i - bpp] if i >= bpp else 0
                    p = a + b - cc
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - cc if p >= cc else cc - p
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    rec[i] = (line[i] + pred) & 0xFF
                recon_all[off : off + stride] = rec
            else:
                raise ValueError(f"PNG filter type {ftype} out of range")
        return bytes(recon_all)

    dt = np.dtype(">u2") if depth == 16 else np.dtype(np.uint8)

    def to_array(raw: bytes, ph: int, pw: int) -> "np.ndarray":
        if depth >= 8:
            return np.frombuffer(raw, dtype=dt).reshape(ph, pw, channels)
        # sub-byte samples: unpack MSB-first, regroup depth-bit fields
        bits = np.unpackbits(
            np.frombuffer(raw, dtype=np.uint8).reshape(ph, rowbytes(pw)), axis=1
        )[:, : pw * depth]
        weights = 1 << np.arange(depth - 1, -1, -1)
        vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2).astype(np.uint8)
        return vals[:, :, None]

    if interlace == 0:
        if len(flat) != h * (rowbytes(w) + 1):
            raise ValueError("PNG IDAT inflated to the wrong scanline volume")
        img = to_array(unfilter(flat, h, w), h, w)
    else:  # Adam7: seven independently-filtered sub-images
        img = np.zeros((h, w, channels), dtype=dt)
        at = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = -(-(w - x0) // dx) if w > x0 else 0
            ph = -(-(h - y0) // dy) if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            size = ph * (rowbytes(pw) + 1)
            if at + size > len(flat):
                raise ValueError("PNG IDAT short of the Adam7 pass volume")
            img[y0::dy, x0::dx] = to_array(
                unfilter(flat[at : at + size], ph, pw), ph, pw
            )
            at += size
        if at != len(flat):
            raise ValueError("PNG IDAT inflated to the wrong scanline volume")
    if depth == 16:
        img = img.astype(np.uint16)
    if color == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return pal[idx]
    if channels == 1:
        return img[:, :, 0]
    return img


def decode_image(payload: bytes) -> "np.ndarray":
    """REAL decode of raster payloads to an (h, w, 3) uint8 RGB array.
    P6 PPM and 24-bit BI_RGB BMP are parsed from bytes (numpy only);
    PNG is inflated with stdlib zlib and unfiltered
    (:func:`decode_png`). Anything else — JPEG, GIF, WebP, AVIF —
    raises NotImplementedError: the boundary where a codec library
    (PIL/libvips) would plug in."""
    if payload[:2] == b"P6":
        parts = payload.split(b"\n", 3)
        w, h = (int(t) for t in parts[1].split())
        if int(parts[2]) != 255:
            raise NotImplementedError("only 8-bit PPM")
        return np.frombuffer(parts[3][: w * h * 3], dtype=np.uint8).reshape(h, w, 3)
    if payload[:2] == b"BM":
        import struct

        pixel_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_sz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
        if bpp != 24 or comp != 0:
            raise NotImplementedError("only 24-bit BI_RGB BMP")
        row = w * 3
        stride = row + (4 - row % 4) % 4
        # positive height = bottom-up row order (the common case);
        # negative = top-down
        order = range(abs(h) - 1, -1, -1) if h > 0 else range(abs(h))
        rows = [
            np.frombuffer(payload, dtype=np.uint8, count=row, offset=pixel_off + y * stride)
            for y in order
        ]
        return np.stack(rows).reshape(abs(h), w, 3)[:, :, ::-1]
    if payload[:8] == _PNG_SIG:
        pix = decode_png(payload)
        if pix.dtype == np.uint16:
            pix = (pix >> 8).astype(np.uint8)  # most-significant byte
        if pix.ndim == 2:
            return np.repeat(pix[:, :, None], 3, axis=2)
        if pix.shape[2] == 2:  # gray+alpha: replicate luma, drop alpha
            return np.repeat(pix[:, :, :1], 3, axis=2)
        if pix.shape[2] == 4:  # RGBA: drop alpha
            return pix[:, :, :3]
        return pix
    raise NotImplementedError(
        "image format (JPEG/GIF/WebP/AVIF) needs a codec library "
        "(PIL/libvips); only PPM (P6), 24-bit BMP and PNG decode "
        "natively, see decode_image_stub for the seam"
    )


def nn_thumbnail(pix: "np.ndarray", tw: int = 4, th: int = 4) -> "np.ndarray":
    """Nearest-neighbor downsample: thumb[i, j] = src[i*h//th, j*w//tw]
    — the standard integer-exact sampling grid."""
    h, w, _ = pix.shape
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return pix[np.ix_(ys, xs)]


def synth_pixels(doc_id: int) -> "np.ndarray":
    """Deterministic synthetic image for ``doc_id``: w=4+id%13,
    h=4+id%11, channel values are integer functions of (id, x, y) —
    replayable in ANY engine's SQL, which is what lets the oracle
    verify the real byte-level decode."""
    w = 4 + doc_id % 13
    h = 4 + doc_id % 11
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    coef = np.array([[31, 17, 1], [7, 13, 2], [3, 29, 3]])
    chans = [(a * x + b * y + c * doc_id) % 256 for a, b, c in coef]
    return np.concatenate(chans, axis=2).astype(np.uint8)


def synth_image_payloads(ids_df: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): real encoded PPM bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_ppm(synth_pixels(int(d))) for d in pdf["doc_id"]],
                }
            )

    return spread_ids(ids_df.select("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, n_px bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def decode_stats(binary_df: DataFrame) -> DataFrame:
    """REAL decode → integer channel statistics, Arrow-batched.
    Payload bytes are parsed exactly once; output is narrow typed
    metadata (the 100 TB contract from the module docstring)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_px", "sum_r", "sum_g", "sum_b")}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                pix = decode_image(bytes(p))
                h, w, _ = pix.shape
                s = pix.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(int(d)); out["width"].append(w); out["height"].append(h)
                out["n_px"].append(w * h)
                out["sum_r"].append(int(s[0])); out["sum_g"].append(int(s[1])); out["sum_b"].append(int(s[2]))
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(run, schema=DECODE_SCHEMA)


THUMB_REAL_SCHEMA = (
    "doc_id bigint, thumb_w int, thumb_h int, thumb_sum bigint, thumb binary"
)


def decode_and_thumbnail(binary_df: DataFrame, tw: int = 4, th: int = 4) -> DataFrame:
    """REAL decode → nearest-neighbor thumbnail → re-encode (PPM).
    Emits the re-encoded thumb bytes plus an integer sampled-pixel
    checksum (SQL-replayable; the bytes round-trip is pinned in
    tests via decode_image(thumb))."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "thumb_w", "thumb_h", "thumb_sum", "thumb")}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                t = nn_thumbnail(decode_image(bytes(p)), tw, th)
                rows["doc_id"].append(int(d))
                rows["thumb_h"].append(t.shape[0]); rows["thumb_w"].append(t.shape[1])
                rows["thumb_sum"].append(int(t.sum(dtype=np.int64)))
                rows["thumb"].append(encode_ppm(t))
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(run, schema=THUMB_REAL_SCHEMA)


def _grid_oracle_prefix() -> str:
    """Constant 16x15 grid cross join (max w=16, h=14) filtered per
    doc — DuckDB's range() takes no lateral args, so the grid is
    constant-bounded and the per-image bounds are WHERE filters."""
    return """
WITH dims AS (
  SELECT doc_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(4 + doc_id % 11 AS INT) AS h
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, xs.x, ys.y
  FROM dims d,
       (SELECT unnest(range(16)) AS x) xs,
       (SELECT unnest(range(14)) AS y) ys
  WHERE xs.x < d.w AND ys.y < d.h
)"""


_PIXEL_STATS_ORACLE = (
    _grid_oracle_prefix()
    + """
SELECT doc_id, w AS width, h AS height, CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM((31 * x + 17 * y + doc_id) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((7 * x + 13 * y + 2 * doc_id) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((3 * x + 29 * y + 3 * doc_id) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h ORDER BY doc_id
"""
)


@register(
    "q108_image_decode_stats",
    oracle=_PIXEL_STATS_ORACLE,
    doc="REAL image decode: synthesize deterministic PPM bytes per doc, "
    "parse the actual P6 header + raw pixels with numpy inside "
    "Arrow-batched mapInPandas, emit integer channel sums — the oracle "
    "replays the pixel arithmetic in SQL, hash-checking the byte-level "
    "decode end to end. Compressed formats remain the documented stub "
    "seam (decode_image raises NotImplementedError for them).",
)
def q108_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return decode_stats(synth_image_payloads(d)).orderBy("doc_id")


@register(
    "q109_image_thumbnails",
    oracle=_grid_oracle_prefix()
    + """
SELECT doc_id, 4 AS thumb_w, 4 AS thumb_h,
       CAST(SUM(CASE WHEN xs_ok AND ys_ok THEN px_sum ELSE 0 END) AS BIGINT) AS thumb_sum
FROM (
  SELECT doc_id,
         x IN (0 * w // 4, 1 * w // 4, 2 * w // 4, 3 * w // 4) AS xs_ok,
         y IN (0 * h // 4, 1 * h // 4, 2 * h // 4, 3 * h // 4) AS ys_ok,
         (31 * x + 17 * y + doc_id) % 256
         + (7 * x + 13 * y + 2 * doc_id) % 256
         + (3 * x + 29 * y + 3 * doc_id) % 256 AS px_sum
  FROM px
) GROUP BY doc_id ORDER BY doc_id
""",
    doc="REAL decode -> nearest-neighbor 4x4 thumbnail -> PPM re-encode "
    "over mapInPandas; the integer sampled-pixel checksum is replayed by "
    "the oracle's sampling-grid SQL, and the thumb bytes round-trip "
    "(decode_image(encode_ppm(thumb)) == thumb) is test-pinned.",
)
def q109_image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    thumbs = decode_and_thumbnail(synth_image_payloads(d))
    return thumbs.select("doc_id", "thumb_w", "thumb_h", "thumb_sum").orderBy("doc_id")


def synth_png_payloads(ids_df: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): real zlib-compressed PNG bytes of
    the same deterministic pixel grid as :func:`synth_image_payloads`,
    with every spec filter type exercised (the encoder cycles them per
    scanline)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_png(synth_pixels(int(d))) for d in pdf["doc_id"]],
                }
            )

    return spread_ids(ids_df.select("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


@register(
    "q146_png_decode_stats",
    oracle=_PIXEL_STATS_ORACLE,
    doc="REAL compressed-codec decode (round-9): the q108 pixel grid is "
    "encoded as genuine PNG — zlib-deflated scanlines, per-line filter "
    "type cycling through all five spec filters (None/Sub/Up/Average/"
    "Paeth), CRC'd chunks — and decoded back with nothing but the "
    "stdlib (chunk walk + CRC verify + inflate + the integer-exact "
    "unfilter recurrences) inside the same Arrow-batched mapInPandas "
    "plumbing as q108; the oracle replays the pixel arithmetic in SQL, "
    "so one wrong byte anywhere in compress/filter/unfilter breaks the "
    "value hash. JPEG, GIF, WebP and AVIF stay behind the decode_image "
    "seam (they need a codec library). Payloads are synthesized, "
    "decoded, and reduced to narrow typed metadata without leaving "
    "their partition; the exchanges are the 8-byte ids fan-out "
    "(spread_ids — realizes full decode parallelism at any corpus "
    "split count, SCALE_r09 §3 fix) and the final presentation sort "
    "of the 7-column stats frame (same shape as q108).",
)
def q146_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return decode_stats(synth_png_payloads(d)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL audio (WAV/RIFF PCM16) and video (Y4M / YUV4MPEG2) codecs — the
# same round-5 move as PPM/BMP: both are genuine standard uncompressed
# formats whose containers are just headers + raw samples, so the
# parsers are real (chunk walking, plane offsets) with numpy alone, and
# deterministic synthetic payloads let DuckDB replay the decoded-sample
# arithmetic exactly.
# ---------------------------------------------------------------------------


def encode_wav(samples: "np.ndarray", sample_rate: int) -> bytes:
    """RIFF/WAVE PCM16 from an (n, channels) int16 array — the real
    container: RIFF size, fmt chunk (PCM, channels, rates, block
    align), data chunk with interleaved little-endian samples."""
    import struct

    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    block = ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * block, block, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(payload: bytes) -> tuple["np.ndarray", int]:
    """REAL RIFF chunk walk → ((n, channels) int16 array, sample_rate).
    Only PCM16 is supported; compressed WAV (ADPCM etc.) raises — the
    codec-library boundary again."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos, ch, rate, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, sz = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt_tag, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt_tag != 1 or bits != 16:
                raise NotImplementedError("only PCM16 WAV — compressed needs codec libs")
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if ch is None or data is None:
        raise NotImplementedError("missing fmt /data chunk")
    return np.frombuffer(data, dtype="<i2").reshape(-1, ch), rate


def synth_wav(doc_id: int) -> tuple["np.ndarray", int]:
    """Deterministic PCM16 signal: n = 256 + 64*(id%7) samples,
    1 + id%2 channels, sample[i,c] = ((31*id + 17*i + 7*c) % 65536)
    - 32768 — integer-replayable in any engine."""
    n = 256 + 64 * (doc_id % 7)
    ch = 1 + doc_id % 2
    i = np.arange(n)[:, None]
    c = np.arange(ch)[None, :]
    return ((31 * doc_id + 17 * i + 7 * c) % 65536 - 32768).astype(np.int16), \
        8000 + 4000 * (doc_id % 3)


AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples bigint, n_channels int, "
    "sum_abs bigint, peak int"
)


def audio_decode_stats(binary_df: DataFrame) -> DataFrame:
    """REAL WAV decode → integer signal statistics, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "sample_rate", "n_samples", "n_channels", "sum_abs", "peak")}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                s, rate = decode_wav(bytes(p))
                a = np.abs(s.astype(np.int64))
                out["doc_id"].append(int(d)); out["sample_rate"].append(rate)
                out["n_samples"].append(s.shape[0]); out["n_channels"].append(s.shape[1])
                out["sum_abs"].append(int(a.sum())); out["peak"].append(int(a.max()))
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(run, schema=AUDIO_SCHEMA)


def synth_audio_payloads(ids_df: DataFrame) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_wav(*synth_wav(int(d))) for d in pdf["doc_id"]],
                }
            )

    return spread_ids(ids_df.select("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


@register(
    "q110_audio_decode_stats",
    oracle="""
WITH base AS (
  SELECT doc_id,
         256 + 64 * (doc_id % 7) AS n,
         CAST(1 + doc_id % 2 AS INT) AS ch
  FROM documents
)
SELECT doc_id,
       CAST(8000 + 4000 * (doc_id % 3) AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples, ch AS n_channels,
       CAST(list_sum(flatten(list_transform(range(n), i ->
            list_transform(range(ch), c ->
              abs((31 * doc_id + 17 * i + 7 * c) % 65536 - 32768))))) AS BIGINT)
         AS sum_abs,
       CAST(list_max(flatten(list_transform(range(n), i ->
            list_transform(range(ch), c ->
              abs((31 * doc_id + 17 * i + 7 * c) % 65536 - 32768))))) AS INT)
         AS peak
FROM base ORDER BY doc_id
""",
    doc="REAL audio decode: synthesize deterministic RIFF/PCM16 WAV "
    "bytes, walk the actual chunk structure (fmt /data, word "
    "alignment), emit integer signal stats — oracle replays the sample "
    "arithmetic, hash-checking the container parse end to end. "
    "Compressed audio is the documented NotImplementedError seam.",
)
def q110_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return audio_decode_stats(synth_audio_payloads(d)).orderBy("doc_id")


def encode_y4m(frames: "np.ndarray") -> bytes:
    """YUV4MPEG2 (C420) from an (f, h, w) uint8 Y-plane stack; U/V
    planes are derived deterministically (Y//2 subsampled) — a real
    y4m stream any y4m reader accepts."""
    f, h, w = frames.shape
    head = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420jpeg\n" % (w, h)
    out = [head]
    for k in range(f):
        y = frames[k]
        u = (y[::2, ::2] // 2).astype(np.uint8)
        v = (y[1::2, ::2] // 2).astype(np.uint8)
        out.append(b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes())
    return b"".join(out)


def decode_y4m(payload: bytes) -> "np.ndarray":
    """REAL y4m parse → (frames, h, w) uint8 Y-plane stack: header
    tokens (W/H/C), then FRAME markers with C420 plane offsets. Only
    C420 layouts are supported (anything else raises)."""
    nl = payload.index(b"\n")
    tokens = payload[:nl].split(b" ")
    if tokens[0] != b"YUV4MPEG2":
        raise NotImplementedError("not a y4m stream")
    w = h = None
    for t in tokens[1:]:
        if t[:1] == b"W":
            w = int(t[1:])
        elif t[:1] == b"H":
            h = int(t[1:])
        elif t[:1] == b"C" and not t.startswith(b"C420"):
            raise NotImplementedError("only C420 y4m")
    ysz = w * h
    csz = (h // 2) * (w // 2)
    frame_sz = len(b"FRAME\n") + ysz + 2 * csz
    pos, frames = nl + 1, []
    while pos < len(payload):
        if payload[pos : pos + 6] != b"FRAME\n":
            raise NotImplementedError("unsupported FRAME parameters")
        frames.append(
            np.frombuffer(payload, dtype=np.uint8, count=ysz, offset=pos + 6).reshape(h, w)
        )
        pos += frame_sz
    return np.stack(frames)


def synth_video_frames(doc_id: int) -> "np.ndarray":
    """Deterministic Y-plane stack: w = 4 + 2*(id%5), h = 4 + 2*(id%3)
    (even, as C420 requires), f = 3 + id%5 frames,
    Y[f,y,x] = (id + 5f + 3x + 7y) % 256."""
    w = 4 + 2 * (doc_id % 5)
    h = 4 + 2 * (doc_id % 3)
    f = 3 + doc_id % 5
    fi = np.arange(f)[:, None, None]
    y = np.arange(h)[None, :, None]
    x = np.arange(w)[None, None, :]
    return ((doc_id + 5 * fi + 3 * x + 7 * y) % 256).astype(np.uint8)


def synth_video_payloads(ids_df: DataFrame) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_y4m(synth_video_frames(int(d))) for d in pdf["doc_id"]],
                }
            )

    return spread_ids(ids_df.select("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


VIDEO_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, "
    "n_sampled int, sampled_y_sum bigint"
)


def video_frame_sample_stats(binary_df: DataFrame, stride: int = 2) -> DataFrame:
    """REAL y4m decode → frame-sample every ``stride``-th frame →
    integer Y-plane sums over the sampled frames. The frame-sample
    kernel of a video curation pipeline, with the heavy bytes touched
    exactly once per payload."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "width", "height", "n_frames", "n_sampled", "sampled_y_sum")}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                fr = decode_y4m(bytes(p))
                samp = fr[::stride]
                out["doc_id"].append(int(d))
                out["height"].append(fr.shape[1]); out["width"].append(fr.shape[2])
                out["n_frames"].append(fr.shape[0]); out["n_sampled"].append(samp.shape[0])
                out["sampled_y_sum"].append(int(samp.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(run, schema=VIDEO_SCHEMA)


@register(
    "q111_video_frame_sample",
    oracle="""
WITH base AS (
  SELECT doc_id,
         4 + 2 * (doc_id % 5) AS w,
         4 + 2 * (doc_id % 3) AS h,
         3 + doc_id % 5 AS f
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(f AS INT) AS n_frames,
       CAST((f + 1) // 2 AS INT) AS n_sampled,
       CAST(list_sum(list_transform(list_filter(range(f), fi -> fi % 2 = 0), fi ->
            list_sum(list_transform(range(h), y ->
              list_sum(list_transform(range(w), x ->
                (doc_id + 5 * fi + 3 * x + 7 * y) % 256)))))) AS BIGINT)
         AS sampled_y_sum
FROM base ORDER BY doc_id
""",
    doc="REAL video frame-sampling: synthesize deterministic YUV4MPEG2 "
    "(C420) streams, parse the actual y4m header + FRAME plane offsets, "
    "sample every 2nd frame, emit integer Y-plane sums — oracle replays "
    "the pixel arithmetic over the sampling grid. Compressed video "
    "stays behind the NotImplementedError seam.",
)
def q111_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return video_frame_sample_stats(synth_video_payloads(d)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (round 6): decode → 64-bit aHash →
# the dedup banding kernel. Composition of two proven pieces.
# ---------------------------------------------------------------------------

def ahash64(pix: "np.ndarray") -> int:
    """64-bit average-hash of an (h, w, 3) uint8 image: nearest-
    neighbor-sample the RED channel on an 8x8 grid (source index =
    (grid_i * dim) // 8, the nn_thumbnail mapping), then bit b
    (b = gy*8 + gx) is set iff sample*64 > sum(samples) — the
    integer-exact form of "above the mean" (no float division, so any
    engine replays it bit-for-bit). Returned as a signed two's-
    complement BIGINT (bit 63 contributes -2^63), the q115 fingerprint
    convention, so the SAME 4x16-band hamming kernel finds near-dup
    images."""
    h, w, _ = pix.shape
    r = pix[:, :, 0].astype(np.int64)
    samp = np.empty((8, 8), dtype=np.int64)
    for gy in range(8):
        for gx in range(8):
            samp[gy, gx] = r[(gy * h) // 8, (gx * w) // 8]
    total = int(samp.sum())
    u = 0
    for b, v in enumerate(samp.reshape(-1)):
        if int(v) * 64 > total:
            u |= 1 << b
    return u - (1 << 64) if u >= 1 << 63 else u


def synth_near_dup_image_payloads(ids_df: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, payload): groups of 4 consecutive ids share
    a base image (synth_pixels(doc_id // 4)); each member perturbs the
    (0,0) red value by doc_id % 4 (mod 256). Within a group the aHash
    differs by at most a few threshold flips (near-dups the banding
    kernel must catch); across groups the patterns diverge. Real PPM
    bytes, so the REAL decoder runs in the pipeline under test."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                pix = synth_pixels(d // 4).copy()
                pix[0, 0, 0] = (int(pix[0, 0, 0]) + d % 4) % 256
                payloads.append(encode_ppm(pix))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return spread_ids(ids_df.select("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def image_phash_frame(binary_df: DataFrame) -> DataFrame:
    """(doc_id, payload) → (doc_id, phash BIGINT): real decode + aHash
    in one Arrow-batched pass — payload bytes never leave the stage,
    only 8 bytes of fingerprint per image travel to the dedup
    shuffle (the multimodal 100 TB contract)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [
                        ahash64(decode_image(bytes(p))) for p in pdf["payload"]
                    ],
                }
            )

    return binary_df.mapInPandas(run, schema="doc_id bigint, phash bigint")


def _phash_oracle(max_hamming: int = 3) -> str:
    # replay: base/dims → 8x8 NN grid samples of the red channel
    # (with the (0,0) perturbation) → integer mean-threshold bits →
    # two's-complement BIGINT → exact all-pairs hamming (banding has
    # perfect recall for d <= 3, so the formulations are equal)
    return f"""
WITH dims AS (
  SELECT doc_id, doc_id // 4 AS base,
         CAST(4 + (doc_id // 4) % 13 AS INT) AS w,
         CAST(4 + (doc_id // 4) % 11 AS INT) AS h
  FROM documents
),
samples AS (
  SELECT d.doc_id, gy.gy * 8 + gx.gx AS bit,
         (((31 * ((gx.gx * d.w) // 8) + 17 * ((gy.gy * d.h) // 8) + d.base) % 256)
          + CASE WHEN (gx.gx * d.w) // 8 = 0 AND (gy.gy * d.h) // 8 = 0
                 THEN d.doc_id % 4 ELSE 0 END) % 256 AS v
  FROM dims d,
       (SELECT unnest(range(8)) AS gx) gx,
       (SELECT unnest(range(8)) AS gy) gy
),
tot AS (SELECT doc_id, SUM(v) AS s FROM samples GROUP BY doc_id),
fp AS (
  SELECT s.doc_id,
         CAST(SUM(CASE WHEN s.v * 64 > t.s THEN
                    CASE WHEN s.bit = 63 THEN (-9223372036854775807 - 1)
                         ELSE (CAST(1 AS BIGINT) << s.bit) END
                  ELSE 0 END) AS BIGINT) AS phash
  FROM samples s JOIN tot t USING (doc_id) GROUP BY s.doc_id
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
ORDER BY id1, id2
"""


@register(
    "q122_image_phash_dedup",
    oracle=_phash_oracle(),
    doc="Perceptual-hash image dedup: REAL PPM decode → 64-bit aHash "
    "(integer mean-threshold, engine-replayable) → the q115 4x16-band "
    "hamming kernel finds near-duplicate images at hamming <= 3; "
    "payload bytes stay in the decode stage, only 8-byte fingerprints "
    "shuffle — the image-dedup shape for a 100 TB multimodal corpus.",
)
def q122_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import simhash_hamming_pairs

    d = load(spark, sf_dir, "documents")
    fp = image_phash_frame(synth_near_dup_image_payloads(d)).withColumnRenamed(
        "phash", "simhash"
    )
    return simhash_hamming_pairs(fp, "doc_id").orderBy("id1", "id2")
