"""Real PNG codec — the compressed-image leg of the multimodal family.

binaryops.py proves the pipeline on uncompressed BMP; the standing
critique ("BMP-only bounds the realism of the multimodal claims") is
answered here with a genuine PNG implementation on nothing but stdlib
zlib + numpy:

- ``png_encode`` emits spec-conformant PNGs: 8-byte signature, IHDR
  (8-bit truecolor), zlib-compressed IDAT of filtered scanlines, IEND —
  every chunk carrying its real CRC32. Scanlines use Sub (type 1) on
  the first row and Up (type 2) below, so the decoder's filter
  reconstruction is genuinely exercised on every image (filter 0 would
  be a no-op decoder).
- ``png_decode`` is a full parser: signature check, chunk walk with
  per-chunk CRC VERIFICATION, IHDR validation, multi-IDAT concatenation,
  zlib inflate, and reconstruction of all five PNG filter types
  (None/Sub/Up/Average/Paeth — the last two unit-tested against
  hand-filtered buffers since the encoder emits 1/2).

Correctness model: the oracle CANNOT run zlib (the compression_gate
precedent), so the oracled query exposes only DECODE-DERIVED values —
dimensions and the exact raster checksum, predicted independently from
sha256 digest arithmetic (binaryops._FEATURES_ORACLE, byte-identical
expectations to the BMP path because both codecs must reproduce the
same raster). A bug anywhere in filter math, chunk framing, CRC, or
inflate breaks the hash-match; compressed sizes are pytest-gated.

Scale: encode/decode are 1:1 Arrow passes (the binaryops shape, plus
the spread_for_codec small-input spread — a no-op at real scan widths);
zlib costs CPU, not shuffle — at 100 TB this is decode-at-ingest
exactly like production image pipelines.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from .binaryops import _FEATURES_ORACLE, _doc_pixels, spread_for_codec

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray, level: int = 6) -> bytes:
    """Encode an (H, W, 3) uint8 array as an 8-bit truecolor PNG.

    Row 0 is Sub-filtered (type 1), the rest Up-filtered (type 2) — the
    standard differencing filters, so decode must actually reconstruct."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    rows = pixels.reshape(h, w * 3).astype(np.int16)
    filtered = bytearray()
    # Sub: delta vs the pixel 3 bytes to the left
    first = rows[0].copy()
    first[3:] = (first[3:] - rows[0][:-3]) % 256
    filtered += b"\x01" + first.astype(np.uint8).tobytes()
    if h > 1:
        # Up: delta vs the row above
        up = (rows[1:] - rows[:-1]) % 256
        up8 = up.astype(np.uint8)
        for r in up8:
            filtered += b"\x02" + r.tobytes()
    idat = zlib.compress(bytes(filtered), level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct one scanline per the PNG filter spec (all 5 types)."""
    out = row.astype(np.int32)
    if ftype == 0:
        return out
    if ftype == 2:  # Up
        return (out + prev) % 256
    if ftype == 1:  # Sub — sequential left dependency
        for i in range(bpp, len(out)):
            out[i] = (out[i] + out[i - bpp]) % 256
        return out
    if ftype == 3:  # Average
        for i in range(len(out)):
            left = out[i - bpp] if i >= bpp else 0
            out[i] = (out[i] + (left + int(prev[i])) // 2) % 256
        return out
    if ftype == 4:  # Paeth
        for i in range(len(out)):
            left = out[i - bpp] if i >= bpp else 0
            ul = int(prev[i - bpp]) if i >= bpp else 0
            out[i] = (out[i] + _paeth(int(left), int(prev[i]), ul)) % 256
        return out
    raise ValueError(f"bad PNG filter type {ftype}")


def png_decode(payload: bytes) -> np.ndarray:
    """Full PNG parse → (H, W, 3) uint8: chunk walk with CRC verification,
    IHDR validation, inflate, and per-scanline filter reconstruction."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype != 2 or comp != 0 or filt != 0 or ilace != 0:
                raise ValueError(
                    f"unsupported PNG variant: depth={depth} color={ctype} interlace={ilace}"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError(f"PNG raster length {len(raw)} != {h}x({stride}+1)")
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1)
        prev = _unfilter(ftype, row, prev, 3)
        out[y] = prev
    return out.astype(np.uint8).reshape(h, w, 3)


_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("pixel_bytes", T.LongType()),
        T.StructField("pixel_checksum", T.LongType()),
    ]
)


@register("image_png_roundtrip", oracle=_FEATURES_ORACLE)
def image_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document's raster as a REAL PNG, decode it back
    through the full parser (CRC + inflate + filter reconstruction), and
    emit the decoded dimensions + exact raster checksum. The oracle
    predicts the same values from digest arithmetic WITHOUT running
    zlib — identical expectations to the BMP path, so a filter-math or
    framing bug cannot hide.

    r13 (guide §4.1/§2.3): encode and decode fused into ONE Arrow pass —
    the PNG bytes are built and re-parsed inside the same Python worker
    instead of crossing JVM↔Python between two chained mapInPandas nodes
    (the multimodal_features rationale; every codec half still runs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread_for_codec(docs)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height", "pixel_bytes", "checksum")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                px = png_decode(png_encode(_doc_pixels(text)))
                h, w, _ = px.shape
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_bytes"].append(h * w * 3)
                rows["checksum"].append(int(px.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": rows["doc_id"],
                    "width": rows["width"],
                    "height": rows["height"],
                    "n_channels": [3] * len(rows["doc_id"]),
                    "pixel_bytes": rows["pixel_bytes"],
                    "pixel_checksum": rows["checksum"],
                }
            )

    return docs.mapInPandas(fn, schema=_ROUNDTRIP_SCHEMA)
