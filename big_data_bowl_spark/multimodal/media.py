"""Multimodal media operators: binary payload + typed metadata.

Design for 100 TB of media:

- A media table is ``(media_id, media_type, format, width, height,
  n_frames, payload binary)``. The payload is OPAQUE to the engine —
  filters/joins/selections run on the typed metadata columns so
  Catalyst prunes and pushes down without touching bytes; parquet
  column pruning means a metadata-only query never reads a payload
  page.
- Decode/resize/feature ops are ``mapInPandas`` (Arrow-batched): one
  Python worker round-trip per BATCH, never per row, and the iterator
  form streams batches so a partition never has to fit in worker
  memory at once. Batch size is governed by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it so
  batch_rows x payload_size fits the worker (e.g. 64 rows of 10 MB
  images per 1 GB).
- All media ops are NARROW (no shuffle): payloads move zero times.
  Anything that must shuffle (e.g. grouping frames) should carry only
  (media_id, frame_idx, small features), never the payload.

Codecs are pure Python over numpy and the stdlib (no PIL/ffmpeg).
``decode_payload`` returns a (height, width) uint8 BT.601 luma plane:

- 'fake' — payload bytes tiled into the declared (height, width)
  grid; deterministic, used by the DuckDB-oracle queries.
- 'pgm' / 'ppm' — binary netpbm P5 / P6, 8- and 16-bit samples.
- 'bmp' — BI_RGB at 1/4/8/16/24/32 bits, BI_RLE8, BI_RLE4 and
  BI_BITFIELDS (16/32-bit); bottom-up or top-down rows.
- 'png' — every color type, bit depth and row filter, plain or Adam7
  interlaced.
- 'jpeg' — Huffman-coded sequential (SOF0/SOF1, 8- and 12-bit) and
  progressive (SOF2: spectral selection and successive
  approximation); sampling factors 1..4; interleaved, partially
  interleaved and single-component scans; restart intervals. Every
  scan fills a per-component coefficient grid and one IDCT of the Y
  grid runs at EOI; JPEG's Y is the luma plane.
- 'gif' — the first composited frame; ``decode_gif_frames`` and
  ``decode_gif_frames_rgb`` return every frame (GIF87a/89a, global
  and local color tables, interlace, partial frames with disposal
  methods 0-3 and transparency).

``decode_audio`` decodes 'wav' PCM to mono int16. MP4 is parsed, not
decoded: ``parse_mp4_metadata``, ``parse_mp4_sample_index`` and
``parse_mp4_sample_ranges`` (plain and fragmented) read the box tree.
``parse_exif`` reads a JPEG's Exif APP1. Malformed payloads raise
ValueError; anything else — other formats, arithmetic, lossless or
hierarchical JPEG, other BMP compressions — raises
NotImplementedError at ``decode_payload``, the seam where a real codec
plugs in.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pandas as pd

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("format", StringType()),  # fake | png | wav | mp4 ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = "media_id long, n_bytes long, mean_intensity double, max_intensity long"

FRAME_SCHEMA = "media_id long, frame_idx int, frame_payload binary"

# Largest raster a decoder allocates (64 Mpx, e.g. 8192 x 8192). Header
# dimensions are untrusted, and RLE, LZW and JPEG legitimately expand
# far past their payload size, so the bound is a constant.
MAX_RASTER_PIXELS = 1 << 26


def _check_raster(w: int, h: int, what: str) -> None:
    """Raise ValueError for a header-declared w x h raster that is
    negative or over MAX_RASTER_PIXELS; every decoder calls this on
    its header dimensions before allocating."""
    if w < 0 or h < 0 or w * h > MAX_RASTER_PIXELS:
        raise ValueError(
            f"{what} raster {w}x{h} outside 0..{MAX_RASTER_PIXELS} pixels"
        )


def as_media_table(documents: DataFrame) -> DataFrame:
    """Deterministic media table derived from `documents` (the test
    corpus has no real media; payload = utf8 bytes of the text, typed
    metadata from doc_id).

    Every derivation is a native column expression, so the construction
    itself is oracle-checkable (see queries/multimodal.py).
    """
    mt = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        F.lit("fake").alias("format"),
        (F.col("doc_id") % 16 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 8 + 1).cast("int").alias("height"),
        (F.col("doc_id") % 5 + 1).cast("int").alias("n_frames"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def _decode_netpbm(payload: bytes) -> "np.ndarray":
    """Binary netpbm: P5 (grayscale) / P6 (RGB -> BT.601 luma), both
    8-bit (maxval <= 255) and 16-bit (maxval 256..65535, 2-byte
    big-endian samples per the spec); 16-bit samples rescale to the
    8-bit range by rint(v * 255 / maxval), so v = u * (maxval/255)
    recovers u exactly when maxval = 255 * k."""
    import numpy as np

    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: {magic!r}")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens ('#' comment lines allowed), then a single whitespace byte
    # before the raster
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    _check_raster(w, h, "netpbm")
    if not 0 < maxval < 65536:
        raise ValueError(f"invalid netpbm maxval {maxval}")
    depth = 1 if magic == b"P5" else 3
    if maxval > 255:  # 2-byte big-endian samples (netpbm spec)
        raw = np.frombuffer(
            payload, np.uint8, count=w * h * depth * 2, offset=pos
        ).astype(np.uint16)
        samples = (raw[0::2] << 8) | raw[1::2]
        if int(samples.max(initial=0)) > maxval:
            # the netpbm spec caps samples at maxval; scaling an
            # out-of-range sample past 255 would wrap on the uint8 cast
            raise ValueError(
                f"netpbm sample {int(samples.max())} exceeds declared "
                f"maxval {maxval}"
            )
        scaled = np.rint(
            samples.astype(np.float64) * (255.0 / maxval)
        )
        raster = scaled.astype(np.uint8)
    else:
        raster = np.frombuffer(
            payload, np.uint8, count=w * h * depth, offset=pos
        )
    if depth == 1:
        return raster.reshape(h, w)
    rgb = raster.reshape(h, w, 3).astype(np.float64)
    luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    return luma.astype(np.uint8)


def _decode_bmp(payload: bytes) -> "np.ndarray":
    """8-bit-palette / 24-bit BMP (BITMAPINFOHEADER), uncompressed
    (BI_RGB) or run-length-encoded 8-bit (BI_RLE8: encoded runs,
    absolute mode, end-of-line/bitmap and delta escapes)."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    _check_raster(w, abs(h), "BMP")
    if (compression, bpp) in ((1, 8), (2, 4)):
        return _decode_bmp_rle(payload, data_offset, hdr_size, w, h, bpp)
    masks = None
    if compression == 3 and bpp in (16, 32):
        # BI_BITFIELDS (r11 seam closed): three DWORD channel masks.
        # They sit at file offset 54 either way: appended right after
        # a 40-byte BITMAPINFOHEADER, or at bV4RedMask (header-relative
        # +40) inside BITMAPV4HEADER and up
        if len(payload) < 66:
            raise ValueError("truncated BMP BITFIELDS masks")
        masks = struct.unpack_from("<III", payload, 14 + 40)
        if any(m == 0 for m in masks):
            raise ValueError("BI_BITFIELDS with a zero channel mask")
    elif compression != 0:
        raise NotImplementedError(
            f"BMP compression {compression} not supported (BI_RGB, "
            "BI_RLE8, BI_RLE4 and BI_BITFIELDS decode; plug PIL in "
            "at decode_payload)"
        )
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"invalid BMP bit depth {bpp}")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = ((w * bpp + 7) // 8 + 3) & ~3  # rows pad to 4 bytes
    lut = None
    if bpp in (1, 4, 8):
        lut = _bmp_palette_lut(payload, hdr_size, 1 << bpp)
    # palettized depths go through the color table (BGRx entries after
    # the info header), BT.601 over the RGB triple — NOT index-as-gray,
    # which is only exact for an identity-gray palette (ADVICE r3)
    rows = []
    for y in range(h):
        off = data_offset + y * row_bytes
        packed = np.frombuffer(
            payload, np.uint8, count=(w * bpp + 7) // 8, offset=off
        )
        if bpp == 24:
            bgr = packed.reshape(w, 3).astype(np.float64)
            row = (
                0.299 * bgr[:, 2] + 0.587 * bgr[:, 1] + 0.114 * bgr[:, 0]
            ).astype(np.uint8)
        elif bpp == 32 and masks is None:  # BGRx, 4th byte ignored (r11)
            bgr = packed.reshape(w, 4).astype(np.float64)
            row = (
                0.299 * bgr[:, 2] + 0.587 * bgr[:, 1] + 0.114 * bgr[:, 0]
            ).astype(np.uint8)
        elif bpp in (16, 32) and masks is not None:
            # BI_BITFIELDS: extract each channel through its mask,
            # scale to 0..255 by the mask's own width (565, 555,
            # 8888, 1010102 ... all reduce to the same arithmetic)
            v = (
                packed.view("<u2") if bpp == 16 else packed.view("<u4")
            )[:w].astype(np.uint64)
            chans = []
            for m in masks:
                shift = (m & -m).bit_length() - 1
                top = m >> shift
                chans.append(
                    ((v & m) >> shift).astype(np.float64) * (255.0 / top)
                )
            r8, g8, b8 = chans
            row = np.floor(
                0.299 * r8 + 0.587 * g8 + 0.114 * b8 + 0.5
            ).astype(np.uint8)
        elif bpp == 16:  # BI_RGB 16-bit is RGB555 (r11)
            v = packed.view("<u2")[:w].astype(np.uint32)
            r5 = (v >> 10) & 0x1F
            g5 = (v >> 5) & 0x1F
            b5 = v & 0x1F
            row = np.floor(
                (
                    0.299 * r5 + 0.587 * g5 + 0.114 * b5
                ) * (255.0 / 31.0) + 0.5
            ).astype(np.uint8)
        elif bpp == 8:
            row = lut[packed]
        elif bpp == 4:
            row = lut[_bmp_nibbles(packed)[:w]]
        else:  # 1-bit, MSB first
            bits = np.unpackbits(packed)[:w]
            row = lut[bits]
        rows.append(row)
    img = np.stack(rows)
    return img[::-1] if bottom_up else img


def _bmp_palette_lut(
    payload: bytes, hdr_size: int, default_colors: int = 256
) -> "np.ndarray":
    """BGRx color table -> BT.601 luma LUT (shared by every
    palettized path; floor(x+0.5) keeps identity-gray ramps
    bit-exact despite the coefficient float error). ``default_colors``
    is the 2^bpp fallback when biClrUsed is 0 (r11: sub-byte depths
    default to 2 or 16 entries, not 256)."""
    import struct

    import numpy as np

    n_colors = struct.unpack_from("<I", payload, 46)[0] or default_colors
    pal = np.frombuffer(
        payload, np.uint8, count=n_colors * 4, offset=14 + hdr_size
    ).reshape(n_colors, 4).astype(np.float64)
    return np.floor(
        0.299 * pal[:, 2] + 0.587 * pal[:, 1] + 0.114 * pal[:, 0] + 0.5
    ).astype(np.uint8)


def _bmp_nibbles(packed: "np.ndarray") -> "np.ndarray":
    """Packed 4-bit indices -> one index per nibble, high nibble first."""
    import numpy as np

    return np.stack([packed >> 4, packed & 0x0F], axis=1).reshape(-1)


def _decode_bmp_rle(
    payload: bytes, data_offset: int, hdr_size: int, w: int, h: int, bpp: int
) -> "np.ndarray":
    """BI_RLE8 / BI_RLE4 (the Windows BMP spec's run-length coding of
    8- or 4-bit indices): (count, value) pairs paint `count` pixels,
    RLE8 repeating the index and RLE4 alternating the byte's high and
    low nibbles; count == 0 escapes to 0 = end of line, 1 = end of
    bitmap, 2 = (dx, dy) delta (skipped pixels stay index 0), else
    absolute mode — `value` literal indices follow (bytes, or packed
    nibbles high first), padded to a 2-byte boundary."""
    import numpy as np

    unpack = _bmp_nibbles if bpp == 4 else (lambda packed: packed)
    truncated = f"truncated BMP RLE{bpp} data"
    bottom_up = h > 0
    h = abs(h)
    idx = np.zeros((h, w), np.uint8)
    x = y = 0
    pos = data_offset
    while pos + 1 < len(payload) and y < h:
        count, val = payload[pos], payload[pos + 1]
        pos += 2
        if count > 0:  # encoded run
            end = min(x + count, w)
            run = np.resize(unpack(np.array([val], np.uint8)), count)
            idx[y, x:end] = run[: end - x]
            x = end
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if pos + 1 >= len(payload):
                raise ValueError(truncated)
            x = min(x + payload[pos], w)
            y += payload[pos + 1]
            pos += 2
        else:  # absolute mode: `val` literal indices, word-aligned
            nbytes = (val * bpp + 7) // 8
            if pos + nbytes > len(payload):
                raise ValueError(truncated)
            lit = unpack(np.frombuffer(payload, np.uint8, nbytes, pos))
            end = min(x + val, w)
            idx[y, x:end] = lit[: end - x]
            x = end
            pos += nbytes + (nbytes & 1)
    img = _bmp_palette_lut(payload, hdr_size, 1 << bpp)[idx]
    return img[::-1] if bottom_up else img


# Adam7 interlace pass grid: (x0, y0, dx, dy) per pass
_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, off: int, w: int, h: int,
                  depth: int, channels: int):
    """Unfilter one (sub-)raster of h rows starting at raw[off];
    returns (rows as a (h, stride) uint8 array of PACKED bytes, bytes
    consumed). Filters predict at bpp-byte distance on the packed
    stream (PNG 3.0 §9: for depths < 8, bpp rounds up to 1)."""
    import numpy as np

    bpp = max(1, (depth * channels) // 8)
    stride = -(-(w * depth * channels) // 8)
    need = h * (stride + 1)
    if off + need > len(raw):
        raise ValueError("PNG raster size mismatch")
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        o = off + y * (stride + 1)
        ftype = raw[o]
        row = np.frombuffer(
            raw, np.uint8, count=stride, offset=o + 1
        ).astype(np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up: depends only on the previous ROW
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else b if pb <= pc else c
                    )
                cur[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out, need


def _png_unpack(rows, w: int, depth: int, channels: int):
    """Packed filter-output rows -> (h, w, channels) uint8 SAMPLES
    (palette indices / gray values unscaled)."""
    import numpy as np

    h = rows.shape[0]
    if depth == 16:
        # big-endian byte pairs -> uint16 samples (PNG 3.0 §7.2)
        b = (
            rows[:, : w * channels * 2]
            .reshape(h, w, channels, 2)
            .astype(np.uint16)
        )
        return (b[..., 0] << 8) | b[..., 1]
    if depth == 8:
        return rows[:, : w * channels].reshape(h, w, channels)
    # depths 1/2/4: MSB-first bit fields, one channel by PNG rules
    bits = np.unpackbits(rows, axis=1)
    per = bits[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (per * weights).sum(axis=2).astype(np.uint8)
    return vals[:, :, None]


def _decode_png(payload: bytes) -> "np.ndarray":
    """PNG via stdlib zlib: grayscale (color 0, depths 1/2/4/8/16),
    truecolor (2, depths 8/16), palette (3, PLTE, depths 1/2/4/8),
    gray+alpha (4) and RGBA (6) at depths 8/16, all five row filters,
    non-interlaced AND Adam7 interlaced (each pass an independently-
    filtered sub-raster scattered back onto the pixel grid). Color
    reduces to BT.601 luma; alpha is dropped (decode, don't
    composite); 16-bit samples rescale to the 8-bit range by
    rint(v * 255/65535), so v = u*257 recovers u exactly. CRCs are
    not verified (decode, don't validate)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte = 8, None, bytearray(), None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # data + 4-byte CRC
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"invalid PNG color type {color}")
    if depth not in (1, 2, 4, 8, 16) or (
        depth not in (8, 16) and color not in (0, 3)
    ) or (depth == 16 and color == 3):
        raise ValueError(
            f"invalid PNG depth {depth} for color type {color}"
        )
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing a valid PLTE")
        palette = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    # the inflated size must match IHDR (ph rows of filter byte +
    # packed row per non-empty pass) before anything is allocated
    passes = []
    for x0, y0, dx, dy in _PNG_ADAM7 if interlace else [(0, 0, 1, 1)]:
        pw, ph = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            passes.append((x0, y0, dx, dy, pw, ph))
    need = sum(ph * (1 + -(-(pw * depth * channels) // 8))
               for *_, pw, ph in passes)
    _check_raster(w, h, "PNG")
    # inflate at most need + 1 bytes: a stream that inflates past the
    # IHDR size (a zlib bomb) stops there instead of exhausting memory
    inflater = zlib.decompressobj()
    raw = inflater.decompress(idat, need + 1)
    if len(raw) != need or inflater.unconsumed_tail:
        raise ValueError("PNG raster size mismatch")

    if interlace == 0:
        rows, _used = _png_unfilter(raw, 0, w, h, depth, channels)
        samples = _png_unpack(rows, w, depth, channels)
    else:  # Adam7
        samples = np.zeros(
            (h, w, channels), np.uint16 if depth == 16 else np.uint8
        )
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            rows, used = _png_unfilter(raw, off, pw, ph, depth, channels)
            off += used
            samples[y0::dy, x0::dx] = _png_unpack(rows, pw, depth, channels)

    if color == 3:
        rgb = palette[samples[:, :, 0]].astype(np.float64)
    elif color in (2, 6):
        rgb = samples[:, :, :3].astype(np.float64)
        if depth == 16:  # scale 16-bit samples to the 8-bit range
            rgb = np.rint(rgb * (255.0 / 65535.0))
    else:  # gray / gray+alpha
        g = samples[:, :, 0].astype(np.float64)
        if depth < 8:  # scale 1/2/4-bit gray to the 8-bit range
            g = g * (255.0 / ((1 << depth) - 1))
        elif depth == 16:  # 16-bit: v*257 round-trips v exactly
            g = g * (255.0 / 65535.0)
        return np.rint(g).astype(np.uint8)
    luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    return luma.astype(np.uint8)


# --- baseline JPEG (ITU T.81, public spec) --------------------------------

# zigzag scan order: index i of the scan -> (row, col) flattened offset
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K standard luminance tables (T.81 §K.3): (BITS counts, HUFFVAL)
_JPEG_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_STD_DC_VALS = list(range(12))
# 12-bit DC table (T.81 Annex K publishes 8-bit tables only): the
# Annex K shape extended canonically to the 16 difference categories
# extended-sequential DC differences need (|diff| <= 32767 -> SSSS 15)
_JPEG_EXT_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0]
_JPEG_EXT_DC_VALS = list(range(16))
_JPEG_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Annex K luminance quantization table, zigzag order (T.81 §K.1)
_JPEG_STD_QUANT = [
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
]

_DCT_MATRIX = None


def _dct_matrix() -> "np.ndarray":
    """Orthonormal 8x8 DCT-II matrix C: forward S = C @ s @ C.T,
    inverse s = C.T @ S @ C (exactly T.81's FDCT/IDCT definition)."""
    global _DCT_MATRIX
    if _DCT_MATRIX is None:
        import numpy as np

        u = np.arange(8).reshape(8, 1)
        y = np.arange(8).reshape(1, 8)
        c = 0.5 * np.cos((2 * y + 1) * u * np.pi / 16)
        c[0, :] *= 1 / np.sqrt(2)
        _DCT_MATRIX = c
    return _DCT_MATRIX


def _huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """1-pad to a byte boundary (before a restart marker)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def emit_marker(self, marker: int) -> None:
        """Append a bare marker (no stuffing applies to markers)."""
        self.align()
        self.out += bytes((0xFF, marker))

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; a marker inside entropy data raises, RSTn is consumed
    only through consume_restart."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1
                else:
                    # a bare marker mid-entropy-read means the encoder
                    # and decoder disagree about where a restart falls
                    raise ValueError(
                        "unexpected JPEG marker inside entropy segment"
                    )
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def receive(self, s: int) -> int:
        """Read an s-bit magnitude and sign-extend it (T.81 F.2.2.1
        EXTEND); 0 bits is the value 0."""
        v = self.read_bits(s)
        return v if not s or v >= 1 << (s - 1) else v - (1 << s) + 1

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        """Decode one Huffman symbol; table maps (length, code)."""
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def consume_restart(self) -> int:
        """Byte-align and consume an RSTn marker; returns n (0..7)."""
        self.nbits = 0  # drop the 1-padding bits before the marker
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected JPEG restart marker")
        n = self.data[self.pos + 1] & 0x07
        self.pos += 2
        return n


def _jpeg_category(v: int) -> int:
    """Magnitude category: number of bits to code |v| (0 for v == 0)."""
    return v.bit_length() if v >= 0 else (-v).bit_length()


_PROG_BANDS = ((1, 5), (6, 63))  # AC spectral bands per component

# Progressive AC scans need EOBn symbols (0x10..0xE0) that the Annex K
# baseline AC table does not define — progressive files always carry
# their own tables. This one is deliberately trivial: every symbol we
# may emit (the 162 baseline run/size symbols + EOB1..EOB14) as a flat
# 9-bit canonical code (176 codes < 510, all-ones code unused).
_PROG_AC_VALS = list(_JPEG_STD_AC_VALS) + [r << 4 for r in range(1, 15)]
_PROG_AC_BITS = [0] * 8 + [len(_PROG_AC_VALS)] + [0] * 7


def _encode_progressive(
    shape,
    ph,
    pw,
    shifted,
    chroma,
    quant,
    qmat,
    c,
    dc_codes,
    color_420,
    successive=False,
) -> bytes:
    """SOF2 progressive assembly for encode_jpeg: quantized zigzag
    coefficients are computed once per block, then emitted as one
    interleaved DC scan + _PROG_BANDS AC scans per component (Ns=1,
    EOB-run coding per T.81 G.1.2.2). With ``successive``, every
    scan is split into a point-transformed first pass (Al=1) and a
    refinement pass (Ah=1, Al=0): DC refinement is one raw bit per
    block; AC refinement runs the libjpeg correction-bit algorithm
    (newly-significant coefficients as run/size s=1 codes with a
    sign bit, already-significant ones as buffered correction bits
    flushed after the EOBn/ZRL symbol that covers their span)."""
    import struct

    import numpy as np

    h, w = shape
    ac_codes = _huffman_codes(_PROG_AC_BITS, _PROG_AC_VALS)

    def qzz(spatial):
        coef = np.rint((c @ spatial @ c.T) / qmat).astype(np.int64)
        return coef.reshape(64)[_JPEG_ZIGZAG]

    yby, ybx = ph // 8, pw // 8
    yzz = [
        [
            qzz(shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8])
            for bx in range(ybx)
        ]
        for by in range(yby)
    ]
    czz = qzz(chroma)  # neutral chroma: all-zero coefficients

    def write_dc(bw, dcval, prev):
        diff = dcval - prev
        cat = _jpeg_category(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        return dcval

    def flush_eobrun(bw, n):
        # EOBn symbols: run length in [2^r, 2^(r+1)-1], r extra bits
        while n > 0:
            r = min(14, n.bit_length() - 1)
            take = min(n, (1 << (r + 1)) - 1)
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(take - (1 << r), r)
            n -= take

    def write_band(bw, zz, bs, be, eob_pending):
        """Emit one block's [bs, be] band; returns the updated
        pending-EOB block count (flushed lazily so runs collapse)."""
        nzk = max(
            (k for k in range(bs, be + 1) if zz[k] != 0), default=None
        )
        if nzk is None:
            return eob_pending + 1
        if eob_pending:
            flush_eobrun(bw, eob_pending)
        run = 0
        for k in range(bs, nzk + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            cat = _jpeg_category(v)
            if (run << 4) | cat not in ac_codes:
                raise ValueError(
                    f"AC coefficient {v} exceeds the Annex K AC "
                    "table's SSSS range — use a coarser quant for "
                    "12-bit content"
                )
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(v if v > 0 else v + (1 << cat) - 1, cat)
            run = 0
        # trailing zeros: this block's terminator joins the next run
        return 1 if nzk < be else 0

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    AL = 1 if successive else 0
    nc = 3 if color_420 else 1

    def dc_values():
        """(component, DC coefficient) in interleaved MCU order."""
        if color_420:
            for my in range(ph // 16):
                for mx in range(pw // 16):
                    for v in range(2):
                        for u in range(2):
                            yield 0, int(yzz[my * 2 + v][mx * 2 + u][0])
                    yield 1, int(czz[0])
                    yield 2, int(czz[0])
        else:
            for by in range(yby):
                for bx in range(ybx):
                    yield 0, int(yzz[by][bx][0])

    def dc_hdr(ah_: int, al_: int) -> bytes:
        comps_part = (
            bytes([3, 1, 0x00, 2, 0x00, 3, 0x00])
            if color_420
            else bytes([1, 1, 0x00])
        )
        return comps_part + bytes([0, 0, (ah_ << 4) | al_])

    # --- DC first scan: diffs of the arithmetic-shifted values ------
    bw = _BitWriter()
    prev = [0, 0, 0]
    for comp, dc in dc_values():
        prev[comp] = write_dc(bw, dc >> AL, prev[comp])
    scans = seg(0xFFDA, dc_hdr(0, AL)) + bw.flush()

    # --- AC band scans: Ns=1 per component, SOF order ---------------
    comp_grids = [(-(-h // 8), -(-w // 8))]
    if color_420:
        cg = (-(-(-(-h // 2)) // 8), -(-(-(-w // 2)) // 8))
        comp_grids += [cg, cg]

    def block_zz(comp, by, bx):
        return yzz[by][bx] if comp == 0 else czz

    for comp, (gby, gbx) in enumerate(comp_grids):
        for bs, be in _PROG_BANDS:
            bw = _BitWriter()
            eob_pending = 0
            for by in range(gby):
                for bx in range(gbx):
                    zz = block_zz(comp, by, bx)
                    if AL:
                        # AC point transform: sign * (|v| >> Al)
                        zz = [
                            (1 if int(v) > 0 else -1)
                            * (abs(int(v)) >> AL)
                            for v in zz
                        ]
                    eob_pending = write_band(bw, zz, bs, be, eob_pending)
            if eob_pending:
                flush_eobrun(bw, eob_pending)
            ac_sos = bytes([1, comp + 1, 0x00, bs, be, AL])
            scans += seg(0xFFDA, ac_sos) + bw.flush()

    if successive:
        # --- DC refinement: one raw bit (bit Al-1=0) per block ------
        bw = _BitWriter()
        for _comp, dc in dc_values():
            bw.write(dc & 1, 1)
        scans += seg(0xFFDA, dc_hdr(1, 0)) + bw.flush()

        # --- AC refinement scans (libjpeg encode_mcu_AC_refine) -----
        for comp, (gby, gbx) in enumerate(comp_grids):
            for bs, be in _PROG_BANDS:
                bw = _BitWriter()
                state = {"eobrun": 0, "be_bits": []}

                def emit_eobrun():
                    n = state["eobrun"]
                    if n > 0:
                        rr = n.bit_length() - 1
                        code, ln = ac_codes[rr << 4]
                        bw.write(code, ln)
                        if rr:
                            bw.write(n - (1 << rr), rr)
                        state["eobrun"] = 0
                        for bbit in state["be_bits"]:
                            bw.write(bbit, 1)
                        state["be_bits"] = []

                for by in range(gby):
                    for bx in range(gbx):
                        zz = block_zz(comp, by, bx)
                        absv = [abs(int(v)) for v in zz]
                        eobpos = 0
                        for k in range(bs, be + 1):
                            if absv[k]:
                                eobpos = k
                        br_bits: list = []
                        r = 0
                        for k in range(bs, be + 1):
                            temp = absv[k]
                            if temp == 0:
                                r += 1
                                continue
                            # ZRLs (never past the block's last
                            # nonzero — the tail folds into the EOB);
                            # runs this at EVERY nonzero arrival so a
                            # buffered bit's position always falls
                            # inside the 16-zero span being emitted
                            while r > 15 and k <= eobpos:
                                emit_eobrun()
                                code, ln = ac_codes[0xF0]
                                bw.write(code, ln)
                                r -= 16
                                for bbit in br_bits:
                                    bw.write(bbit, 1)
                                br_bits = []
                            if temp > 1:
                                # already significant: correction bit
                                br_bits.append(temp & 1)
                                continue
                            # newly significant: run/size s=1 + sign
                            emit_eobrun()
                            code, ln = ac_codes[(r << 4) | 1]
                            bw.write(code, ln)
                            bw.write(1 if int(zz[k]) > 0 else 0, 1)
                            r = 0
                            for bbit in br_bits:
                                bw.write(bbit, 1)
                            br_bits = []
                        if r > 0 or br_bits:
                            state["eobrun"] += 1
                            state["be_bits"].extend(br_bits)
                            if state["eobrun"] == 0x7FFF:
                                emit_eobrun()
                emit_eobrun()
                ac_sos = bytes([1, comp + 1, 0x00, bs, be, 0x10])
                scans += seg(0xFFDA, ac_sos) + bw.flush()

    dqt = seg(0xFFDB, bytes([0]) + bytes(quant))
    if color_420:
        comp_sof = bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    else:
        comp_sof = bytes([1, 0x11, 0])
    sof = seg(0xFFC2, struct.pack(">BHHB", 8, h, w, nc) + comp_sof)
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS),
    ) + seg(
        0xFFC4,
        bytes([0x10]) + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS),
    )
    return b"\xff\xd8" + dqt + sof + dht + scans + b"\xff\xd9"


def encode_jpeg(
    img: "np.ndarray",
    quant: list[int] | None = None,
    restart_interval: int = 0,
    color_420: bool = False,
    scan_order: tuple[int, ...] = (0, 1, 2),
    interleaved: bool = True,
    progressive: bool = False,
    successive: bool = False,
    precision: int = 8,
    scan_groups: "tuple | None" = None,
) -> bytes:
    """Encode a (h, w) uint8 array as a baseline sequential JPEG
    (SOF0, Annex K standard Huffman tables).

    `quant` is a 64-entry quantization table in ZIGZAG order (defaults
    to the Annex K luminance table). A flat table of small values gives
    near-lossless output; images constant per 8x8 block with
    quant[0] == 8 round-trip bit-exactly (DC = 8 * level-shifted value,
    all AC zero — the property mm07's oracle relies on).

    `restart_interval` > 0 emits a DRI segment and an RST0..RST7
    marker after every that-many MCUs (DC predictor reset) — the
    resync points real-world encoders insert for error resilience.

    `color_420` emits a 3-component YCbCr file with Y at 2x2 and
    neutral (128) chroma at 1x1 — the ubiquitous 4:2:0 layout, as a
    grayscale-content color JPEG. Exercises the decoder's interleaved
    multi-block MCU path end-to-end.

    `scan_order` (color_420 only) permutes the components in the SOS
    header AND the per-MCU data-unit order to match (T.81 A.2.3: data
    units follow scan-header order) — a spec-valid file whose scan
    order differs from SOF order, exercising the decoder's Cs-selector
    binding.

    `interleaved=False` (color_420 only) writes ONE SCAN PER
    COMPONENT in `scan_order` order — the T.81 non-interleaved
    layout libjpeg emits: each scan is Ns=1 over the component's own
    ceil(comp_dim/8) block grid (Y pads to 8, not the 16-pixel frame
    MCU), with its own entropy segment and restart numbering reset
    at each scan start.

    `progressive=True` writes SOF2 spectral-selection progressive:
    one interleaved DC scan (Ss=Se=0) followed by TWO AC band scans
    per component (Ss..Se = 1..5 then 6..63, SOF order, Ns=1 over
    the component block grid) using EOB-run codes — runs of blocks
    whose band is entirely zero collapse into EOBn symbols, the
    coding progressive exists for. `successive=True` additionally
    splits every scan into a point-transformed first pass (Al=1)
    and a refinement pass (Ah=1, Al=0) — the full two-dimensional
    progression real libjpeg files use. Incompatible with
    restart_interval / interleaved=False / scan_order here.

    `scan_groups` (color_420 sequential only, r11): partition the
    components into scans, e.g. ((0, 1), (2,)) — groups of two or
    more components emit a PARTIALLY INTERLEAVED scan (1 < Ns < Nf,
    frame-MCU walk restricted to the group, T.81 A.2.3), singleton
    groups emit the component-grid non-interleaved form; entropy
    segment and RST numbering reset per scan as always.

    `precision=12` (r11) writes EXTENDED SEQUENTIAL (SOF1, T.81
    Table B.2): grayscale uint16 samples in 0..4095, level shift
    2048, a canonically-extended 16-category DC table (Annex K only
    publishes 8-bit tables), the Annex K AC table — so AC coefficient
    magnitudes must stay <= 1023 (guarded with a clear error; pick a
    coarser quant for high-contrast content). Grayscale sequential
    only."""
    import struct

    import numpy as np

    if sorted(scan_order) != [0, 1, 2]:
        raise ValueError("scan_order must be a permutation of (0, 1, 2)")

    quant = list(quant) if quant is not None else list(_JPEG_STD_QUANT)
    if precision not in (8, 12):
        raise ValueError(f"precision {precision} not in (8, 12)")
    if len(quant) != 64 or any(
        q != int(q) or not (1 <= q <= 255) for q in quant
    ):
        # the DQT segment below is emitted with Pq=0 (8-bit entries)
        # at either precision, so "use a coarser quant" tops out at
        # 255 — reject early (integral 1..255 only) instead of
        # crashing in bytes(quant)
        raise ValueError(
            "quant must be 64 integral entries in 1..255 (DQT is "
            "written Pq=0 / 8-bit here)"
        )
    quant = [int(q) for q in quant]
    if precision == 12 and (color_420 or progressive):
        raise ValueError(
            "12-bit encoding is grayscale sequential only here"
        )
    if precision == 12 and img.size and (
        int(img.min()) < 0 or int(img.max()) > 4095
    ):
        raise ValueError(
            "12-bit samples must fit 0..4095 (got "
            f"{int(img.min())}..{int(img.max())}); rescale before "
            "encoding"
        )
    if scan_groups is not None:
        flat = [c for g in scan_groups for c in g]
        if sorted(flat) != [0, 1, 2] or not color_420 or progressive:
            raise ValueError(
                "scan_groups must partition (0, 1, 2) on a color_420 "
                "sequential encode"
            )
    h, w = img.shape
    # pad to the MCU grid by edge replication (the conventional choice
    # — minimizes ringing; decoder trims back to (h, w))
    mcu = 16 if color_420 else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    padded = np.empty((ph, pw), np.uint8 if precision == 8 else np.uint16)
    padded[:h, :w] = img
    padded[h:, :w] = img[-1:, :]
    padded[:h, w:] = img[:, -1:]
    padded[h:, w:] = img[-1, -1]

    c = _dct_matrix()
    qmat = np.empty(64, np.float64)
    qmat[_JPEG_ZIGZAG] = quant  # zigzag-order table -> natural order
    qmat = qmat.reshape(8, 8)

    dc_bits, dc_vals = (
        (_JPEG_EXT_DC_BITS, _JPEG_EXT_DC_VALS)
        if precision == 12
        else (_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    )
    dc_codes = _huffman_codes(dc_bits, dc_vals)
    ac_codes = _huffman_codes(_JPEG_STD_AC_BITS, _JPEG_STD_AC_VALS)
    bw = _BitWriter()

    def enc_block(spatial: "np.ndarray", prev_dc: int) -> int:
        """DCT + quantize + entropy-code one level-shifted 8x8 block;
        returns the new DC predictor."""
        coef = np.rint((c @ spatial @ c.T) / qmat).astype(np.int64)
        zz = coef.reshape(64)[_JPEG_ZIGZAG]
        diff = int(zz[0]) - prev_dc
        cat = _jpeg_category(diff)
        if cat not in dc_codes:
            raise ValueError(
                f"DC difference {diff} exceeds the emitted DC "
                "table's SSSS range — use a coarser quant"
            )
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL: 16 zeros
                bw.write(code, ln)
                run -= 16
            cat = _jpeg_category(v)
            if (run << 4) | cat not in ac_codes:
                raise ValueError(
                    f"AC coefficient {v} exceeds the Annex K AC "
                    "table's SSSS range — use a coarser quant for "
                    "12-bit content"
                )
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(v if v > 0 else v + (1 << cat) - 1, cat)
            run = 0
        if run:
            code, ln = ac_codes[0x00]  # EOB
            bw.write(code, ln)
        return int(zz[0])

    shifted = padded.astype(np.float64) - float(1 << (precision - 1))
    chroma = np.zeros((8, 8), np.float64)  # neutral mid-level after shift

    if progressive:
        if restart_interval or not interleaved or scan_order != (0, 1, 2):
            raise ValueError(
                "progressive encoding does not combine with "
                "restart_interval / interleaved=False / scan_order"
            )
        return _encode_progressive(
            img.shape, ph, pw, shifted, chroma, quant, qmat, c,
            dc_codes, color_420, successive,
        )

    scan_payloads: list = []  # non-interleaved: (comp, entropy bytes)
    group_payloads: list = []  # scan_groups: (group tuple, entropy)
    if scan_groups is not None:
        for group in scan_groups:
            bw = _BitWriter()  # fresh entropy segment per scan
            if len(group) == 1:
                # singleton: the component-grid non-interleaved walk
                comp = group[0]
                prev_c = 0
                rst_n = 0
                blk_idx = 0
                if comp == 0:
                    by, bx = -(-h // 8), -(-w // 8)
                else:
                    by, bx = -(-(-(-h // 2)) // 8), -(-(-(-w // 2)) // 8)
                for my in range(by):
                    for mx in range(bx):
                        if (
                            restart_interval
                            and blk_idx
                            and blk_idx % restart_interval == 0
                        ):
                            bw.emit_marker(0xD0 + rst_n)
                            rst_n = (rst_n + 1) % 8
                            prev_c = 0
                        blk_idx += 1
                        if comp == 0:
                            y0, x0 = my * 8, mx * 8
                            prev_c = enc_block(
                                shifted[y0 : y0 + 8, x0 : x0 + 8], prev_c
                            )
                        else:
                            prev_c = enc_block(chroma, prev_c)
            else:
                # partially interleaved: frame-MCU walk, but only the
                # group's components contribute data units per MCU
                prev = [0, 0, 0]
                rst_n = 0
                mcu_idx = 0
                for my in range(ph // 16):
                    for mx in range(pw // 16):
                        if (
                            restart_interval
                            and mcu_idx
                            and mcu_idx % restart_interval == 0
                        ):
                            bw.emit_marker(0xD0 + rst_n)
                            rst_n = (rst_n + 1) % 8
                            prev = [0, 0, 0]
                        mcu_idx += 1
                        for comp in group:
                            if comp == 0:
                                for v in range(2):
                                    for u in range(2):
                                        y0 = my * 16 + v * 8
                                        x0 = mx * 16 + u * 8
                                        prev[0] = enc_block(
                                            shifted[
                                                y0 : y0 + 8, x0 : x0 + 8
                                            ],
                                            prev[0],
                                        )
                            else:
                                prev[comp] = enc_block(
                                    chroma, prev[comp]
                                )
            group_payloads.append((group, bw.flush()))
    elif color_420 and not interleaved:
        for comp in scan_order:
            bw = _BitWriter()  # fresh entropy segment per scan
            prev_c = 0
            rst_n = 0
            blk_idx = 0
            if comp == 0:
                by, bx = -(-h // 8), -(-w // 8)
            else:  # chroma plane is ceil(dim/2), then blocked by 8
                by, bx = -(-(-(-h // 2)) // 8), -(-(-(-w // 2)) // 8)
            for my in range(by):
                for mx in range(bx):
                    if (
                        restart_interval
                        and blk_idx
                        and blk_idx % restart_interval == 0
                    ):
                        bw.emit_marker(0xD0 + rst_n)
                        rst_n = (rst_n + 1) % 8
                        prev_c = 0
                    blk_idx += 1
                    if comp == 0:
                        y0, x0 = my * 8, mx * 8
                        prev_c = enc_block(
                            shifted[y0 : y0 + 8, x0 : x0 + 8], prev_c
                        )
                    else:
                        prev_c = enc_block(chroma, prev_c)
            scan_payloads.append((comp, bw.flush()))
    else:
        mcu_idx = 0
        rst_n = 0
        prev = [0, 0, 0]  # per-component DC predictors
        for my in range(ph // mcu):
            for mx in range(pw // mcu):
                if (
                    restart_interval
                    and mcu_idx
                    and mcu_idx % restart_interval == 0
                ):
                    bw.emit_marker(0xD0 + rst_n)
                    rst_n = (rst_n + 1) % 8
                    prev = [0, 0, 0]
                mcu_idx += 1
                if color_420:
                    for comp in scan_order:
                        if comp == 0:
                            for v in range(2):
                                for u in range(2):
                                    y0 = my * 16 + v * 8
                                    x0 = mx * 16 + u * 8
                                    prev[0] = enc_block(
                                        shifted[y0 : y0 + 8, x0 : x0 + 8],
                                        prev[0],
                                    )
                        else:
                            prev[comp] = enc_block(chroma, prev[comp])
                else:
                    y0, x0 = my * 8, mx * 8
                    prev[0] = enc_block(
                        shifted[y0 : y0 + 8, x0 : x0 + 8], prev[0]
                    )

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0]) + bytes(quant))
    if color_420:
        comp_sof = bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
        comp_sos = bytes([3]) + b"".join(
            bytes([comp + 1, 0x00]) for comp in scan_order
        )
        nc = 3
    else:
        comp_sof = bytes([1, 0x11, 0])
        comp_sos = bytes([1, 1, 0x00])
        nc = 1
    sof = seg(
        0xFFC1 if precision == 12 else 0xFFC0,
        struct.pack(">BHHB", precision, h, w, nc) + comp_sof,
    )
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals),
    ) + seg(
        0xFFC4,
        bytes([0x10]) + bytes(_JPEG_STD_AC_BITS) + bytes(_JPEG_STD_AC_VALS),
    )
    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    if scan_groups is not None:
        scans = b"".join(
            seg(
                0xFFDA,
                bytes([len(group)])
                + b"".join(bytes([comp + 1, 0x00]) for comp in group)
                + bytes([0, 63, 0]),
            )
            + data
            for group, data in group_payloads
        )
    elif color_420 and not interleaved:
        scans = b"".join(
            seg(0xFFDA, bytes([1, comp + 1, 0x00, 0, 63, 0])) + data
            for comp, data in scan_payloads
        )
    else:
        scans = seg(0xFFDA, comp_sos + bytes([0, 63, 0])) + bw.flush()
    return b"\xff\xd8" + dqt + sof + dht + dri + scans + b"\xff\xd9"


def _decode_scan(
    br, scan, htables, ss, se, ah, al, rows, cols, restart_interval
) -> None:
    """Decode ONE scan into the per-component coefficient grids
    (T.81 Annex G). A sequential scan is the Ss=0, Se=63, Ah=Al=0
    case: DC plus the full AC band in each block, its EOB an EOB run
    of 0. Progressive scans cover both dimensions:

    - Spectral selection: a DC scan (Ss=Se=0) or an AC band scan
      (Ns=1, band [Ss, Se], with EOB-run codes: RRRR|0 encodes a run
      of 2^RRRR + extra-bits blocks whose remaining band is all zero).
    - Successive approximation: first scans (Ah=0, Al>0) deliver
      point-transformed coefficients (stored << Al); refinement
      scans (Ah=Al+1) deliver one more magnitude bit each — DC: one
      raw bit per block ORed into bit Al; AC: the correction-bit
      algorithm (newly-significant coefficients arrive as ±1<<Al
      via run/size codes with s=1, already-nonzero coefficients
      consume one appended correction bit each, and EOB runs STILL
      carry correction bits for their nonzero history).

    ``scan`` lists (coefficient grid, hs, vs, DC table id, AC table
    id) per scan component in scan-header order. The scan walks
    rows x cols MCUs, each holding every component's hs x vs blocks
    (T.81 A.2). Restart intervals count those MCUs, reset the DC
    predictors and the EOB run, and their RST numbering restarts at 0
    each scan.
    """
    import itertools

    def data_units():
        """(restart, scan component, coefficient cell) in scan order;
        restart is True for the first unit after an RSTn."""
        expected_rst = 0
        for n, (my, mx) in enumerate(
            itertools.product(range(rows), range(cols))
        ):
            restart = bool(
                restart_interval and n and n % restart_interval == 0
            )
            if restart:
                got = br.consume_restart()
                if got != expected_rst:
                    raise ValueError(
                        f"JPEG restart marker out of sequence "
                        f"(got RST{got}, expected RST{expected_rst})"
                    )
                expected_rst = (expected_rst + 1) % 8
            for ci, (grid, hs, vs, _td, _ta) in enumerate(scan):
                for v in range(vs):
                    for u in range(hs):
                        yield restart, ci, grid[my * vs + v, mx * hs + u]
                        restart = False

    prev_dc = [0] * len(scan)
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)

    def refine_nonzero(cell, k: int) -> None:
        """One appended correction bit for a coefficient that was
        already nonzero before this scan: a 1-bit grows the magnitude
        by 1 << Al if that bit is not already set."""
        v = int(cell[k])
        if br.read_bit() and (abs(v) & p1) == 0:
            cell[k] = v + (p1 if v > 0 else m1)

    for restart, ci, cell in data_units():
        _grid, _hs, _vs, td, ta = scan[ci]
        if restart:
            prev_dc, eobrun = [0] * len(scan), 0
        if ss == 0:
            if ah:  # DC refinement: one raw bit, ORed into bit Al
                if br.read_bit():
                    cell[0] = int(cell[0]) | p1
            else:
                prev_dc[ci] += br.receive(br.read_symbol(htables[(0, td)]))
                cell[0] = prev_dc[ci] << al
        if se == 0:
            continue
        k = max(ss, 1)
        if ah == 0:
            # first pass over the band: run/size coding with EOB runs,
            # values stored point-transformed (<< Al)
            if eobrun:
                eobrun -= 1
                continue
            while k <= se:
                rs = br.read_symbol(htables[(1, ta)])
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:  # ZRL: 16 zeros within the band
                        k += 16
                        continue
                    eobrun = (1 << run) - 1  # this block + more
                    if run:
                        eobrun += br.read_bits(run)
                    break
                k += run
                if k > se:
                    raise ValueError("JPEG AC index overflows the scan band")
                cell[k] = br.receive(size) << al
                k += 1
            continue
        # refinement (G.1.2.3, the libjpeg AC-refine algorithm):
        # newly-significant coefficients arrive as run/size codes with
        # s=1 (sign bit follows); every already-nonzero coefficient
        # passed over — including inside ZRL runs and EOB runs —
        # consumes one correction bit
        if eobrun == 0:
            while k <= se:
                rs = br.read_symbol(htables[(1, ta)])
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run != 15:
                        # EOBn INCLUDES this block; its tail still
                        # refines below
                        eobrun = 1 << run
                        if run:
                            eobrun += br.read_bits(run)
                        break
                    newval = 0  # ZRL: skip 16 zero-history
                else:
                    if size != 1:
                        raise ValueError(
                            "AC refinement run/size must have s=1"
                        )
                    newval = p1 if br.read_bit() else m1
                # advance over `run` zero-history positions, refining
                # nonzero-history ones in passing
                while k <= se:
                    if int(cell[k]) != 0:
                        refine_nonzero(cell, k)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if newval and k <= se:
                    cell[k] = newval
                k += 1
        if eobrun > 0:
            # inside an EOB run: only correction bits for the remaining
            # nonzero history of this block's band
            while k <= se:
                if int(cell[k]) != 0:
                    refine_nonzero(cell, k)
                k += 1
            eobrun -= 1


def _decode_jpeg(payload: bytes) -> "np.ndarray":
    """JPEG decode: sequential (SOF0 baseline / SOF1 extended, 8- and
    12-bit) and progressive (SOF2, spectral selection and successive
    approximation). Grayscale or YCbCr with sampling factors 1..4.
    Scans may be fully interleaved, partially interleaved (1 < Ns <
    Nf) or single-component, in any order relative to the SOF; see
    _decode_scan for the data-unit order and restart handling. Every
    scan adds to its components' coefficient grids; each component's
    quant table is latched at its first scan, and one dequantize +
    IDCT of the Y grid runs at EOI. The Y plane is returned — JPEG's
    Y is already the BT.601 luma this pipeline standardizes on, so
    chroma is entropy-decoded to advance the stream and nothing more.
    Arithmetic coding and lossless/hierarchical modes raise
    NotImplementedError."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    progressive = False
    precision = 8  # sample precision: 8 (baseline) or 12 (extended)
    restart_interval = 0
    comps: list[tuple[int, int, int, int]] = []  # id, hs, vs, tq
    # per-component DCT coefficients (zigzag index per block) accumulate
    # across scans and are IDCT'd once at EOI
    comp_coefs: dict[int, "np.ndarray"] = {}  # idx -> (by, bx, 64)
    comp_q: dict[int, list[int]] = {}  # idx -> latched quant table
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        length = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq == 0:  # 8-bit entries
                    qtables[tq] = list(body[off + 1 : off + 65])
                    off += 65
                elif pq == 1:  # 16-bit entries (hi-precision tables)
                    qtables[tq] = [
                        struct.unpack_from(
                            ">H", body, off + 1 + 2 * i
                        )[0]
                        for i in range(64)
                    ]
                    off += 129
                else:
                    raise ValueError(f"invalid DQT precision {pq}")
        elif marker == 0xC4:  # DHT (possibly several tables)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                # (length, code) -> symbol, for the bit-serial decoder
                table: dict[tuple[int, int], int] = {}
                code, k = 0, 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        table[(ln, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htables[(tc, th)] = table
                off += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive — SOF1 is decode-identical to SOF0, it just
            # admits 12-bit samples (T.81 Table B.2)
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            _check_raster(w, h, "JPEG")
            if prec not in (8, 12):
                raise ValueError(f"invalid JPEG sample precision {prec}")
            precision = prec
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            if any(
                not (1 <= hs <= 4) or not (1 <= vs <= 4)
                for _, hs, vs, _ in comps
            ):
                # T.81 B.2.2: Hi/Vi legal range is exactly 1..4 —
                # factor 3 decodes like any other, above 4 the stream
                # is invalid, not unsupported
                raise ValueError(
                    "JPEG sampling factor outside T.81's 1..4 range"
                )
            sof = (h, w, nc)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} (lossless/arithmetic/"
                "differential) not supported — sequential (SOF0/SOF1, "
                "8- and 12-bit) and progressive (SOF2) only"
            )
        elif marker == 0xDD:  # DRI: restart every N MCUs
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cs, tables = body[1 + 2 * i], body[2 + 2 * i]
                scan_comps.append((cs, tables >> 4, tables & 0x0F))
            h, w, nc = sof
            # Bind each scan component to its SOF component by the Cs
            # selector (T.81 B.2.3) — scan order is NOT required to
            # match SOF order, so positional binding decodes a
            # spec-valid reordered scan silently wrong.
            cid_to_idx = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
            if len(cid_to_idx) != nc:
                raise ValueError("JPEG SOF has duplicate component ids")
            try:
                sof_idx = [cid_to_idx[cs] for cs, _, _ in scan_comps]
            except KeyError as e:
                raise ValueError(
                    f"JPEG scan selects unknown component id {e}"
                ) from None
            if len(set(sof_idx)) != ns:
                raise ValueError("JPEG scan lists a component twice")
            # scan parameters (T.81 B.2.3): spectral band [Ss, Se] and
            # successive-approximation bit positions Ah/Al — baseline
            # always (0, 63, 0, 0); progressive scans carve the band
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            # MCU geometry from the max sampling factors (T.81 A.2.4):
            # component ci contributes hs*vs blocks per MCU; the Y
            # plane (the output) has hs_y*8 x vs_y*8 pixels per MCU.
            hmax = max(hs for _, hs, _, _ in comps)
            vmax = max(vs for _, _, vs, _ in comps)
            mcu_x = -(-w // (8 * hmax))
            mcu_y = -(-h // (8 * vmax))
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError(
                    "baseline JPEG scan must cover the full band "
                    "(Ss=0, Se=63, Ah=Al=0)"
                )
            if ah and al != ah - 1:
                raise ValueError(
                    "successive-approximation refinement must have "
                    "Al = Ah - 1"
                )
            if progressive and ss == 0 and se != 0:
                raise ValueError(
                    "progressive DC scan must have Se=0 (T.81 G.1.1.1.1)"
                )
            if ss and ns != 1:
                raise ValueError(
                    "progressive AC scan must have Ns=1 (T.81 G.1.1.1.1)"
                )
            for idx in sof_idx:
                if idx not in comp_coefs:
                    # a component's first scan latches its quant table
                    # (libjpeg latch_quant_tables): a later DQT may
                    # redefine the slot for another component
                    comp_coefs[idx] = np.zeros(
                        (mcu_y * comps[idx][2], mcu_x * comps[idx][1], 64),
                        np.int32,
                    )
                    comp_q[idx] = qtables[comps[idx][3]]
            scan = [
                (comp_coefs[idx], comps[idx][1], comps[idx][2], td, ta)
                for idx, (_cs, td, ta) in zip(sof_idx, scan_comps)
            ]
            rows, cols = mcu_y, mcu_x
            if ns == 1:
                # one block per MCU over the component's own block
                # grid, ceil(ceil(dim * samp / max_samp) / 8) (T.81
                # A.2.2), not the frame's MCU grid
                grid, hs, vs, td, ta = scan[0]
                rows = -(-(-(-h * vs // vmax)) // 8)
                cols = -(-(-(-w * hs // hmax)) // 8)
                scan = [(grid, 1, 1, td, ta)]
            br = _BitReader(payload, pos)
            _decode_scan(
                br, scan, htables, ss, se, ah, al, rows, cols,
                restart_interval,
            )
            # resume marker parsing after this scan's entropy data
            pos = br.pos
        # APPn / COM / other: skipped via the length field
    if sof is None or 0 not in comp_coefs:
        raise ValueError("JPEG has no scan data")
    # one dequantize + IDCT over the Y grid: Y == BT.601 luma == the
    # FIRST SOF component, wherever the scans placed it
    h, w, _nc = sof
    coefs = comp_coefs[0]
    q = np.empty(64, np.float64)
    q[_JPEG_ZIGZAG] = comp_q[0]
    q = q.reshape(8, 8)
    by, bx, _ = coefs.shape
    nat = np.zeros((by, bx, 64), np.float64)
    nat[:, :, _JPEG_ZIGZAG] = coefs
    c = _dct_matrix()
    blocks = np.einsum(
        "ji,yxjk,kl->yxil", c, nat.reshape(by, bx, 8, 8) * q, c
    )
    level = 1 << (precision - 1)
    plane = (
        np.clip(np.rint(blocks) + level, 0, 2 * level - 1)
        .transpose(0, 2, 1, 3)
        .reshape(by * 8, bx * 8)
    )
    return _jpeg_to_uint8(plane[:h, :w], precision)


def _jpeg_to_uint8(plane: "np.ndarray", precision: int) -> "np.ndarray":
    """Collapse a decoded luma plane to the uint8 contract: identity
    at 8-bit; 12-bit samples rescale by rint(v * 255/4095), so a
    sample widened as v = rint(u * 4095/255) recovers u exactly
    (the widening error is < 0.5 of a 16-unit step) — the same
    lossless-round-trip convention as the 16-bit PNG path."""
    import numpy as np

    if precision == 8:
        return plane.astype(np.uint8)
    return np.rint(plane.astype(np.float64) * (255.0 / 4095.0)).astype(
        np.uint8
    )


def _fail_closed(fn, payload: bytes, what: str):
    """Parser-boundary error normalization (r11, fuzz-driven): a
    malformed payload must surface as ValueError — never a raw
    zlib.error / struct.error / IndexError escaping from codec
    internals, which reads as an engine crash instead of bad data
    when a 100 TB lake inevitably contains one truncated file. The
    original exception rides along as __cause__."""
    try:
        return fn(payload)
    except (ValueError, NotImplementedError):
        raise
    except MemoryError:
        # a decompression bomb exhausting memory is a resource
        # failure, not bad data — keep it distinguishable
        raise
    except Exception as e:
        raise ValueError(
            f"malformed {what} payload: {type(e).__name__}: {e}"
        ) from e


def decode_payload(
    payload: bytes, fmt: str, width: int, height: int
) -> "np.ndarray":
    """Decode a payload to a (height, width) uint8 grayscale array.

    Dispatches on `fmt`; this is the seam where heavier codecs (PIL,
    ffmpeg) plug in for compressed formats. Malformed payloads raise
    ValueError (see _fail_closed), unsupported formats
    NotImplementedError.
    """
    import numpy as np

    if fmt in ("pgm", "ppm"):
        return _fail_closed(_decode_netpbm, payload, "netpbm")
    if fmt == "bmp":
        return _fail_closed(_decode_bmp, payload, "bmp")
    if fmt == "png":
        return _fail_closed(_decode_png, payload, "png")
    if fmt in ("jpeg", "jpg"):
        return _fail_closed(_decode_jpeg, payload, "jpeg")
    if fmt == "gif":
        # still image: the FIRST composited frame's BT.601 luma,
        # color-resolved through the applicable table (a GIF in an
        # image column decodes like any other still format; only the
        # first image is composited — multi-frame pipelines use
        # decode_gif_frames/_rgb directly)
        def first_luma(b: bytes):
            first = next(_gif_composites(_parse_gif(b), rgb=True), None)
            if first is None:
                raise ValueError("GIF carries no image")
            rgb = first.astype(np.float64)
            luma = (
                0.299 * rgb[..., 0]
                + 0.587 * rgb[..., 1]
                + 0.114 * rgb[..., 2]
            )
            return np.floor(luma + 0.5).astype(np.uint8)

        return _fail_closed(first_luma, payload, "gif")
    if fmt != "fake":
        raise NotImplementedError(
            f"codec for format {fmt!r} not available in this environment; "
            "plug a real decoder (PIL/ffmpeg) into decode_payload"
        )
    _check_raster(width, height, "fake")
    n = width * height
    buf = np.frombuffer(payload, dtype=np.uint8)
    if len(buf) == 0:
        buf = np.zeros(1, dtype=np.uint8)
    reps = -(-n // len(buf))  # ceil division
    return np.tile(buf, reps)[:n].reshape(height, width)


def decode_audio(payload: bytes, fmt: str) -> "np.ndarray":
    """Decode an audio payload to MONO int16 samples (stdlib `wave`):
    8-bit unsigned PCM is re-centered and scaled up; 24-bit (the
    studio/broadcast width real audio lakes are full of — r11, seam
    closed) and 32-bit integer PCM scale DOWN by dropping low bits
    (arithmetic shift, so int16-valued content round-trips exactly);
    multi-channel audio downmixes by per-frame mean — the
    standardization every audio-feature pass (mm05/mm08) assumes."""
    import io
    import wave

    import numpy as np

    if fmt != "wav":
        raise NotImplementedError(f"audio codec for {fmt!r} not available")

    def parse(b: bytes):
        with wave.open(io.BytesIO(b), "rb") as wf:
            return (
                wf.getsampwidth(),
                wf.getnchannels(),
                wf.readframes(wf.getnframes()),
            )

    width, nch, frames = _fail_closed(parse, payload, "wav")
    if width == 2:
        samples = np.frombuffer(frames, dtype="<i2")
    elif width == 1:
        # 8-bit WAV is UNSIGNED; center then scale to the 16-bit range
        samples = (
            (np.frombuffer(frames, np.uint8).astype(np.int16) - 128) << 8
        )
    elif width == 3:
        # 24-bit signed little-endian: assemble 3 bytes, sign-extend,
        # arithmetic-shift to int16 range
        b = np.frombuffer(frames, np.uint8).reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v >= (1 << 23)) << 24
        samples = (v >> 8).astype(np.int16)
    elif width == 4:
        # 32-bit signed integer PCM
        samples = (
            np.frombuffer(frames, dtype="<i4") >> 16
        ).astype(np.int16)
    else:
        raise ValueError(f"invalid PCM sample width {width}")
    if nch > 1:
        samples = (
            samples.reshape(-1, nch)
            .mean(axis=1)
            .round()
            .astype(np.int16)
        )
    return samples


def encode_pgm(img: "np.ndarray") -> bytes:
    """Encode a (h, w) uint8 array as binary PGM (P5) — the sink half
    of the netpbm codec, and the test fixture generator."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes()


def encode_bmp(img: "np.ndarray") -> bytes:
    """Encode a (h, w) uint8 array as an 8-bit grayscale-palette BMP."""
    import struct

    h, w = img.shape
    row_bytes = (w + 3) & ~3
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    data_offset = 14 + 40 + len(palette)
    raster = b"".join(
        img[y].tobytes() + b"\0" * (row_bytes - w) for y in range(h - 1, -1, -1)
    )
    file_size = data_offset + len(raster)
    return (
        struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster), 0, 0, 256, 0)
        + palette
        + raster
    )


def encode_png(img: "np.ndarray", filter_type: int = 0) -> bytes:
    """Encode a (h, w) array as a grayscale baseline PNG: uint8 input
    -> 8-bit PNG, uint16 input -> 16-bit PNG (big-endian samples).

    `filter_type` selects the per-row filter (0..4) so tests can
    exercise every branch of the unfilter matrix, not just None.
    Filtering happens in the PACKED-BYTE domain at bpp distance
    (PNG 3.0 §9) — for 8-bit gray byte==sample (bpp=1); for 16-bit
    gray bpp=2, matching what _png_unfilter inverts."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape
    if img.dtype == np.uint16:
        depth, bpp = 16, 2
        rows8 = (
            np.ascontiguousarray(img.astype(">u2"))
            .view(np.uint8)
            .reshape(h, 2 * w)
        )
    else:
        depth, bpp = 8, 1
        rows8 = img
    stride = w * bpp

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    zpad = np.zeros(bpp, np.int32)
    raster = bytearray()
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        cur = rows8[y].astype(np.int32)
        a = np.concatenate((zpad, cur[:-bpp]))  # reconstructed left
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - a
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (a + prev) // 2
        elif filter_type == 4:
            c = np.concatenate((zpad, prev[:-bpp]))
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c))
            filt = cur - pred
        else:
            raise ValueError(f"bad PNG filter type {filter_type}")
        raster += bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes()
        prev = cur
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raster)))
        + chunk(b"IEND", b"")
    )


def encode_wav(
    samples: "np.ndarray", rate: int = 16000, sample_width: int = 2
) -> bytes:
    """Encode int16 samples as a mono PCM WAV. ``sample_width`` (r11):
    2 = 16-bit (default), 3 = 24-bit, 4 = 32-bit — wider widths carry
    the int16 values shifted into the high bits (v << 8 / v << 16),
    the exact inverse of decode_audio's down-shift, so the round-trip
    is lossless at every width."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    if sample_width == 2:
        frames = samples.astype("<i2").tobytes()
    elif sample_width == 3:
        v = samples.astype(np.int32) << 8
        v = np.where(v < 0, v + (1 << 24), v).astype(np.uint32)
        b = np.empty((len(v), 3), np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        frames = b.tobytes()
    elif sample_width == 4:
        frames = (samples.astype(np.int32) << 16).astype("<i4").tobytes()
    else:
        raise ValueError(f"sample_width {sample_width} not in (2, 3, 4)")
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(sample_width)
        wf.setframerate(rate)
        wf.writeframes(frames)
    return buf.getvalue()


def extract_image_features(media: DataFrame) -> DataFrame:
    """Decode each payload and emit per-media scalar features.

    mapInPandas iterator form: Arrow batches stream through one
    Python worker per partition; only (id, 3 scalars) come back — the
    payload never re-serializes to the JVM.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            feats = []
            for r in pdf.itertuples(index=False):
                img = decode_payload(r.payload, r.format, r.width, r.height)
                feats.append(
                    (
                        r.media_id,
                        len(r.payload),
                        float(img.mean()),
                        int(img.max()),
                    )
                )
            yield pd.DataFrame(
                feats,
                columns=["media_id", "n_bytes", "mean_intensity", "max_intensity"],
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of each decoded image, re-encoded as a
    raw byte payload with updated metadata (narrow map, same row
    count)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                img = decode_payload(r.payload, r.format, r.width, r.height)
                ys = (np.arange(out_h) * r.height // out_h).astype(int)
                xs = (np.arange(out_w) * r.width // out_w).astype(int)
                resized = img[np.ix_(ys, xs)]
                out.append(
                    (r.media_id, r.media_type, "fake", out_w, out_h,
                     r.n_frames, resized.tobytes())
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "media_type", "format", "width", "height",
                    "n_frames", "payload",
                ],
            )

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling for video rows: emit every n-th frame as its own
    (media_id, frame_idx, frame_payload) row.

    Two container paths, dispatched on the media table's typed
    `format` column (never a content sniff — a text payload that
    happens to contain 'ftyp' bytes must not be routed into the box
    parser):
    - format == 'mp4' (ISO BMFF, classic or fragmented): REAL
      byte-range reads — the track-0 sample ranges from the seek
      layer (stsz x stsc x stco/co64 or moof/trun,
      parse_mp4_sample_ranges) pick every n-th sample and slice
      exactly those bytes, never touching skipped samples. This is
      the plan shape that turns into ranged GETs against object
      storage at 100 TB: the moov footer is read once, then only the
      picked frames' byte ranges move.
    - everything else (fake codec): payload is n_frames equal slices.

    Output fan-out is bounded (n_frames/every_n per video); the frame
    payload is a slice, so bytes are copied once, still with no
    shuffle.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.media_type != "video":
                    continue
                if r.format == "mp4":
                    for s in parse_mp4_sample_ranges(r.payload):
                        if s["track_idx"] != 0:
                            continue  # fMP4 may interleave tracks
                        if s["sample_idx"] % every_n:
                            continue
                        o, n = s["offset"], s["size"]
                        rows.append(
                            (r.media_id, s["sample_idx"],
                             r.payload[o:o + n])
                        )
                    continue
                if r.n_frames <= 0:
                    continue
                frame_len = max(len(r.payload) // r.n_frames, 1)
                for i in range(0, r.n_frames, every_n):
                    start = i * frame_len
                    rows.append(
                        (r.media_id, i, r.payload[start:start + frame_len])
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_payload"]
            )

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF container metadata (ISO/IEC 14496-12 box structure)
# ---------------------------------------------------------------------------


def encode_mp4_container(
    duration: int,
    timescale: int = 1000,
    n_tracks: int = 1,
    mdat_size: int = 0,
    sample_sizes: "list[list[int]] | None" = None,
    samples_per_chunk: "int | None" = None,
    sample_data: "list[list[bytes]] | None" = None,
    use_co64: bool = False,
    fragment_samples: "int | None" = None,
    trex_default_sizes: bool = False,
    trun_data_offsets: bool = True,
) -> bytes:
    """Build a minimal ISO BMFF metadata skeleton: ftyp + moov(mvhd +
    n_tracks x trak(tkhd [+ mdia/minf/stbl])) + mdat. The media payload
    is opaque zero bytes — this is the CONTAINER layer (what a lake's
    metadata extraction pass reads); codec decode stays behind the
    documented NotImplementedError seam like mp4 frame decode.

    ``sample_sizes``: optional per-track lists; when given, each trak
    carries the spec-shaped sample-table chain mdia(mdhd +
    minf(stbl(stsz + stco))) (14496-12 8.7.3: stsz sample_size=0 +
    per-sample entries), which is what seeking/keyframe extraction
    reads without touching codec bytes.

    ``samples_per_chunk``: when also given, the sample table is a FULL
    seek layer: stsc (8.7.4 sample-to-chunk runs) + stco / co64
    (8.7.5 chunk offsets, 32- or 64-bit per ``use_co64``) carry REAL
    absolute file offsets, and mdat holds the actual sample bytes —
    ``sample_data`` (must match ``sample_sizes`` shape) or
    deterministic filler. Layout is sequential: all of track 0's
    chunks, then track 1's, each chunk holding ``samples_per_chunk``
    samples (last chunk may be short → a second stsc run). Offsets
    are computed after sizing moov (stco entry count is known before
    the offsets are), the standard muxer two-pass.

    ``fragment_samples``: fMP4 / DASH layout instead (14496-12 8.8):
    moov carries EMPTY sample tables + mvex(mehd + per-track trex),
    media arrives as moof(mfhd + traf(tfhd + trun)) + mdat pairs of
    ``fragment_samples`` samples each (track-major order), with
    per-sample sizes in the trun, default-base-is-moof addressing
    and an explicit trun data_offset. mvhd duration is 0 with the
    total in mehd, the streaming convention. Mutually exclusive with
    the stco chunk options. ``trex_default_sizes`` (r11): each
    track's (then necessarily constant) sample size is carried ONLY
    in its mvex/trex default — truns omit per-sample sizes and tfhd
    carries just the track id, the minimal-overhead DASH layout that
    exercises the 8.8.7.1 precedence chain's last link.
    ``trun_data_offsets=False`` (r11): tfhd carries an explicit
    base_data_offset pointing at the mdat body and truns omit their
    data_offset entirely — the 8.8.8.1 offset-less layout where each
    run's data follows the previous run's (first run at the base).
    """
    import struct

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + typ + payload

    if sample_data is not None:
        got_shape = [[len(b) for b in tk] for tk in sample_data]
        if sample_sizes is None or got_shape != sample_sizes:
            raise ValueError("sample_data must match sample_sizes shape")

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    # mvhd version 0 (14496-12 8.2.2): ver/flags, creation, modification,
    # timescale, duration, rate 1.0, volume 1.0, reserved, unity matrix,
    # pre_defined, next_track_ID
    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)

    def mk_mvhd(dur: int) -> bytes:
        return box(
            b"mvhd",
            struct.pack(">IIIII", 0, 0, 0, timescale, dur)
            + struct.pack(">ihhII", 0x10000, 0x0100, 0, 0, 0)
            + matrix
            + b"\x00" * 24
            + struct.pack(">I", n_tracks + 1),
        )

    mvhd = mk_mvhd(duration)

    def mk_tkhd(tid: int) -> bytes:
        return box(
            b"tkhd",
            struct.pack(">IIIIII", 0x0000_0007, 0, 0, tid, 0, duration)
            + b"\x00" * 8
            + struct.pack(">hhhh", 0, 0, 0, 0)
            + matrix
            + struct.pack(">II", 0, 0),
        )

    def mk_mdhd() -> bytes:
        return box(
            b"mdhd",
            struct.pack(">IIIII", 0, 0, 0, timescale, duration)
            + struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )

    if fragment_samples is not None:
        if sample_sizes is None or fragment_samples < 1:
            raise ValueError(
                "fragment_samples requires sample_sizes and >= 1"
            )
        if samples_per_chunk is not None or use_co64:
            raise ValueError(
                "fragmented layout excludes the stco/co64 chunk options"
            )
        traks = b""
        for tid in range(1, n_tracks + 1):
            empty_stbl = box(
                b"stbl",
                box(b"stsz", struct.pack(">III", 0, 0, 0))
                + box(b"stsc", struct.pack(">II", 0, 0))
                + box(b"stco", struct.pack(">II", 0, 0)),
            )
            traks += box(
                b"trak",
                mk_tkhd(tid)
                + box(b"mdia", mk_mdhd() + box(b"minf", empty_stbl)),
            )
        trex_defaults = [0] * n_tracks
        if trex_default_sizes:
            for tk in range(n_tracks):
                sizes = sample_sizes[tk] if tk < len(sample_sizes) else []
                if sizes and len(set(sizes)) != 1:
                    raise ValueError(
                        "trex_default_sizes needs a constant sample "
                        "size per track"
                    )
                trex_defaults[tk] = sizes[0] if sizes else 0
        mehd = box(b"mehd", struct.pack(">II", 0, duration))
        trexes = b"".join(
            box(
                b"trex",
                struct.pack(
                    ">IIIIII", 0, tid, 1, 0, trex_defaults[tid - 1], 0
                ),
            )
            for tid in range(1, n_tracks + 1)
        )
        moov = box(
            b"moov", mk_mvhd(0) + traks + box(b"mvex", mehd + trexes)
        )
        frags = b""
        header_len = len(ftyp) + len(moov)
        seq = 0
        for tk in range(n_tracks):
            sizes = (
                sample_sizes[tk] if tk < len(sample_sizes) else []
            )
            for f0 in range(0, len(sizes), fragment_samples):
                seq += 1
                fs = sizes[f0 : f0 + fragment_samples]
                mfhd = box(b"mfhd", struct.pack(">II", 0, seq))

                def mk_trun(data_offset: "int | None") -> bytes:
                    size_flag = 0 if trex_default_sizes else 0x200
                    if data_offset is None:
                        # offset-less (8.8.8.1): run data follows the
                        # base / the previous run (r11)
                        body = struct.pack(
                            ">II", size_flag, len(fs)
                        )
                    else:
                        body = struct.pack(
                            ">IIi", 0x1 | size_flag, len(fs), data_offset
                        )
                    if not trex_default_sizes:
                        body += b"".join(
                            struct.pack(">I", s) for s in fs
                        )
                    return box(b"trun", body)

                if trun_data_offsets:
                    # tfhd: default-base-is-moof, track_ID only;
                    # two-pass: trun's size is offset-independent, so
                    # size the moof with a placeholder then write the
                    # real moof-relative offset of the first sample
                    tfhd = box(
                        b"tfhd", struct.pack(">II", 0x0002_0000, tk + 1)
                    )
                    moof = box(
                        b"moof", mfhd + box(b"traf", tfhd + mk_trun(0))
                    )
                    moof = box(
                        b"moof",
                        mfhd
                        + box(b"traf", tfhd + mk_trun(len(moof) + 8)),
                    )
                else:
                    # explicit base_data_offset at the mdat body,
                    # offset-less trun; moof size is base-independent
                    # so one sizing pass suffices
                    def mk_tfhd(b0: int) -> bytes:
                        return box(
                            b"tfhd",
                            struct.pack(">II", 0x0000_0001, tk + 1)
                            + struct.pack(">Q", b0),
                        )

                    moof = box(
                        b"moof",
                        mfhd + box(b"traf", mk_tfhd(0) + mk_trun(None)),
                    )
                    base0 = header_len + len(frags) + len(moof) + 8
                    moof = box(
                        b"moof",
                        mfhd
                        + box(b"traf", mk_tfhd(base0) + mk_trun(None)),
                    )
                if sample_data is not None:
                    mdat_body = b"".join(
                        sample_data[tk][f0 : f0 + fragment_samples]
                    )
                else:
                    mdat_body = b"\x00" * sum(fs)
                frags += moof + box(b"mdat", mdat_body)
        return ftyp + moov + frags

    # chunk plan per track (chunked layout only): list of
    # (first_sample_idx, n_samples_in_chunk), spc-sized runs with a
    # possibly-short tail — known BEFORE offsets, so moov's size is
    # fixed on the first pass and offsets can be assigned on the second
    chunk_plans = None
    if sample_sizes is not None and samples_per_chunk is not None:
        if samples_per_chunk < 1:
            raise ValueError("samples_per_chunk must be >= 1")
        chunk_plans = [
            [
                (i, min(samples_per_chunk, len(sizes) - i))
                for i in range(0, len(sizes), samples_per_chunk)
            ]
            for sizes in sample_sizes
        ]

    def build_moov(chunk_offsets: "list[list[int]] | None") -> bytes:
        traks = b""
        for tid in range(1, n_tracks + 1):
            body = mk_tkhd(tid)
            if sample_sizes is not None and tid - 1 < len(sample_sizes):
                sizes = sample_sizes[tid - 1]
                mdhd = mk_mdhd()
                stsz = box(
                    b"stsz",
                    struct.pack(">III", 0, 0, len(sizes))
                    + b"".join(struct.pack(">I", s) for s in sizes),
                )
                if chunk_plans is None:
                    # legacy metadata-only skeleton: no chunk layout,
                    # stco declares zero entries
                    stbl_body = stsz + box(
                        b"stco", struct.pack(">II", 0, 0)
                    )
                else:
                    plan = chunk_plans[tid - 1]
                    # stsc: run-length compress consecutive chunks
                    # with equal sample counts (8.7.4)
                    runs: list = []
                    for ci, (_f, cnt) in enumerate(plan, start=1):
                        if not runs or runs[-1][1] != cnt:
                            runs.append((ci, cnt))
                    stsc = box(
                        b"stsc",
                        struct.pack(">II", 0, len(runs))
                        + b"".join(
                            struct.pack(">III", fc, cnt, 1)
                            for fc, cnt in runs
                        ),
                    )
                    offs = (
                        chunk_offsets[tid - 1]
                        if chunk_offsets is not None
                        else [0] * len(plan)
                    )
                    if use_co64:
                        co = box(
                            b"co64",
                            struct.pack(">II", 0, len(plan))
                            + b"".join(
                                struct.pack(">Q", o) for o in offs
                            ),
                        )
                    else:
                        co = box(
                            b"stco",
                            struct.pack(">II", 0, len(plan))
                            + b"".join(
                                struct.pack(">I", o) for o in offs
                            ),
                        )
                    stbl_body = stsz + stsc + co
                stbl = box(b"stbl", stbl_body)
                minf = box(b"minf", stbl)
                body += box(b"mdia", mdhd + minf)
            traks += box(b"trak", body)
        return box(b"moov", mvhd + traks)

    if chunk_plans is None:
        moov = build_moov(None)
        mdat = box(b"mdat", b"\x00" * mdat_size)
        return ftyp + moov + mdat

    # pass 1: size moov with placeholder offsets (entry COUNTS are
    # already final, so the byte length is); pass 2: assign absolute
    # file offsets — sequential layout, track-major then chunk order
    data_start = len(ftyp) + len(build_moov(None)) + 8
    cur = data_start
    chunk_offsets: list = []
    mdat_body = bytearray()
    for tk, plan in enumerate(chunk_plans):
        sizes = sample_sizes[tk]
        offs = []
        for first, cnt in plan:
            offs.append(cur)
            for si in range(first, first + cnt):
                if sample_data is not None:
                    mdat_body += sample_data[tk][si]
                else:
                    mdat_body += b"\x00" * sizes[si]
                cur += sizes[si]
        chunk_offsets.append(offs)
    moov = build_moov(chunk_offsets)
    mdat = box(b"mdat", bytes(mdat_body))
    return ftyp + moov + mdat


def parse_mp4_metadata(payload: bytes) -> dict:
    """Parse the ISO BMFF box tree and return the container metadata:
    {major_brand, timescale, duration, n_tracks, mdat_bytes}.

    Handles 32-bit and 64-bit (size==1 largesize) boxes, size==0
    (to-EOF), and mvhd versions 0 and 1. Fragmented movies (fMP4 /
    DASH: moov carries mvex, media arrives as moof+mdat pairs) are
    counted via ``n_fragments`` and, when the movie-level mvhd
    duration is 0 (the streaming convention), the total duration is
    taken from mvex/mehd when present.
    """
    import struct

    meta = {
        "major_brand": None,
        "timescale": None,
        "duration": None,
        "n_tracks": 0,
        "mdat_bytes": 0,
        "n_fragments": 0,
    }
    mehd_duration = [None]

    def walk(buf: bytes, start: int, end: int, depth: int = 0) -> None:
        off = start
        while off < end:
            if off + 8 > end:
                raise ValueError("truncated ISO BMFF box header")
            size, typ = struct.unpack_from(">I4s", buf, off)
            hdr = 8
            if size == 1:
                if off + 16 > end:
                    raise ValueError("truncated largesize box header")
                size = struct.unpack_from(">Q", buf, off + 8)[0]
                hdr = 16
            elif size == 0:  # box extends to end of enclosing container
                size = end - off
            if size < hdr or off + size > end:
                raise ValueError(
                    f"ISO BMFF box {typ!r} overruns its container"
                )
            body_off, body_end = off + hdr, off + size
            if typ == b"moof":
                meta["n_fragments"] += 1
            elif typ == b"mvex":
                walk(buf, body_off, body_end, depth + 1)
            elif typ == b"mehd":  # movie extends header: total duration
                ver = buf[body_off]
                if ver == 0:
                    mehd_duration[0] = struct.unpack_from(
                        ">I", buf, body_off + 4
                    )[0]
                else:
                    mehd_duration[0] = struct.unpack_from(
                        ">Q", buf, body_off + 4
                    )[0]
            if typ == b"ftyp":
                meta["major_brand"] = buf[body_off : body_off + 4].decode(
                    "latin-1"
                )
            elif typ == b"moov":
                walk(buf, body_off, body_end, depth + 1)
            elif typ == b"trak":
                meta["n_tracks"] += 1
            elif typ == b"mdat":
                meta["mdat_bytes"] += body_end - body_off
            elif typ == b"mvhd":
                ver = buf[body_off]
                if ver == 0:
                    ts, dur = struct.unpack_from(">II", buf, body_off + 12)
                elif ver == 1:
                    ts = struct.unpack_from(">I", buf, body_off + 20)[0]
                    dur = struct.unpack_from(">Q", buf, body_off + 24)[0]
                else:
                    raise ValueError(f"mvhd version {ver} invalid")
                meta["timescale"], meta["duration"] = ts, dur
            off += size

    walk(payload, 0, len(payload))
    if meta["major_brand"] is None or meta["timescale"] is None:
        raise ValueError("not an ISO BMFF movie (missing ftyp/mvhd)")
    if not meta["duration"] and mehd_duration[0] is not None:
        meta["duration"] = mehd_duration[0]
    return meta


def _mp4_children(buf: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each child box in
    buf[start:end] — _mp4_children_spans without the start offset."""
    for typ, b0, b1, _off in _mp4_children_spans(buf, start, end):
        yield typ, b0, b1


def _mp4_find(buf: bytes, start: int, end: int, typ: bytes):
    for t, b0, b1 in _mp4_children(buf, start, end):
        if t == typ:
            return b0, b1
    return None


def _mp4_children_spans(buf: bytes, start: int, end: int):
    """_mp4_children plus each box's own START offset (needed for
    default-base-is-moof addressing, which is relative to the first
    byte of the enclosing moof box)."""
    import struct

    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError("truncated ISO BMFF box header")
        size, typ = struct.unpack_from(">I4s", buf, off)
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError("truncated largesize box header")
            size = struct.unpack_from(">Q", buf, off + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError(f"ISO BMFF box {typ!r} overruns its container")
        yield typ, off + hdr, off + size, off
        off += size


def parse_mp4_sample_index(payload: bytes) -> list:
    """Walk the box tree down to each track's sample-size table
    (moov/trak/mdia/minf/stbl/stsz, 14496-12 8.7.3) and return one
    dict per track: {track_idx, n_samples, total_bytes, max_bytes,
    min_bytes}. Handles both stsz forms (constant sample_size != 0,
    and the per-sample entry table). Tracks without an stbl report
    n_samples 0. This is the seek/keyframe index a frame-sampling
    pass reads — no codec bytes are touched.
    """
    tracks: list = []
    children, find = _mp4_children, _mp4_find

    for typ, b0, b1 in children(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in children(payload, b0, b1):
            if t2 != b"trak":
                continue
            entry = {
                "track_idx": len(tracks),
                "n_samples": 0,
                "total_bytes": 0,
                "max_bytes": 0,
                "min_bytes": 0,
            }
            path = (c0, c1)
            for nested in (b"mdia", b"minf", b"stbl", b"stsz"):
                nxt = find(payload, path[0], path[1], nested)
                if nxt is None:
                    path = None
                    break
                path = nxt
            if path is not None:
                n, fixed, table = _read_stsz(payload, *path)
                if n:
                    entry.update(
                        n_samples=n,
                        total_bytes=fixed * n if fixed else sum(table),
                        max_bytes=fixed or max(table),
                        min_bytes=fixed or min(table),
                    )
            tracks.append(entry)
    return tracks


def _read_stsz(payload: bytes, s0: int, s1: int) -> "tuple[int, int, list]":
    """Decode an stsz body (14496-12 8.7.3) into (sample_count,
    constant sample_size or 0, per-sample size table). The constant
    form has an empty table: its count is an untrusted 32-bit field
    that no box bounds. The table form is bounds-checked against the
    box end."""
    import struct

    if s0 + 12 > s1:
        raise ValueError("stsz box too short for its header")
    _vf, fixed, n = struct.unpack_from(">III", payload, s0)
    if fixed:
        return n, fixed, []
    if s0 + 12 + 4 * n > s1:
        raise ValueError("stsz sample_count overruns the stsz box")
    return n, 0, [
        struct.unpack_from(">I", payload, s0 + 12 + 4 * i)[0]
        for i in range(n)
    ]


def parse_mp4_sample_ranges(payload: bytes) -> list:
    """The FULL seek layer: join each track's three sample tables —
    stsz (sizes, 8.7.3), stsc (sample-to-chunk runs, 8.7.4) and
    stco/co64 (chunk offsets, 8.7.5) — into absolute per-sample byte
    ranges, the spec's sample-lookup algorithm. Returns one dict per
    sample: {track_idx, sample_idx, chunk_idx, offset, size};
    ``payload[offset:offset+size]`` IS the sample's bytes, so a
    frame-sampling pass can range-read exactly the samples it wants
    without decoding anything.

    Mechanics: stsc entries are (first_chunk, samples_per_chunk,
    sdi) runs — each run applies from its first_chunk (1-based)
    until the next run's; samples are assigned to chunks in order,
    the final chunk taking whatever remains. Within a chunk, a
    sample's offset is the chunk offset plus the sizes of the
    samples before it in that chunk.

    Tracks without a complete (stsz, stsc, stco|co64) chain — e.g.
    the metadata-only skeletons whose stco declares zero entries —
    contribute no rows: there is nothing to seek to. Inconsistent
    tables (more samples than the chunk list can hold, offsets past
    the file end) raise ValueError like the rest of the box layer.

    Fragmented movies (fMP4/DASH, 14496-12 8.8) are the OTHER seek
    layer and are handled too: moov's tables are empty and each
    moof(traf(tfhd + trun)) fragment carries its own sample sizes and
    a data offset — default-base-is-moof or an explicit
    base_data_offset, plus the trun's (mandatory here) data_offset.
    chunk_idx then numbers the track's fragments, and sample_idx
    keeps counting across them. Sample-size precedence follows
    14496-12 8.8.7.1: per-sample trun sizes, else the tfhd default,
    else the mvex/trex default (r11 — the DASH layout whose tfhd
    carries only the track id). Offset-less truns (8.8.8.1) resolve
    too (r11): a run without a data_offset starts where the previous
    run's data ended, the first at the traf's base — no fragment
    seams remain.
    """
    import struct

    out: list = []
    track_idx = -1
    tid_to_idx: dict = {}  # tkhd track_ID -> positional track index
    trex_size: dict = {}  # track_ID -> trex default_sample_size (r11)
    for typ, b0, b1 in _mp4_children(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in _mp4_children(payload, b0, b1):
            if t2 == b"mvex":
                # movie-extends: per-track trex carries the fragment
                # DEFAULTS a tfhd may rely on (14496-12 8.8.3) —
                # the r11 seam closure for DASH streams whose sample
                # size lives neither in trun nor tfhd
                for t3, d0, d1 in _mp4_children(payload, c0, c1):
                    if t3 != b"trex" or d0 + 24 > d1:
                        continue
                    _vf, tid, _desc, _dur, dsize, _fl = (
                        struct.unpack_from(">IIIIII", payload, d0)
                    )
                    trex_size[tid] = dsize
                continue
            if t2 != b"trak":
                continue
            track_idx += 1
            tkhd = _mp4_find(payload, c0, c1, b"tkhd")
            if tkhd is not None:
                t0, _t1 = tkhd
                ver = payload[t0]
                tid_off = t0 + (20 if ver == 1 else 12)
                tid_to_idx[
                    struct.unpack_from(">I", payload, tid_off)[0]
                ] = track_idx
            path = (c0, c1)
            for nested in (b"mdia", b"minf", b"stbl"):
                nxt = _mp4_find(payload, path[0], path[1], nested)
                if nxt is None:
                    path = None
                    break
                path = nxt
            if path is None:
                continue
            stbl0, stbl1 = path
            stsz = _mp4_find(payload, stbl0, stbl1, b"stsz")
            stsc = _mp4_find(payload, stbl0, stbl1, b"stsc")
            co = _mp4_find(payload, stbl0, stbl1, b"stco")
            wide = False
            if co is None:
                co = _mp4_find(payload, stbl0, stbl1, b"co64")
                wide = co is not None
            if stsz is None or stsc is None or co is None:
                continue
            n_samples, fixed, table = _read_stsz(payload, *stsz)

            sc0, sc1 = stsc
            if sc0 + 8 > sc1:
                raise ValueError("stsc box too short for its header")
            n_runs = struct.unpack_from(">II", payload, sc0)[1]
            if sc0 + 8 + 12 * n_runs > sc1:
                raise ValueError("stsc entry_count overruns the stsc box")
            runs = [
                struct.unpack_from(">III", payload, sc0 + 8 + 12 * i)[:2]
                for i in range(n_runs)
            ]

            o0, o1 = co
            width = 8 if wide else 4
            if o0 + 8 > o1:
                raise ValueError("chunk-offset box too short")
            n_chunks = struct.unpack_from(">II", payload, o0)[1]
            if o0 + 8 + width * n_chunks > o1:
                raise ValueError(
                    "chunk offset entry_count overruns its box"
                )
            fmt = ">Q" if wide else ">I"
            offsets = [
                struct.unpack_from(fmt, payload, o0 + 8 + width * i)[0]
                for i in range(n_chunks)
            ]

            if not n_samples:
                continue
            if fixed * n_samples > len(payload):
                # samples are disjoint byte ranges of the file, which
                # bounds a constant-size count no box does
                raise ValueError("sample byte range overruns the file")
            if not runs or not offsets:
                raise ValueError(
                    "track has samples but no usable chunk layout"
                )
            if runs[0][0] != 1:
                raise ValueError("stsc first run must start at chunk 1")
            # spc for chunk ci (1-based): the last run whose
            # first_chunk <= ci
            si = 0
            for ci in range(1, n_chunks + 1):
                spc = next(
                    cnt
                    for fc, cnt in reversed(runs)
                    if fc <= ci
                )
                take = min(spc, n_samples - si)
                within = 0
                for k in range(take):
                    off = offsets[ci - 1] + within
                    size = fixed or table[si]
                    if off + size > len(payload):
                        raise ValueError(
                            "sample byte range overruns the file"
                        )
                    out.append(
                        {
                            "track_idx": track_idx,
                            "sample_idx": si,
                            "chunk_idx": ci - 1,
                            "offset": off,
                            "size": size,
                        }
                    )
                    within += size
                    si += 1
                if si >= n_samples:
                    break
            if si < n_samples:
                raise ValueError(
                    "stsc/stco chunk layout holds fewer samples than stsz"
                )

    # --- fragmented movies: moof(traf(tfhd + trun)) ------------------
    next_sample: dict = {}  # track_idx -> running sample ordinal
    frag_count: dict = {}  # track_idx -> fragments seen so far
    for typ, b0, b1, moof_start in _mp4_children_spans(
        payload, 0, len(payload)
    ):
        if typ != b"moof":
            continue
        prev_traf_end = None  # implicit-base chain resets per moof
        for t2, c0, c1 in _mp4_children(payload, b0, b1):
            if t2 != b"traf":
                continue
            tfhd = _mp4_find(payload, c0, c1, b"tfhd")
            if tfhd is None:
                raise ValueError("traf without tfhd")
            t0, t1 = tfhd
            if t0 + 8 > t1:
                raise ValueError("tfhd box too short for its header")
            tf_flags = struct.unpack_from(">I", payload, t0)[0] & 0xFFFFFF
            trk_id = struct.unpack_from(">I", payload, t0 + 4)[0]
            # base_data_offset, sample_description_index, default
            # duration and default size, each present by its flag bit
            opt = ((0x1, 8), (0x2, 4), (0x8, 4), (0x10, 4))
            if t0 + 8 + sum(n for bit, n in opt if tf_flags & bit) > t1:
                raise ValueError("tfhd optional fields overrun the tfhd box")
            off = t0 + 8
            base_data_offset = None
            if tf_flags & 0x1:
                base_data_offset = struct.unpack_from(">Q", payload, off)[0]
                off += 8
            if tf_flags & 0x2:
                off += 4  # sample_description_index
            if tf_flags & 0x8:
                off += 4  # default_sample_duration
            default_size = None
            if tf_flags & 0x10:
                default_size = struct.unpack_from(">I", payload, off)[0]
                off += 4
            elif trex_size.get(trk_id):
                # tfhd carries no default: the trex default applies
                # (14496-12 8.8.7.1 precedence — r11 seam closure)
                default_size = trex_size[trk_id]
            if base_data_offset is not None:
                base = base_data_offset
            elif tf_flags & 0x020000:  # default-base-is-moof
                base = moof_start
            elif prev_traf_end is not None:
                # neither flag (r11, 14496-12 8.8.7.1): the implicit
                # base is where the PREVIOUS traf's data ended...
                base = prev_traf_end
            else:
                # ...and the moof's first traf starts from the moof
                base = moof_start
            idx = tid_to_idx.get(trk_id)
            if idx is None:
                raise ValueError(
                    f"traf references unknown track_ID {trk_id}"
                )
            fi = frag_count.get(idx, 0)
            frag_count[idx] = fi + 1
            next_data = None  # running cursor for offset-less truns
            for t3, d0, d1 in _mp4_children(payload, c0, c1):
                if t3 != b"trun":
                    continue
                if d0 + 8 > d1:
                    raise ValueError("trun box too short for its header")
                tr_flags = (
                    struct.unpack_from(">I", payload, d0)[0] & 0xFFFFFF
                )
                count = struct.unpack_from(">I", payload, d0 + 4)[0]
                # every optional header field and per-sample field is
                # 4 bytes: the count is bounded by the trun box, and
                # (samples being byte ranges of the file) by the file
                head = 4 * bin(tr_flags & 0x5).count("1")
                per_sample = 4 * bin(tr_flags & 0xF00).count("1")
                if d0 + 8 + head + per_sample * count > d1:
                    raise ValueError("trun sample_count overruns the trun box")
                size = None if tr_flags & 0x200 else default_size
                if count * max(size or 0, 1) > len(payload):
                    raise ValueError(
                        "fragment sample byte range overruns the file"
                    )
                off = d0 + 8
                if tr_flags & 0x1:
                    data_offset = struct.unpack_from(">i", payload, off)[0]
                    off += 4
                    cur = base + data_offset
                elif next_data is not None:
                    # 14496-12 8.8.8.1 (r11 seam closed): without a
                    # data_offset, this run's data follows the
                    # previous run's data immediately...
                    cur = next_data
                else:
                    # ...and a FIRST offset-less run starts at the
                    # traf's base (base_data_offset or moof start)
                    cur = base
                if tr_flags & 0x4:
                    off += 4  # first_sample_flags
                for _ in range(count):
                    if tr_flags & 0x100:
                        off += 4  # sample_duration
                    if tr_flags & 0x200:
                        size = struct.unpack_from(">I", payload, off)[0]
                        off += 4
                    if tr_flags & 0x400:
                        off += 4  # sample_flags
                    if tr_flags & 0x800:
                        off += 4  # composition time offset
                    if size is None:
                        raise ValueError(
                            "sample size in none of trun, tfhd "
                            "defaults, or mvex/trex defaults"
                        )
                    if cur + size > len(payload):
                        raise ValueError(
                            "fragment sample byte range overruns the file"
                        )
                    si = next_sample.get(idx, 0)
                    next_sample[idx] = si + 1
                    out.append(
                        {
                            "track_idx": idx,
                            "sample_idx": si,
                            "chunk_idx": fi,
                            "offset": cur,
                            "size": size,
                        }
                    )
                    cur += size
                next_data = cur  # where an offset-less next run begins
                prev_traf_end = (
                    cur
                    if prev_traf_end is None
                    else max(prev_traf_end, cur)
                )
    return out


# ---------------------------------------------------------------------------
# EXIF (JPEG APP1 / TIFF 6.0 IFD structure)
# ---------------------------------------------------------------------------

_EXIF_TAGS = {
    0x010F: "make",
    0x0110: "model",
    0x0112: "orientation",
    0x011A: "x_resolution",
    0x0132: "datetime",
    0xA002: "pixel_x",
    0xA003: "pixel_y",
}
_EXIF_IFD_POINTER = 0x8769


def encode_exif_app1(
    fields: dict,
    big_endian: bool = False,
) -> bytes:
    """Build a JPEG APP1 segment carrying an Exif TIFF block (TIFF
    6.0 IFD grammar): IFD0 with Make/Model (ASCII), Orientation
    (SHORT), XResolution (RATIONAL), DateTime (ASCII) and an Exif
    sub-IFD holding PixelXDimension/PixelYDimension (LONG). Values
    wider than 4 bytes go to the out-of-line data area per the spec.
    ``fields`` keys: make, model, orientation, x_resolution (an
    (num, den) tuple), datetime, pixel_x, pixel_y — all optional.
    """
    import struct

    bo = ">" if big_endian else "<"

    def ascii_val(s: str) -> bytes:
        return s.encode("ascii") + b"\x00"

    # entries: (tag, type, count, packed_value_or_data, inline)
    def build_ifd(entries, base_offset, next_ifd=0):
        """entries: list of (tag, type, count, data_bytes). Returns
        the serialized IFD; out-of-line data follows immediately."""
        n = len(entries)
        header = struct.pack(bo + "H", n)
        body = b""
        tail = b""
        data_off = base_offset + 2 + 12 * n + 4
        for tag, typ, cnt, data in sorted(entries):
            if len(data) <= 4:
                val = data + b"\x00" * (4 - len(data))
            else:
                val = struct.pack(bo + "I", data_off + len(tail))
                tail += data + (b"\x00" if len(data) % 2 else b"")
            body += struct.pack(bo + "HHI", tag, typ, cnt) + val
        return header + body + struct.pack(bo + "I", next_ifd) + tail

    sub_entries = []
    if "pixel_x" in fields:
        sub_entries.append(
            (0xA002, 4, 1, struct.pack(bo + "I", fields["pixel_x"]))
        )
    if "pixel_y" in fields:
        sub_entries.append(
            (0xA003, 4, 1, struct.pack(bo + "I", fields["pixel_y"]))
        )

    ifd0_entries = []
    if "make" in fields:
        v = ascii_val(fields["make"])
        ifd0_entries.append((0x010F, 2, len(v), v))
    if "model" in fields:
        v = ascii_val(fields["model"])
        ifd0_entries.append((0x0110, 2, len(v), v))
    if "orientation" in fields:
        ifd0_entries.append(
            (0x0112, 3, 1, struct.pack(bo + "H", fields["orientation"]))
        )
    if "x_resolution" in fields:
        num, den = fields["x_resolution"]
        ifd0_entries.append(
            (0x011A, 5, 1, struct.pack(bo + "II", num, den))
        )
    if "datetime" in fields:
        v = ascii_val(fields["datetime"])
        ifd0_entries.append((0x0132, 2, len(v), v))

    # two-pass: IFD0's size depends only on entry COUNT, so the Exif
    # sub-IFD pointer (placed after IFD0 + its data) is computable
    tiff_header = struct.pack(bo + "2sHI", b"MM" if big_endian else b"II", 42, 8)
    if sub_entries:
        probe = build_ifd(
            ifd0_entries
            + [(_EXIF_IFD_POINTER, 4, 1, struct.pack(bo + "I", 0))],
            8,
        )
        sub_off = 8 + len(probe)
        ifd0 = build_ifd(
            ifd0_entries
            + [
                (
                    _EXIF_IFD_POINTER,
                    4,
                    1,
                    struct.pack(bo + "I", sub_off),
                )
            ],
            8,
        )
        tiff = tiff_header + ifd0 + build_ifd(sub_entries, sub_off)
    else:
        tiff = tiff_header + build_ifd(ifd0_entries, 8)
    body = b"Exif\x00\x00" + tiff
    import struct as _s

    return b"\xff\xe1" + _s.pack(">H", len(body) + 2) + body


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment directly after SOI — where Exif lives
    in every camera JPEG."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    return jpeg[:2] + app1 + jpeg[2:]


def parse_exif(payload: bytes) -> dict:
    """Extract Exif metadata from a JPEG's APP1 segment (TIFF 6.0 IFD
    walk, both byte orders, inline and out-of-line values, the Exif
    sub-IFD chain): returns {make, model, orientation, x_resolution
    (float), datetime, pixel_x, pixel_y} for whichever tags exist,
    plus byte_order ('II'|'MM'). Returns {} when no Exif APP1 is
    present (not every JPEG has one); malformed TIFF structures
    raise ValueError like the rest of the codec layer.
    """
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    tiff = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            break
        marker = payload[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xDA:
            break  # entropy data: no more headers
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            tiff = body[6:]
            break
        pos += 2 + seg_len
    if tiff is None:
        return {}

    if len(tiff) < 8:
        raise ValueError("Exif TIFF header truncated")
    order = tiff[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError(f"invalid TIFF byte order {order!r}")
    magic, ifd0_off = struct.unpack_from(bo + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("invalid TIFF magic")

    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
    out = {"byte_order": order.decode("ascii")}

    def read_value(typ, cnt, raw_off):
        if typ in (3, 4, 5) and cnt == 0:
            raise ValueError(f"Exif numeric tag of type {typ} has count 0")
        size = type_size.get(typ, 1) * cnt
        if size <= 4:
            data = tiff[raw_off : raw_off + size]
        else:
            ptr = struct.unpack_from(bo + "I", tiff, raw_off)[0]
            if ptr + size > len(tiff):
                raise ValueError("Exif value overruns the TIFF block")
            data = tiff[ptr : ptr + size]
        if typ == 2:  # ASCII, NUL-terminated
            return data.split(b"\x00", 1)[0].decode("ascii", "replace")
        if typ == 3:
            return struct.unpack(bo + "H", data[:2])[0]
        if typ == 4:
            return struct.unpack(bo + "I", data[:4])[0]
        if typ == 5:
            num, den = struct.unpack(bo + "II", data[:8])
            return num / den if den else float("nan")
        return data

    # IFDs are walked from an explicit stack and each offset at most
    # once, so a pointer cycle or a long pointer chain fails closed
    seen, todo = set(), [ifd0_off]
    while todo:
        off = todo.pop()
        if off in seen:
            raise ValueError(f"Exif IFD at offset {off} is visited twice")
        seen.add(off)
        if off + 2 > len(tiff):
            raise ValueError("Exif IFD offset overruns the TIFF block")
        n = struct.unpack_from(bo + "H", tiff, off)[0]
        if off + 2 + 12 * n + 4 > len(tiff):
            raise ValueError("Exif IFD entries overrun the TIFF block")
        for i in range(n):
            e = off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(bo + "HHI", tiff, e)
            if tag == _EXIF_IFD_POINTER:
                todo.append(struct.unpack_from(bo + "I", tiff, e + 8)[0])
            elif tag in _EXIF_TAGS:
                out[_EXIF_TAGS[tag]] = read_value(typ, cnt, e + 8)
    return out


# --- GIF89a (CompuServe spec, public) -------------------------------------
# The reference's gganimate output (Field Control.R:198-219) is an
# animated raster; this encoder lets the engine EMIT that artifact
# itself — pure stdlib, so the viz sink works in environments without
# matplotlib/PIL. Frames are palette indices against one global
# 256-color table; LZW is the spec's variable-width variant.


def _gif_lzw_encode(indices: "np.ndarray", min_code_size: int = 8) -> bytes:
    """GIF variable-width LZW over a flat uint8 index stream.

    Code widths are DECODER-CLOCKED: the decoder inserts its table
    entry one code later than the encoder does, so the width bump
    after next_code reaches 2^size must be timed by simulating the
    decoder's counter (`dec_next`), not the encoder's — the classic
    interoperability off-by-one ("early change") lives exactly here.
    The encoder emits CLEAR and resets when its own table fills.
    """
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    bitbuf = bitcnt = 0

    def emit(code: int, size: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf |= code << bitcnt
        bitcnt += size
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    code_size = min_code_size + 1
    table: dict = {(i,): i for i in range(clear)}
    enc_next = eoi + 1
    dec_next = eoi + 1
    first_since_clear = True
    emit(clear, code_size)

    def after_data_emit() -> None:
        # advance the simulated decoder: it adds an entry on every
        # data code except the first after a clear, and widens when
        # its next_code reaches the current ceiling
        nonlocal dec_next, code_size, first_since_clear
        if first_since_clear:
            first_since_clear = False
            return
        dec_next += 1
        if dec_next == (1 << code_size) and code_size < 12:
            code_size += 1

    seq = indices.tolist()
    if not seq:
        emit(eoi, code_size)
    else:
        cur = (seq[0],)
        for k in seq[1:]:
            nxt = cur + (k,)
            if nxt in table:
                cur = nxt
                continue
            emit(table[cur], code_size)
            after_data_emit()
            if enc_next < 4096:
                table[nxt] = enc_next
                enc_next += 1
            else:
                emit(clear, code_size)
                table = {(i,): i for i in range(clear)}
                enc_next = eoi + 1
                dec_next = eoi + 1
                code_size = min_code_size + 1
                first_since_clear = True
            cur = (k,)
        emit(table[cur], code_size)
        after_data_emit()
        emit(eoi, code_size)
    if bitcnt:
        out.append(bitbuf & 0xFF)
    # wrap in 255-byte sub-blocks + terminator
    blocks = bytearray()
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return bytes(blocks)


def encode_gif(
    frames: "list[np.ndarray]",
    palette: "np.ndarray | None" = None,
    delay_cs: int = 10,
    loop: bool = True,
    local_palettes: "list | None" = None,
    include_global: bool = True,
    interlace: bool = False,
    offsets: "list | None" = None,
    screen: "tuple[int, int] | None" = None,
    disposals: "list | None" = None,
    transparent_idx: "int | None" = None,
) -> bytes:
    """Encode (h, w) uint8 index frames as an animated GIF89a.

    ``palette``: (256, 3) uint8 RGB global color table (grayscale
    identity when None). ``delay_cs`` is per-frame delay in 1/100 s;
    ``loop`` adds the NETSCAPE2.0 infinite-loop extension.
    ``local_palettes`` (r11): optional per-frame (256, 3) local color
    tables (None entries fall back to the global table) — the
    optimized-animation layout; ``include_global=False`` omits the
    global table entirely (legal when every frame carries a local
    one). ``interlace`` (r11) stores every frame in the Appendix-E
    4-pass row order with the interlace flag set. ``offsets`` /
    ``screen`` / ``disposals`` / ``transparent_idx`` (r11): emit
    PARTIAL frames — frame i (any shape) paints at offsets[i]=(x0,y0)
    on a screen of ``screen``=(sw,sh) (default frames[0]'s shape),
    with per-frame disposal 0-3 and an optional shared transparent
    index carried in each graphic-control extension. Lossless on
    indices under every combination — for full-frame default
    encodes, decode_gif_frames(encode_gif(frames, ...)) == frames
    exactly; for partial encodes the decoder returns the COMPOSITED
    screens the spec mandates.
    """
    import struct

    import numpy as np

    if not frames:
        raise ValueError("encode_gif needs at least one frame")
    if screen is None:
        sh0, sw0 = frames[0].shape
        screen = (sw0, sh0)
    sw0, sh0 = screen
    if palette is None:
        g = np.arange(256, dtype=np.uint8)
        palette = np.stack([g, g, g], axis=1)
    if palette.shape != (256, 3):
        raise ValueError("palette must be (256, 3) uint8 RGB")
    if local_palettes is not None and len(local_palettes) != len(frames):
        raise ValueError("local_palettes must match frames 1:1")
    if offsets is not None and len(offsets) != len(frames):
        raise ValueError("offsets must match frames 1:1")
    if disposals is not None and len(disposals) != len(frames):
        raise ValueError("disposals must match frames 1:1")
    if not include_global and (
        local_palettes is None or any(p is None for p in local_palettes)
    ):
        raise ValueError(
            "include_global=False needs a local palette on every frame"
        )

    out = bytearray(b"GIF89a")
    if include_global:
        # logical screen: global color table, 8 bits/channel, 256 entries
        out += struct.pack("<HHBBB", sw0, sh0, 0xF7, 0, 0)
        out += palette.astype(np.uint8).tobytes()
    else:
        out += struct.pack("<HHBBB", sw0, sh0, 0x70, 0, 0)
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for i, fr in enumerate(frames):
        h, w = fr.shape
        x0, y0 = offsets[i] if offsets is not None else (0, 0)
        if x0 + w > sw0 or y0 + h > sh0:
            raise ValueError("frame rect outside the logical screen")
        if offsets is None and (h, w) != (sh0, sw0):
            raise ValueError("all frames must share one shape")
        local = local_palettes[i] if local_palettes is not None else None
        # graphic control: disposal + optional transparency + delay
        disp = disposals[i] if disposals is not None else 0
        if not 0 <= disp <= 3:
            raise ValueError(f"disposal method {disp} not in 0..3")
        packed = (disp << 2) | (1 if transparent_idx is not None else 0)
        out += (
            b"\x21\xf9\x04"
            + bytes([packed])
            + struct.pack("<H", delay_cs)
            + bytes([transparent_idx or 0])
            + b"\x00"
        )
        iflags = 0x40 if interlace else 0
        if local is None:
            # image descriptor, no local table
            out += b"\x2c" + struct.pack("<HHHHB", x0, y0, w, h, iflags)
        else:
            local = np.asarray(local, dtype=np.uint8)
            if local.shape != (256, 3):
                raise ValueError("local palette must be (256, 3) uint8")
            # local-color-table flag + size 7 (256 entries)
            out += b"\x2c" + struct.pack(
                "<HHHHB", x0, y0, w, h, 0x87 | iflags
            )
            out += local.tobytes()
        out.append(8)  # LZW minimum code size
        stored = fr[_gif_interlace_order(h)] if interlace else fr
        out += _gif_lzw_encode(stored.reshape(-1))
    out += b"\x3b"
    return bytes(out)


def _gif_lzw_decode(
    data: bytes, min_code_size: int, limit: int
) -> "list[int]":
    """Inverse of _gif_lzw_encode over the de-blocked code stream.
    Stops once `limit` indices are out (the image's w*h): one code
    can expand to 4096 indices, so an unbounded decode of a small
    stream can exhaust memory. Indices past the limit are never
    read, so the last code's excess is harmless."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list = [(i,) for i in range(clear)] + [(), ()]
    next_code = eoi + 1
    out: list = []
    prev = None
    bitbuf = bitcnt = pos = 0
    while True:
        while bitcnt < code_size:
            if pos >= len(data):
                return out
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        code = bitbuf & ((1 << code_size) - 1)
        bitbuf >>= code_size
        bitcnt -= code_size
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            next_code = eoi + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None or code < next_code:
            entry = table[code]
        elif code == next_code:  # KwKwK
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if len(out) >= limit:
            return out
        if prev is not None and next_code < 4096:
            table.append(table[prev] + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code


def _gif_interlace_order(h: int) -> "list[int]":
    """GIF89a Appendix E row transmission order: pass 1 every 8th row
    from 0, pass 2 every 8th from 4, pass 3 every 4th from 2, pass 4
    every 2nd from 1. stored_row_i lands at display row order[i]."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _parse_gif(payload: bytes):
    """Shared GIF parser: -> (images, palette, (sw, sh, bg_index))
    where each image is a dict {"idx": (h, w) uint8 subrect indices,
    "x0", "y0", "local": local color table or None, "disposal": 0-3,
    "transparent": index or None}. Graphic-control extensions are
    parsed (disposal method, transparency index — GIF89a §23, each
    applying to the NEXT image only); other extensions are skipped.
    Each image composites onto its own copy of the logical screen, so
    the screen times the image count must fit MAX_RASTER_PIXELS; the
    check runs before each image decodes. CRC-less format — structural
    errors raise ValueError."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, flags, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    _check_raster(sw, sh, "GIF")
    pos = 13
    palette = None
    if flags & 0x80:
        n_colors = 2 << (flags & 0x07)
        palette = (
            np.frombuffer(payload, np.uint8, count=n_colors * 3, offset=pos)
            .reshape(n_colors, 3)
            .copy()
        )
        pos += n_colors * 3
    if palette is None or bg >= palette.shape[0]:
        bg = 0  # background index undefined without a global table
    images: list = []
    disposal, transparent = 0, None  # pending GCE, next image only
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(payload):
                raise ValueError("truncated GIF")
            label = payload[pos]
            pos += 1
            sub0 = pos  # first sub-block start (length byte)
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF")
                if not payload[pos]:
                    break
                pos += 1 + payload[pos]
            pos += 1
            if label == 0xF9 and payload[sub0] >= 4:  # graphic control
                packed = payload[sub0 + 1]
                disposal = (packed >> 2) & 0x7
                transparent = (
                    payload[sub0 + 4] if packed & 0x1 else None
                )
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF")
            x0, y0, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if x0 + w > sw or y0 + h > sh or w == 0 or h == 0:
                raise ValueError("GIF image rect outside logical screen")
            _check_raster(sw, sh * (len(images) + 1), "GIF frames x screen")
            local = None
            if iflags & 0x80:  # local color table (r11: seam closed)
                n_local = 2 << (iflags & 0x07)
                if pos + n_local * 3 > len(payload):
                    raise ValueError("truncated GIF local color table")
                local = (
                    np.frombuffer(
                        payload, np.uint8, count=n_local * 3, offset=pos
                    )
                    .reshape(n_local, 3)
                    .copy()
                )
                pos += n_local * 3
            interlaced = bool(iflags & 0x40)
            if pos >= len(payload):
                raise ValueError("truncated GIF")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF")
                ln = payload[pos]
                if not ln:
                    break
                if pos + 1 + ln > len(payload):
                    raise ValueError("truncated GIF")
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(data), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("GIF frame under-decoded")
            fr = np.array(idx[: w * h], dtype=np.uint8).reshape(h, w)
            if interlaced:  # r11: 4-pass de-interleave (App. E)
                out = np.empty_like(fr)
                out[_gif_interlace_order(h)] = fr
                fr = out
            images.append(
                {
                    "idx": fr,
                    "x0": x0,
                    "y0": y0,
                    "local": local,
                    "disposal": disposal,
                    "transparent": transparent,
                }
            )
            disposal, transparent = 0, None  # GCE consumed
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    return images, palette, (sw, sh, bg)


def decode_gif_frames(payload: bytes) -> "tuple[list, np.ndarray]":
    """Decode a GIF into ([(h, w) uint8 index frames], (n, 3) global
    color table — or None when the GIF omits one, legal whenever every
    frame carries a LOCAL table; use decode_gif_frames_rgb to resolve
    per-frame colors).

    Covers global and per-frame local color tables, table-less index
    streams, Appendix-E interlaced frames and partial-frame images
    with disposal methods 0-3 and transparency: each emitted frame
    is the full logical screen after compositing that image (see
    _gif_composites). Full-frame GIFs compose to exactly their raw
    rasters.
    """
    parsed = _parse_gif(payload)
    return list(_gif_composites(parsed, rgb=False)), parsed[1]


def decode_gif_frames_rgb(payload: bytes) -> "list[np.ndarray]":
    """Decode a GIF into [(h, w, 3) uint8 RGB frames], compositing in
    COLOR space: each image's indices resolve through its LOCAL color
    table when present, else the global one (GIF89a §20-21: a local
    table overrides the global table for exactly its own image), AT
    PAINT TIME — so a canvas can legitimately mix pixels painted by
    images with different tables, which no single index view can
    express. Raises ValueError when an image has neither table — such
    a stream has no defined colors. The color-true face of
    decode_gif_frames for perceptual pipelines (mm15's dHash luma,
    viz)."""
    return list(_gif_composites(_parse_gif(payload), rgb=True))


def _gif_composites(parsed, rgb: bool):
    """Yield the logical screen after each image of a parsed GIF
    (GIF89a §23): paint the image's subrect, where transparent
    indices leave the canvas untouched, then dispose — keep, restore
    the background, or restore the previous screen. The canvas holds
    color-table indices, or with ``rgb`` the colors of each image's
    own table. A generator, so a caller that needs only the first
    frame composites only the first image."""
    import numpy as np

    images, palette, (sw, sh, bg) = parsed
    if rgb:
        bg = palette[bg] if palette is not None else np.zeros(3, np.uint8)
    canvas = np.full((sh, sw) + np.shape(bg), bg, np.uint8)
    for im in images:
        idx = im["idx"]
        pixels = idx
        if rgb:
            table = im["local"] if im["local"] is not None else palette
            if table is None:
                raise ValueError(
                    "GIF frame has neither a local nor a global color table"
                )
            if int(idx.max(initial=0)) >= table.shape[0]:
                raise ValueError("GIF index exceeds its color table")
            pixels = table[idx]
        before = canvas.copy() if im["disposal"] == 3 else None
        y0, x0 = im["y0"], im["x0"]
        h, w = idx.shape
        region = canvas[y0 : y0 + h, x0 : x0 + w]
        if im["transparent"] is not None:
            m = idx != im["transparent"]
            region[m] = pixels[m]
        else:
            region[...] = pixels
        yield canvas.copy()
        if im["disposal"] == 2:  # restore background
            canvas[y0 : y0 + h, x0 : x0 + w] = bg
        elif im["disposal"] == 3:  # restore previous
            canvas = before


def image_dhash(media: DataFrame) -> DataFrame:
    """56-bit difference hash (dHash) per image — the perceptual
    fingerprint behind image near-dup detection (public pHash/dHash
    family; the image analogue of d04's SimHash for text).

    Sample an 8x8 pixel grid by nearest neighbor (the same integer
    coordinate arithmetic as resize_images, so it is closed-form and
    DuckDB-mirrorable), then bit (r, c) = [p(r, c+1) > p(r, c)] over
    the 7 horizontal comparisons of each of the 8 rows — 56 bits,
    safely inside a signed 64-bit LONG in both engines. Robust to
    re-encoding and brightness scaling (comparisons are ordinal), the
    property that makes it a DEDUP key where an md5 of the bytes is
    not. mapInPandas iterator form: payloads never return to the JVM,
    only (media_id, dhash LONG).
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                img = decode_payload(r.payload, r.format, r.width, r.height)
                out.append((r.media_id, _dhash56(img)))
            yield pd.DataFrame(out, columns=["media_id", "dhash"])

    return media.mapInPandas(batches, schema="media_id long, dhash long")


def _dhash56(img) -> int:
    """56-bit dHash of a (h, w) uint8 raster: 8x8 nearest-neighbor
    grid, bit (r, c) = [g(r, c+1) > g(r, c)] over 7 comparisons x 8
    rows. Shared by image_dhash and video_frame_dhashes."""
    import numpy as np

    img = np.asarray(img, dtype=np.int64)
    h_px, w_px = img.shape
    ys = (np.arange(8) * h_px // 8).astype(int)
    xs = (np.arange(8) * w_px // 8).astype(int)
    g = img[np.ix_(ys, xs)]
    h = 0
    for rr in range(8):
        for cc in range(7):
            if g[rr, cc + 1] > g[rr, cc]:
                h |= 1 << (rr * 7 + cc)
    return h


def video_frame_dhashes(media: DataFrame) -> DataFrame:
    """Per-frame 56-bit dHash for video rows: slice each payload into
    its frames with EXACTLY mm03's arithmetic (frame_len =
    max(n_bytes // n_frames, 1); trailing empty frames skipped), tile
    each frame's bytes into the declared (height, width) raster (the
    fake codec's layout), and fingerprint every frame. The emitted
    (media_id, frame_idx, fhash) table is the video dedup index:
    near-dup videos are found by exact-matching frame fingerprints —
    the frame-sampling + per-frame-hash shape real video dedup runs,
    with the decoder swapped at the documented codec seam. One
    Arrow-batched mapInPandas pass; payloads never reach the JVM."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                n = len(payload)
                if r.n_frames <= 0:
                    continue
                frame_len = max(n // r.n_frames, 1)
                for k in range(r.n_frames):
                    fb = payload[k * frame_len : (k + 1) * frame_len]
                    if not fb:
                        continue
                    buf = np.frombuffer(fb, np.uint8)
                    idx = (
                        np.arange(r.width * r.height) % len(fb)
                    )
                    img = buf[idx].reshape(r.height, r.width)
                    out.append((r.media_id, k, _dhash56(img)))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "fhash"]
            )

    return media.mapInPandas(
        batches, schema="media_id long, frame_idx long, fhash long"
    )
