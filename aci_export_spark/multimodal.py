"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

Beyond-reference surface for the 100 TB training-data pipeline. The full
codec libraries (Pillow, torchaudio, pyav) are not in this container, so the
*decode kernels* come in two modes:

- ``real=True`` → for IMAGES, container-header parsing implemented here
  directly (PNG IHDR / JPEG SOFn / GIF logical-screen descriptor — pure
  struct reads over the binary column, no codec dependency), so metadata
  extraction works on genuine image bytes. All three image formats go
  further: full PIXEL decode — zlib inflate + numpy scanline unfiltering
  for PNG (:func:`decode_png_luma`), a pure-Python GIF-LZW inflater
  (:func:`decode_gif_luma`), and a T.81 baseline-sequential JPEG decoder
  (Huffman + dequant + IDCT, :func:`decode_jpeg_luma`) — so resize and
  perceptual hash run on genuine luma grids for PNG, GIF, and JPEG
  payloads (sequential AND progressive). Only arithmetic-coded/lossless
  JPEG and compressed audio/video sample decode still raise
  ``NotImplementedError`` (WAV PCM samples decode natively via
  :func:`decode_wav_samples`);
- ``real=False`` (default) → a deterministic fake that derives metadata from
  the bytes themselves (length / md5 / arithmetic), so the Spark-side
  plumbing — schema, mapInPandas signature, Arrow batch shape, partitioning,
  fan-out — is real and oracle-checkable end to end.

Scale design: every stage is ``mapInPandas`` (no shuffle — metadata extract,
resize, frame sampling are embarrassingly parallel over rows); binary
payloads never leave the executor; only row-per-frame fan-out grows data, and
it grows it linearly with a schema the optimizer can prune.
"""

from __future__ import annotations

import hashlib
import math
import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_TYPES = ("image", "audio", "video")

#: deterministic fake-decode parameters (mirrored in the DuckDB oracles)
_W_MOD, _H_MOD, _DIM_BASE = 449, 257, 64
FRAME_BYTES = 1000

DECODED_SCHEMA = (
    "doc_id long, media_type string, byte_len long, checksum string, "
    "width long, height long"
)
RESIZED_SCHEMA = (
    "doc_id long, byte_len long, width long, height long, "
    "new_width long, new_height long, new_byte_len long"
)
FRAMES_SCHEMA = (
    "doc_id long, frame_no long, frame_offset long, frame_len long, "
    "frame_checksum string"
)


def _spread_narrow(src: "DataFrame", width: int = 4):
    """Pre-spread a narrow synthesis/parse source over a MODEST width.

    Every mm_* chain is Python (Arrow) stages end-to-end over a
    single-file scan: without this, the whole synth+parse chain for a
    query serializes through ONE Python worker (mm_ogg_pages measured
    3.4 s wall at ~1 core for a ~0.6 s plan at sf0.1). Width 4, not full
    parallelism: each mapInPandas partition pays fixed worker/Arrow-IPC
    costs PER STAGE, so full 32-way spread multiplies CPU-seconds with no
    wall gain over modest widths (the mp4 chain's A/B in attach_mp4:
    1/4/8/32 partitions -> warm wall 2.9/1.6/1.25/1.6 s at 4.4/8.0/11.5/
    36.5 CPU-s). At cluster scale the guard in spread_for_explode leaves
    already-wide scans alone."""
    from aci_export_spark.llm.dedup import spread_for_explode

    return spread_for_explode(src, width=width)


def attach_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the documents fixture:
    ``content`` = utf-8 bytes of the text (an opaque payload as far as every
    downstream stage is concerned), ``media_type`` cycled by doc_id.

    In production this column comes straight from the lake (parquet/iceberg
    BINARY); nothing downstream depends on how it was produced.
    Deliberately NOT pre-spread: the consumers' Python work is sub-0.3 s,
    and the width-4 A/B (r12) measured the repartition + per-partition
    Arrow fixed costs costing MORE wall than they saved (decode_metadata
    0.41->0.95 s, frame_sample 0.42->1.43 s) — see :func:`_spread_narrow`
    for where spreading does pay.
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
    )


def _fake_dims(byte_len: int) -> tuple[int, int]:
    return _DIM_BASE + byte_len % _W_MOD, _DIM_BASE + (byte_len * 7) % _H_MOD


#: JPEG start-of-frame markers that carry dimensions (SOF0-15 minus the
#: non-frame DHT/DAC/JPG markers C4/C8/CC)
_JPEG_SOF = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def parse_image_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) parsed straight from the container header of PNG,
    JPEG, or GIF bytes — pure ``struct`` reads, no codec library. Returns
    ``None`` when the payload is not one of the three containers (or is
    truncated before its dimension fields).

    PNG: the 8-byte signature is followed by the IHDR chunk, whose first
    two fields are big-endian width/height. GIF: the 6-byte version tag is
    followed by the little-endian logical-screen width/height. JPEG:
    dimensions live in the first SOFn segment, so walk the segment list
    (marker, big-endian length) from SOI to it.
    """
    import struct

    if (
        data[:8] == b"\x89PNG\r\n\x1a\n"
        and len(data) >= 24
        and data[12:16] == b"IHDR"
    ):
        w, h = struct.unpack(">II", data[16:24])
        return int(w), int(h)
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return int(w), int(h)
    if data[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(data):
            if data[i] != 0xFF:  # tolerate fill bytes between segments
                i += 1
                continue
            marker = data[i + 1]
            if marker == 0xFF:  # padding before a marker
                i += 1
                continue
            # standalone markers (no length field): SOI, TEM, RSTn; EOI ends
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker == 0xD9:
                break
            seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF:
                if i + 9 > len(data):
                    return None
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return int(w), int(h)
            i += 2 + seg_len
    return None


def parse_wav_meta(data: bytes) -> tuple[int, int, int] | None:
    """(duration_ms, sample_rate, channels) parsed from a RIFF/WAVE
    container — pure struct reads over the ``fmt `` and ``data`` chunk
    headers, no codec library. The PCM payload itself is never decoded.
    Returns ``None`` for non-WAV or truncated input.
    """
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    sample_rate = channels = byte_rate = None
    data_size = None
    i = 12
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (csize,) = struct.unpack("<I", data[i + 4 : i + 8])
        if cid == b"fmt " and i + 8 + 16 <= len(data):
            _fmt, channels, sample_rate, byte_rate = struct.unpack(
                "<HHII", data[i + 8 : i + 20]
            )
        elif cid == b"data":
            data_size = csize
        # chunks are word-aligned: odd sizes carry a pad byte
        i += 8 + csize + (csize & 1)
    if sample_rate is None or byte_rate in (None, 0) or data_size is None:
        return None
    return int(data_size * 1000 // byte_rate), int(sample_rate), int(channels)


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, payload_start, payload_end) for the MP4 boxes in
    ``data[start:end]`` — handles 32-bit and 64-bit (size == 1) box sizes."""
    import struct

    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", data[i : i + 4])
        btype = data[i + 4 : i + 8]
        header = 8
        if size == 1:
            if i + 16 > end:
                return
            (size,) = struct.unpack(">Q", data[i + 8 : i + 16])
            header = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - i
        if size < header or i + size > end:
            return
        yield btype, i + header, i + size
        i += size


def parse_mp4_meta(data: bytes) -> tuple[int, int | None, int | None] | None:
    """(duration_ms, width, height) from an ISO-BMFF (MP4) container —
    walks the box tree to ``moov/mvhd`` (timescale + duration) and the
    first video ``trak/tkhd`` carrying nonzero 16.16-fixed dimensions.
    Pure struct reads; samples are never touched. Returns ``None`` for
    non-MP4 or truncated input.
    """
    import struct

    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    duration_ms = None
    width = height = None
    for btype, ps, pe in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _mp4_boxes(data, ps, pe):
            if ctype == b"mvhd" and ce - cs >= 4:
                version = data[cs]
                if version == 1 and ce - cs >= 28 + 4:
                    (timescale,) = struct.unpack(">I", data[cs + 20 : cs + 24])
                    (duration,) = struct.unpack(">Q", data[cs + 24 : cs + 32])
                elif ce - cs >= 20 + 4:
                    (timescale,) = struct.unpack(">I", data[cs + 12 : cs + 16])
                    (duration,) = struct.unpack(">I", data[cs + 16 : cs + 20])
                else:
                    continue
                if timescale:
                    duration_ms = int(duration * 1000 // timescale)
            elif ctype == b"trak" and width is None:
                for ttype, ts, te in _mp4_boxes(data, cs, ce):
                    if ttype != b"tkhd" or te - ts < 4:
                        continue
                    version = data[ts]
                    # tkhd layout: version/flags(4) + times(8 or 16) +
                    # track_id(4) + reserved(4) + duration(4 or 8) +
                    # reserved(8) + layer/alt/volume/reserved(8) +
                    # matrix(36), then width/height as 16.16 fixed
                    off = ts + 4 + (16 if version == 1 else 8) + 8
                    off += 8 if version == 1 else 4
                    off += 8 + 8 + 36
                    if off + 8 <= te:
                        w, h = struct.unpack(">II", data[off : off + 8])
                        if w and h:
                            width, height = w >> 16, h >> 16
    if duration_ms is None:
        return None
    return duration_ms, width, height


def _png_unfilter(arr, height, stride, bpp):
    """Reverse PNG scanline filtering over raw filter-prefixed rows.

    None/Up are whole-row numpy ops (uint8 wraps mod 256 natively); Sub is
    a per-channel cumsum mod 256 (its recurrence is a prefix sum);
    Average/Paeth carry a true serial dependence along x, so they loop
    within the scanline — the documented cost of those two filter types,
    bounded by row width."""
    import numpy as np

    filters = arr[:, 0]
    recon = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    n_groups = stride // bpp + (1 if stride % bpp else 0)
    for y in range(height):
        f = int(filters[y])
        row = arr[y, 1:]
        if f == 0:  # None
            cur = row.copy()
        elif f == 1:  # Sub: prefix sum per channel, mod 256
            padded = np.zeros(n_groups * bpp, dtype=np.uint32)
            padded[:stride] = row
            cur = (
                padded.reshape(n_groups, bpp).cumsum(axis=0) % 256
            ).astype(np.uint8).reshape(-1)[:stride]
        elif f == 2:  # Up: whole-row wrapping add
            cur = row + prev
        elif f == 3:  # Average: serial along x
            cur = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(row[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth: serial along x
            cur = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        recon[y] = cur
        prev = cur
    return recon


def _png_pass_samples(raw, off, pw, ph, channels, bit_depth):
    """Decode one PNG (sub)image from the concatenated IDAT plaintext:
    unfilter, then expand bytes to per-pixel channel SAMPLES — 16-bit
    reduced to its high byte (the standard 16→8 projection), sub-byte
    depths bit-unpacked MSB-first and left UNSCALED (palette indices must
    stay raw; grayscale scaling happens at the caller). Returns
    (samples[ph, pw, channels] uint8, new offset)."""
    import numpy as np

    stride = (pw * channels * bit_depth + 7) // 8
    bpp = max(1, channels * bit_depth // 8)
    need = (stride + 1) * ph
    if len(raw) - off < need:
        raise ValueError(
            f"PNG IDAT payload short: need {need} bytes for a "
            f"{pw}x{ph}x{channels}@{bit_depth} pass, have {len(raw) - off}"
        )
    arr = np.frombuffer(raw[off : off + need], dtype=np.uint8).reshape(
        ph, stride + 1
    )
    recon = _png_unfilter(arr, ph, stride, bpp)
    if bit_depth == 8:
        px = recon.reshape(ph, pw, channels)
    elif bit_depth == 16:
        px = recon.reshape(ph, pw, channels, 2)[:, :, :, 0].copy()
    else:  # 1/2/4-bit, single channel (gray or palette indices)
        bits = np.unpackbits(recon, axis=1)[:, : pw * bit_depth]
        weights = 1 << np.arange(bit_depth - 1, -1, -1, dtype=np.uint8)
        px = (
            (bits.reshape(ph, pw, bit_depth) * weights).sum(axis=2)
            .astype(np.uint8)
            .reshape(ph, pw, 1)
        )
    return px, off + need


#: Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec section 4.5.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png_luma(data: bytes) -> "object":
    """Decode a PNG payload to its luma grid (numpy uint8, height×width)
    with NO codec library: chunk walk + zlib inflate (zlib is already a
    repo dependency) + per-scanline unfiltering per the PNG spec.

    Supported: every legal bit depth (1/2/4/8/16 — 16-bit reduces to the
    high byte, sub-byte grays rescale by 255/(2^d−1)), color types 0
    (gray), 2 (RGB), 3 (palette via PLTE), 4 (gray+alpha), 6 (RGBA), both
    non-interlaced and Adam7-interlaced (7 independently-filtered
    sub-images reassembled onto the pass grid). tRNS transparency is
    ignored — the palette/sample color shows, the deterministic choice a
    luma pipeline wants. Corrupt or truncated IDAT raises ValueError (zlib
    errors are wrapped). RGB luma is the deterministic integer BT.601
    approximation (77R+150G+29B)>>8.
    """
    import struct
    import zlib

    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("truncated IHDR")
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", chunk[:13])
            )
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or height is None:
        raise ValueError("PNG missing IHDR")
    if not idat:
        raise ValueError("PNG missing IDAT")
    if width == 0 or height == 0:
        raise ValueError("empty PNG raster")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"invalid PNG color type {color_type}")
    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}[color_type]
    if bit_depth not in legal:
        raise ValueError(
            f"illegal PNG bit depth {bit_depth} for color type {color_type}"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e

    if interlace == 0:
        px, off = _png_pass_samples(raw, 0, width, height, channels, bit_depth)
        if off != len(raw):
            raise ValueError(
                f"PNG IDAT payload is {len(raw)} bytes, expected {off} for "
                f"{width}x{height}x{channels}@{bit_depth}"
            )
    elif interlace == 1:  # Adam7: 7 sub-images on the pass grid
        px = np.zeros((height, width, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass emits no scanlines at all
            sub, off = _png_pass_samples(raw, off, pw, ph, channels, bit_depth)
            px[y0::dy, x0::dx] = sub
        if off != len(raw):
            raise ValueError(
                f"PNG IDAT payload is {len(raw)} bytes, expected {off} "
                "across the 7 Adam7 passes"
            )
    else:
        raise ValueError(f"invalid PNG interlace method {interlace}")

    if color_type == 3:  # palette: index -> RGB -> luma
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index outside PLTE")
        rgb = plte[idx]
        r = rgb[:, :, 0].astype(np.uint32)
        g = rgb[:, :, 1].astype(np.uint32)
        b = rgb[:, :, 2].astype(np.uint32)
        return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)
    if channels in (1, 2):  # gray / gray+alpha: the gray channel IS luma
        gray = px[:, :, 0]
        if bit_depth < 8:  # rescale d-bit gray to full 8-bit range
            gray = (
                gray.astype(np.uint32) * 255 // ((1 << bit_depth) - 1)
            ).astype(np.uint8)
        return gray.copy()
    r = px[:, :, 0].astype(np.uint32)
    g = px[:, :, 1].astype(np.uint32)
    b = px[:, :, 2].astype(np.uint32)
    return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
    """GIF-variant LZW decode to palette indices — pure Python, no codec.

    Codes start at ``min_code_size+1`` bits (LSB-first packing), the
    dictionary grows by one entry per code up to 12 bits, CLEAR resets it,
    END terminates. Raises ValueError on malformed streams (bad first
    code, out-of-range code, truncation before ``n_pixels``)."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    # bit reader, LSB first
    bitpos = 0
    total_bits = len(data) * 8

    def read_code(width: int) -> int | None:
        nonlocal bitpos
        if bitpos + width > total_bits:
            return None
        v = 0
        for k in range(width):
            byte = data[(bitpos + k) >> 3]
            if (byte >> ((bitpos + k) & 7)) & 1:
                v |= 1 << k
        bitpos += width
        return v

    table: list[list[int]] = []

    def reset_table() -> None:
        nonlocal table, width, prev
        table = [[i] for i in range(clear)] + [[], []]
        width = min_code_size + 1
        prev = None

    width = min_code_size + 1
    prev: list[int] | None = None
    reset_table()
    while len(out) < n_pixels:
        code = read_code(width)
        if code is None:
            raise ValueError("GIF LZW stream truncated before raster complete")
        if code == clear:
            reset_table()
            continue
        if code == end:
            break
        if code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"invalid GIF LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError(
            f"GIF raster short: {len(out)} of {n_pixels} pixels decoded"
        )
    return out[:n_pixels]


def decode_gif_luma(data: bytes) -> "object":
    """Decode the FIRST frame of a GIF payload to its luma grid (numpy
    uint8, height×width) with NO codec library: header + color-table
    parsing and a pure-Python GIF-LZW inflater (:func:`_gif_lzw_decode`).

    Supported: GIF87a/89a, global or local color table, interlaced or
    non-interlaced first image; extension blocks are skipped (so animated
    GIFs decode their first frame; transparency is ignored — the palette
    color shows, which is the deterministic choice a luma pipeline wants).
    Malformed streams raise ValueError. Palette RGB collapses to the same
    integer BT.601 luma as the PNG path."""
    import struct

    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    _sw, _sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise ValueError("truncated GIF image descriptor")
            _left, _top, w, h, iflags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8)
                if len(pal) < 3 * n:
                    raise ValueError("truncated GIF local color table")
                pal = pal.reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF image has no color table")
            if w == 0 or h == 0:
                raise ValueError("empty GIF raster")
            if pos >= len(data):
                raise ValueError("truncated GIF before LZW data")
            min_code_size = data[pos]
            pos += 1
            if not (2 <= min_code_size <= 11):
                raise ValueError(f"invalid GIF LZW min code size {min_code_size}")
            chunks = []
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                chunk = data[pos + 1 : pos + 1 + ln]
                if len(chunk) < ln:
                    raise ValueError("truncated GIF LZW sub-block")
                chunks.append(chunk)
                pos += 1 + ln
            idx = _gif_lzw_decode(b"".join(chunks), min_code_size, w * h)
            indices = np.asarray(idx, dtype=np.int32)
            if indices.max(initial=0) >= len(pal):
                raise ValueError("GIF pixel index outside color table")
            grid = indices.reshape(h, w)
            if iflags & 0x40:  # Adam-less GIF interlace: 4 row passes
                order = np.concatenate(
                    [np.arange(0, h, 8), np.arange(4, h, 8),
                     np.arange(2, h, 4), np.arange(1, h, 2)]
                )
                deinter = np.empty_like(grid)
                deinter[order] = grid
                grid = deinter
            rgb = pal[grid]
            r = rgb[:, :, 0].astype(np.uint32)
            g = rgb[:, :, 1].astype(np.uint32)
            b = rgb[:, :, 2].astype(np.uint32)
            return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def decode_image_luma(data: bytes) -> "object":
    """Dispatch real pixel decode by container signature: PNG (zlib +
    numpy unfiltering, every legal depth/color/interlace), GIF
    (pure-Python LZW), and JPEG — sequential AND progressive Huffman
    (:func:`decode_jpeg_luma`) — all decode natively; only
    arithmetic-coded/lossless JPEG remains gated (inside the JPEG
    decoder, with a NotImplementedError naming the missing process)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_luma(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_luma(data)
    if data[:2] == b"\xff\xd8":
        return decode_jpeg_luma(data)
    raise ValueError("unrecognized image container: not PNG, GIF, or JPEG")


def downscale_luma(luma: "object", nh: int, nw: int) -> "object":
    """Deterministic integer downscale of a luma grid to (nh, nw): exact
    box mean (2-D summed-area table, floor division) when the source
    covers the target in both axes, nearest-neighbor sampling otherwise —
    both engine-replayable integer arithmetic, no float resampling."""
    import numpy as np

    h, w = luma.shape
    if h >= nh and w >= nw:
        sat = np.zeros((h + 1, w + 1), dtype=np.uint64)
        sat[1:, 1:] = luma.astype(np.uint64).cumsum(axis=0).cumsum(axis=1)
        ys = (np.arange(nh + 1, dtype=np.int64) * h) // nh
        xs = (np.arange(nw + 1, dtype=np.int64) * w) // nw
        s = sat[ys][:, xs]
        block = s[1:, 1:] - s[:-1, 1:] - s[1:, :-1] + s[:-1, :-1]
        areas = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
        return (block // areas.astype(np.uint64)).astype(np.uint8)
    ys = (np.arange(nh, dtype=np.int64) * h) // nh
    xs = (np.arange(nw, dtype=np.int64) * w) // nw
    return luma[ys][:, xs].copy()


def _image_phash(data: bytes) -> int:
    """Real dHash for a PNG/GIF payload: decode luma, box-downscale to the
    PHASH_ROWS x (PHASH_COLS+1) grid, hash horizontal gradients — the same
    bit layout as the fake path, over genuine pixels."""
    luma = decode_image_luma(data)
    grid = downscale_luma(luma, PHASH_ROWS, PHASH_COLS + 1)
    h = 0
    for r in range(PHASH_ROWS):
        for c in range(PHASH_COLS):
            if int(grid[r, c]) < int(grid[r, c + 1]):
                h |= 1 << (r * PHASH_COLS + c)
    return h


def _decode_real(content: bytes, media_type: str) -> tuple[int, int]:
    """The real decode hook. Image METADATA needs only the container header
    — parsed here with no codec dependency. Audio/video decode (and any
    pixel-touching kernel) still requires libraries this container doesn't
    ship; those paths raise until PIL/torchaudio/pyav are present."""
    if media_type == "image":
        dims = parse_image_dims(bytes(content))
        if dims is None:
            raise ValueError(
                "unrecognized image container: header is not PNG, JPEG, or GIF"
            )
        return dims
    raise NotImplementedError(
        "decode_metadata's (width, height) contract is image-shaped; for "
        "audio/video container metadata (duration, sample rate, channels, "
        "display dims) use decode_av_metadata(real=True), which parses WAV "
        "and MP4 headers directly, and for uncompressed audio samples use "
        "decode_wav_samples (native PCM decode). Only COMPRESSED "
        "audio/video sample decode still requires codec libraries this "
        "environment does not ship (torchaudio/pyav); run with real=False "
        "for the deterministic fake"
    )


def decode_metadata(media: DataFrame, real: bool = False) -> DataFrame:
    """Per-asset metadata extraction (decode stage) via mapInPandas.

    Fake decode: byte length, md5 checksum, dimensions derived
    arithmetically from the byte length — deterministic, so the DuckDB
    oracle recomputes identical values from the text column.

    Real decode (``real=True``): dimensions parsed from the actual PNG /
    JPEG / GIF container headers (:func:`parse_image_dims`) — works on
    genuine image bytes with no codec library; audio/video rows raise
    ``NotImplementedError`` (header-only parsing can't produce their
    metadata honestly).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["content"].map(len)
            if real:
                parsed = [
                    _decode_real(c, t)
                    for c, t in zip(pdf["content"], pdf["media_type"])
                ]
                widths = [d[0] for d in parsed]
                heights = [d[1] for d in parsed]
            else:
                dims = lens.map(_fake_dims)
                widths = dims.map(lambda d: d[0])
                heights = dims.map(lambda d: d[1])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": lens,
                    "checksum": pdf["content"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "width": widths,
                    "height": heights,
                }
            )

    return media.mapInPandas(extract, schema=DECODED_SCHEMA)


AV_META_SCHEMA = (
    "doc_id long, media_type string, byte_len long, duration_ms long, "
    "sample_rate long, channels long, width long, height long"
)


def _real_av_meta(content: bytes, media_type: str):
    data = bytes(content)
    if media_type == "image":
        dims = parse_image_dims(data)
        if dims is None:
            raise ValueError("unrecognized image container (not PNG/JPEG/GIF)")
        return None, None, None, dims[0], dims[1]
    if media_type == "audio":
        meta = parse_wav_meta(data)
        if meta is None:
            raise ValueError("unrecognized audio container (not RIFF/WAVE)")
        dur, rate, ch = meta
        return dur, rate, ch, None, None
    meta = parse_mp4_meta(data)
    if meta is None:
        raise ValueError("unrecognized video container (not ISO-BMFF/MP4)")
    dur, w, h = meta
    return dur, None, None, w, h


def decode_av_metadata(media: DataFrame, real: bool = False) -> DataFrame:
    """Modality-typed container metadata via mapInPandas: duration /
    sample rate / channels for audio, duration / display dims for video,
    dims for images — NULL where the modality has no such field.

    ``real=True`` parses genuine container headers with pure struct reads
    (PNG/JPEG/GIF via :func:`parse_image_dims`, RIFF/WAVE via
    :func:`parse_wav_meta`, ISO-BMFF/MP4 via :func:`parse_mp4_meta`) — no
    codec dependency, because *container metadata lives in headers*, not in
    the encoded samples. ``real=False`` derives deterministic values from
    the byte length so the DuckDB oracle can replay the whole stage.
    Same Arrow-batched, shuffle-free plan shape as :func:`decode_metadata`.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["content"].map(len)
            if real:
                metas = [
                    _real_av_meta(c, t)
                    for c, t in zip(pdf["content"], pdf["media_type"])
                ]
                cols = {
                    name: [m[i] for m in metas]
                    for i, name in enumerate(
                        ("duration_ms", "sample_rate", "channels", "width", "height")
                    )
                }
            else:
                # vectorized fake: column arithmetic, no per-row Python (the
                # 10× stress measured the row loop at ~10× the whole rest of
                # the stage)
                ln = lens.astype("int64")
                t = pdf["media_type"]
                is_a, is_v, is_i = t == "audio", t == "video", t == "image"
                # nullable Int64 so masked-out modalities surface as real
                # NULLs through Arrow (float NaN would fail the long cast)
                cols = {
                    "duration_ms": (1000 + (ln * 13) % 59000)
                    .astype("Int64")
                    .where(is_a | is_v),
                    "sample_rate": (8000 + (ln % 37) * 1000)
                    .astype("Int64")
                    .where(is_a),
                    "channels": (1 + ln % 2).astype("Int64").where(is_a),
                    "width": (_DIM_BASE + ln % _W_MOD)
                    .astype("Int64")
                    .where(is_v | is_i),
                    "height": (_DIM_BASE + (ln * 7) % _H_MOD)
                    .astype("Int64")
                    .where(is_v | is_i),
                }
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": lens,
                    **cols,
                }
            )

    return media.mapInPandas(extract, schema=AV_META_SCHEMA)


def resize_plan(media: DataFrame, max_dim: int = 128, real: bool = False) -> DataFrame:
    """Resize stage: scale each asset so max(width,height) ≤ max_dim.

    Integer arithmetic throughout (``a * max_dim // big_side``) so the fake
    is bit-identical across engines. The fake "resized payload" is the
    proportional byte prefix. ``real=True`` decodes PNG, GIF, and JPEG
    (sequential + progressive) payloads to their genuine luma grid
    (:func:`decode_image_luma` — zlib + numpy / pure-Python LZW / Huffman
    + IDCT, no codec), reports true dimensions, and ``new_byte_len`` is
    the resized luma's pixel count (the buffer a downstream feature
    extractor holds); only arithmetic-coded/lossless JPEG stays gated via
    ``decode_image_luma``'s contract.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["content"].map(len)
            out = {
                "doc_id": pdf["doc_id"],
                "byte_len": lens,
                "width": [], "height": [], "new_width": [],
                "new_height": [], "new_byte_len": [],
            }
            for n, content in zip(lens, pdf["content"]):
                if real:
                    data = bytes(content)
                    # PNG/GIF/JPEG (incl. progressive) decode natively;
                    # arithmetic JPEG raises its gate from decode_image_luma
                    luma = decode_image_luma(data)
                    h, w = luma.shape
                    big = max(w, h)
                    if big <= max_dim:
                        nw, nh = w, h
                    else:
                        nw, nh = max(1, w * max_dim // big), max(1, h * max_dim // big)
                    nb = nw * nh
                else:
                    w, h = _fake_dims(int(n))
                    big = max(w, h)
                    if big <= max_dim:
                        nw, nh, nb = w, h, int(n)
                    else:
                        nw, nh = w * max_dim // big, h * max_dim // big
                        nb = int(n) * max_dim // big
                out["width"].append(w)
                out["height"].append(h)
                out["new_width"].append(nw)
                out["new_height"].append(nh)
                out["new_byte_len"].append(nb)
            yield pd.DataFrame(out)

    return media.mapInPandas(resize, schema=RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, frame_bytes: int = FRAME_BYTES, real: bool = False
) -> DataFrame:
    """Frame-sampling stage (video → frames): fan each asset out to
    ``ceil(byte_len / frame_bytes)`` frame rows with offset/length/checksum.

    The row-generating ("UDTF-like") multimodal op: linear output growth,
    no shuffle, binary slices hashed executor-side and dropped — only the
    small typed rows flow on.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real:
                _decode_real(b"", "")
            ids, nos, offs, flens, sums = [], [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(content)
                n_frames = max(1, math.ceil(len(data) / frame_bytes))
                for i in range(n_frames):
                    chunk = data[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(doc_id)
                    nos.append(i)
                    offs.append(i * frame_bytes)
                    flens.append(len(chunk))
                    sums.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": nos,
                    "frame_offset": offs,
                    "frame_len": flens,
                    "frame_checksum": sums,
                }
            )

    return media.mapInPandas(frames, schema=FRAMES_SCHEMA)


#: dHash geometry: a PHASH_ROWS x (PHASH_COLS+1) luma grid gives
#: PHASH_ROWS*PHASH_COLS gradient bits — 56 bits keeps every value (and
#: every pigeonhole block) inside a signed 64-bit long in both engines
PHASH_ROWS, PHASH_COLS, PHASH_STRIDE = 7, 8, 7
PHASH_BITS = PHASH_ROWS * PHASH_COLS


def phash_table(media: DataFrame, real: bool = False) -> DataFrame:
    """Perceptual hash (dHash, Krawetz) per asset: decode to a tiny luma
    grid, hash the horizontal gradients — bit k is 1 iff grid[k] <
    grid[k+1] within its row. Near-identical images differ in few bits, so
    Hamming distance is the dedup metric (the LAION-style image-dedup
    recipe).

    Fake decode: the "luma grid" samples the payload bytes at stride
    `PHASH_STRIDE` modulo the length — deterministic and replayed exactly
    by the DuckDB oracle over the text column (the payload is its utf-8
    bytes). ``real=True``: PNG, GIF, and JPEG (sequential + progressive)
    payloads decode to their genuine luma grid
    (:func:`decode_image_luma`), box-downscale to 7x9, same gradient bit
    layout; only arithmetic-coded/lossless JPEG stays gated."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for content in pdf["content"]:
                data = bytes(content)
                if real:
                    # PNG/GIF/JPEG (incl. progressive) decode natively;
                    # arithmetic JPEG raises its gate from decode_image_luma
                    hashes.append(_image_phash(data))
                    continue
                n = max(len(data), 1)
                h = 0
                for r in range(PHASH_ROWS):
                    for c in range(PHASH_COLS):
                        s = r * (PHASH_COLS + 1) + c
                        p1 = data[(s * PHASH_STRIDE) % n] if data else 0
                        p2 = data[((s + 1) * PHASH_STRIDE) % n] if data else 0
                        if p1 < p2:
                            h |= 1 << (r * PHASH_COLS + c)
                hashes.append(h)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})

    return media.mapInPandas(hash_batch, schema="doc_id long, phash long")


def phash_pairs(
    media: DataFrame, max_hamming: int = 6, real: bool = False
) -> DataFrame:
    """Near-duplicate asset pairs: dHash table → pigeonhole-blocked Hamming
    join (`llm/dedup.hamming_pairs_blocked` — guaranteed recall, linear
    block rows) → exact bit_count verify. Returns (id_a, id_b, hamming)."""
    from aci_export_spark.llm.dedup import hamming_pairs_blocked

    # the hash table feeds both join sides; checkpoint so the decode+hash
    # mapInPandas stage runs once
    ph = phash_table(media, real=real).localCheckpoint()
    return hamming_pairs_blocked(
        ph, "doc_id", "phash", max_hamming=max_hamming, bits=PHASH_BITS
    )


# ---------------------------------------------------------------------------
# WAV PCM sample decode (r8): the audio counterpart of decode_png_luma —
# pure struct/numpy, no codec. Narrows the audio gate to COMPRESSED formats.
# ---------------------------------------------------------------------------

#: synthetic-WAV parameters (mirrored exactly in the DuckDB oracle):
#: n_samples = _WAV_N_BASE + byte_len % _WAV_N_MOD, and sample i of doc d is
#: ((d * _WAV_A + i * _WAV_B) % 65536) - 32768 — Knuth's multiplicative-hash
#: constant spreads values across the full int16 range so peak/clip/silence
#: stats are non-degenerate.
_WAV_N_BASE, _WAV_N_MOD = 64, 193
_WAV_A, _WAV_B = 2654435761, 40503
#: |sample| below this counts as silence (about -36 dBFS)
WAV_SILENCE_THRESHOLD = 512

AUDIO_STATS_SCHEMA = (
    "doc_id long, n_samples long, sample_rate long, peak_abs long, "
    "sum_abs long, sum_sq long, silent_samples long, clipped_samples long"
)


def synth_wav(doc_id: int, byte_len: int) -> bytes:
    """A genuine RIFF/WAVE container (16-bit PCM mono) whose samples derive
    deterministically from (doc_id, byte_len) — so the decode path below is
    exercised on real container bytes while the stats stay SQL-replayable.
    Includes a non-audio ``cue `` chunk with an ODD payload size before
    ``data`` so decoders must honor RIFF word alignment to find the PCM."""
    import struct

    import numpy as np

    n = _WAV_N_BASE + byte_len % _WAV_N_MOD
    sr = 8000 + (byte_len % 37) * 1000
    i = np.arange(n, dtype=np.int64)
    smp = ((doc_id * _WAV_A + i * _WAV_B) % 65536 - 32768).astype("<i2")
    pcm = smp.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    cue = b"\x07"  # odd-size payload: exercises the pad-byte skip
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"cue " + struct.pack("<I", len(cue)) + cue + b"\x00"
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synth_wav_gated(doc_id: int, byte_len: int) -> bytes:
    """Like :func:`synth_wav` but with a 32-sample on/off amplitude gate
    (even 32-sample blocks are silenced to 0) — the waveform a silence-
    SEGMENTATION stage needs: genuine multi-sample silent runs, not just
    pointwise near-zeros. Same container layout, same replayable sample
    arithmetic with the gate applied on top."""
    import struct

    import numpy as np

    n = _WAV_N_BASE + byte_len % _WAV_N_MOD
    sr = 8000 + (byte_len % 37) * 1000
    i = np.arange(n, dtype=np.int64)
    smp = (doc_id * _WAV_A + i * _WAV_B) % 65536 - 32768
    smp = (smp * ((i // 32) % 2)).astype("<i2")
    pcm = smp.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def attach_audio_gated(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with gated-envelope WAV payloads
    (:func:`synth_wav_gated`) — the ingestion stand-in for silence
    segmentation. mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len"),
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_wav_gated(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


AUDIO_SILENCE_SCHEMA = (
    "doc_id long, n_samples long, n_runs long, silent_in_runs long, "
    "longest_run long"
)


def audio_silence_segments(
    media: DataFrame, threshold: int = WAV_SILENCE_THRESHOLD, min_run: int = 8
) -> DataFrame:
    """Silence-RUN segmentation over decoded PCM: maximal runs of
    consecutive samples with |s| < ``threshold``, keeping runs of at
    least ``min_run`` samples — per asset the qualifying run count, the
    samples inside them, and the longest run. The trim/split primitive of
    audio curation (voice-activity gating, segment extraction), exact
    integers end to end. One vectorized boundary diff per asset inside
    mapInPandas — no shuffle, samples never leave the executor."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "n_runs", "silent_in_runs",
                "longest_run",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                smp, _sr, _ch = decode_wav_samples(bytes(content))
                m = (np.abs(smp.astype(np.int64)) < threshold).astype(np.int8)
                edges = np.diff(np.concatenate(([0], m, [0])))
                lens = np.where(edges == -1)[0] - np.where(edges == 1)[0]
                runs = lens[lens >= min_run]
                out["doc_id"].append(int(d))
                out["n_samples"].append(len(smp))
                out["n_runs"].append(int(len(runs)))
                out["silent_in_runs"].append(int(runs.sum()))
                out["longest_run"].append(int(runs.max()) if len(runs) else 0)
            yield pd.DataFrame(out)

    return media.mapInPandas(stats, schema=AUDIO_SILENCE_SCHEMA)


def attach_audio(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with content = a synthesized REAL WAV
    payload per document. In production the binary column comes straight
    from the lake; this builder stands in for ingestion so the decode stage
    downstream runs on genuine RIFF bytes. mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_wav(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(build, schema="doc_id long, byte_len long, content binary")


def decode_wav_samples(data: bytes) -> tuple["object", int, int]:
    """Decode a RIFF/WAVE payload's PCM samples — pure struct walk + one
    ``np.frombuffer``, no codec. Returns (samples, sample_rate, channels)
    where samples is an int32 numpy array of interleaved frames scaled to
    the 16-bit range (8-bit unsigned PCM is centered and shifted << 8, the
    usual lossless embedding).

    Supported: integer PCM (format tag 1) at 8/16/24/32-bit, IEEE
    float32/float64 (tag 3, clamped to [-1, 1] and scaled to the int16
    range — the standard lossy projection, noted in the returned values'
    contract), and the G.711 companded codecs — A-law (tag 6) and mu-law
    (tag 7), expanded with the ITU reference integer arithmetic (no
    tables, exactly SQL-replayable) to the 16-bit linear domain. Any
    channel count; 24/32-bit integer samples reduce to their top 16 bits
    (the same high-byte projection the PNG 16-bit path uses). Chunk walk
    honors RIFF word alignment (odd chunk sizes carry a pad byte).
    Adaptive/entropy formats (IMA ADPCM, MP3-in-WAV, ...) raise
    NotImplementedError — those genuinely need a codec. Malformed
    containers raise ValueError."""
    import struct

    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt_tag = channels = sample_rate = bits = None
    pcm = None
    i = 12
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (csize,) = struct.unpack("<I", data[i + 4 : i + 8])
        body = data[i + 8 : i + 8 + csize]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt_tag, channels, sample_rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
        elif cid == b"data":
            if len(body) < csize:
                raise ValueError("truncated WAV data chunk")
            pcm = body
        i += 8 + csize + (csize & 1)
    if fmt_tag is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    if fmt_tag == 3:  # IEEE float PCM: clamp and project to int16 range
        if bits == 32:
            f = np.frombuffer(pcm[: len(pcm) & ~3], dtype="<f4")
        elif bits == 64:
            f = np.frombuffer(pcm[: len(pcm) & ~7], dtype="<f8")
        else:
            raise ValueError(f"IEEE-float WAV with {bits}-bit samples")
        smp = np.clip(
            np.round(np.clip(f, -1.0, 1.0) * 32767.0), -32768, 32767
        ).astype(np.int32)
    elif fmt_tag == 7:  # G.711 mu-law: ITU reference expansion, no tables
        u = (~np.frombuffer(pcm, dtype=np.uint8)).astype(np.int32) & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        smp = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int32)
    elif fmt_tag == 6:  # G.711 A-law: even-bit inversion then segment expand
        a = (np.frombuffer(pcm, dtype=np.uint8).astype(np.int32)) ^ 0x55
        seg = (a & 0x70) >> 4
        m16 = (a & 0x0F) << 4
        t = np.where(
            seg == 0,
            m16 + 8,
            np.where(seg == 1, m16 + 0x108, (m16 + 0x108) << np.maximum(seg - 1, 0)),
        )
        smp = np.where(a & 0x80, t, -t).astype(np.int32)
    elif fmt_tag != 1:
        raise NotImplementedError(
            f"WAV format tag {fmt_tag} gated: integer PCM (tag 1), IEEE "
            "float (tag 3), and G.711 A-law/mu-law (tags 6/7) decode here; "
            "adaptive/entropy WAV (ADPCM, MP3-in-WAV) needs a codec"
        )
    elif bits == 16:
        smp = np.frombuffer(pcm[: len(pcm) & ~1], dtype="<i2").astype(np.int32)
    elif bits == 8:
        smp = (np.frombuffer(pcm, dtype=np.uint8).astype(np.int32) - 128) << 8
    elif bits == 24:
        # little-endian 3-byte frames: assemble top 16 bits (b2<<8 | b1),
        # sign from the high byte — the high-bits projection
        b = np.frombuffer(pcm[: len(pcm) - len(pcm) % 3], dtype=np.uint8)
        b = b.reshape(-1, 3).astype(np.int32)
        smp = (b[:, 2].astype(np.int8).astype(np.int32) << 8) | b[:, 1]
    elif bits == 32:
        smp = np.frombuffer(pcm[: len(pcm) & ~3], dtype="<i4") >> 16
        smp = smp.astype(np.int32)
    else:
        raise NotImplementedError(
            f"{bits}-bit integer WAV PCM gated: 8/16/24/32-bit decode here"
        )
    return smp, int(sample_rate), int(channels)


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-asset amplitude statistics over DECODED PCM samples: peak,
    exact integer sum(|s|) and sum(s^2) (for mean/RMS downstream at any
    aggregation level without re-decoding), silence ratio inputs, and
    clipping count (samples pinned to the int16 rails). mapInPandas over
    the binary column — embarrassingly parallel, samples never leave the
    executor, output is one fixed-width row per asset."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "sample_rate", "peak_abs", "sum_abs",
                "sum_sq", "silent_samples", "clipped_samples",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                smp, sr, _ch = decode_wav_samples(bytes(content))
                a = np.abs(smp.astype(np.int64))
                out["doc_id"].append(int(d))
                out["n_samples"].append(len(smp))
                out["sample_rate"].append(sr)
                out["peak_abs"].append(int(a.max()) if len(a) else 0)
                out["sum_abs"].append(int(a.sum()))
                out["sum_sq"].append(int((a * a).sum()))
                out["silent_samples"].append(int((a < WAV_SILENCE_THRESHOLD).sum()))
                out["clipped_samples"].append(
                    int(((smp == -32768) | (smp == 32767)).sum())
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(stats, schema=AUDIO_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# MP4 sample tables (r9): extends the moov walk from mvhd/tkhd display
# metadata to the full per-track sample tables (ISO/IEC 14496-12 §8.6/8.7:
# stts sample deltas, stsz sizes, stsc sample-to-chunk runs, stco/co64
# chunk offsets) — frame counts, exact durations, and average bitrate are
# pure struct reads; no codec touches the mdat payload. Mirrors the
# reference's export-side metadata discipline (ref db/src/lib.rs reads
# container-level fields, never media samples).
# ---------------------------------------------------------------------------

MP4_TRACKS_SCHEMA = (
    "doc_id long, track_id long, handler string, timescale long, "
    "n_samples long, duration_ticks long, duration_ms long, "
    "total_bytes long, avg_bitrate_bps long, n_chunks long"
)


def _mp4_full_box(data: bytes, start: int, end: int, name: str):
    """(version, body_start) of a full box; raises on a truncated header."""
    if end - start < 4:
        raise ValueError(f"truncated MP4 {name} box")
    return data[start], start + 4


def parse_mp4_tracks(data: bytes) -> list[dict]:
    """Per-track sample-table statistics from an ISO-BMFF (MP4) container:
    one dict per ``trak`` with track_id (tkhd), handler + timescale (hdlr /
    mdhd), n_samples and total_bytes (stsz), duration_ticks = Σ count·delta
    over the stts runs (the EXACT media duration, not the rounded mvhd
    one), duration_ms, average bitrate (total_bytes·8·timescale //
    duration_ticks, exact integer), and n_chunks (stco/co64 entry count).

    Pure struct reads over the box tree — ``mdat`` is never touched.
    Cross-table consistency is verified: the stts run counts must sum to
    the stsz sample count, and the stsc run expansion over the stco chunk
    list must cover exactly the sample count; wrong or truncated boxes
    raise ValueError (a silent partial read would poison downstream
    aggregate stats)."""
    import struct

    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    tracks: list[dict] = []
    for btype, ps, pe in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _mp4_boxes(data, ps, pe):
            if ctype != b"trak":
                continue
            track_id = handler = timescale = media_duration = None
            stts = stsz = stsc = chunk_offsets = None
            for ttype, ts, te in _mp4_boxes(data, cs, ce):
                if ttype == b"tkhd":
                    version, b = _mp4_full_box(data, ts, te, "tkhd")
                    off = b + (16 if version == 1 else 8)
                    if off + 4 > te:
                        raise ValueError("truncated MP4 tkhd box")
                    (track_id,) = struct.unpack(">I", data[off : off + 4])
                elif ttype == b"mdia":
                    for mtype, ms, me in _mp4_boxes(data, ts, te):
                        if mtype == b"mdhd":
                            version, b = _mp4_full_box(data, ms, me, "mdhd")
                            if version == 1:
                                if b + 28 > me:
                                    raise ValueError("truncated MP4 mdhd box")
                                (timescale,) = struct.unpack(
                                    ">I", data[b + 16 : b + 20]
                                )
                                (media_duration,) = struct.unpack(
                                    ">Q", data[b + 20 : b + 28]
                                )
                            else:
                                if b + 16 > me:
                                    raise ValueError("truncated MP4 mdhd box")
                                timescale, media_duration = struct.unpack(
                                    ">II", data[b + 8 : b + 16]
                                )
                        elif mtype == b"hdlr":
                            _v, b = _mp4_full_box(data, ms, me, "hdlr")
                            if b + 8 > me:
                                raise ValueError("truncated MP4 hdlr box")
                            handler = data[b + 4 : b + 8].decode(
                                "ascii", "replace"
                            )
                        elif mtype == b"minf":
                            for ntype, ns, ne in _mp4_boxes(data, ms, me):
                                if ntype != b"stbl":
                                    continue
                                stts, stsz, stsc, chunk_offsets = (
                                    _mp4_sample_tables(data, ns, ne)
                                )
            if track_id is None:
                raise ValueError("MP4 trak missing tkhd")
            if stts is None or stsz is None:
                raise ValueError("MP4 trak missing stts or stsz")
            if stsc is None or chunk_offsets is None:
                raise ValueError("MP4 trak missing stsc or chunk offsets")
            n_samples, total_bytes, _sizes = stsz
            stts_samples = sum(c for c, _d in stts)
            if stts_samples != n_samples:
                raise ValueError(
                    f"MP4 stts/stsz disagree: {stts_samples} deltas vs "
                    f"{n_samples} sizes"
                )
            n_chunks = len(chunk_offsets)
            covered = _mp4_stsc_coverage(stsc, n_chunks)
            if covered != n_samples:
                raise ValueError(
                    f"MP4 stsc covers {covered} samples over {n_chunks} "
                    f"chunks, stsz has {n_samples}"
                )
            duration_ticks = sum(c * d for c, d in stts)
            if media_duration is not None and media_duration != duration_ticks:
                raise ValueError(
                    f"MP4 mdhd duration {media_duration} != stts total "
                    f"{duration_ticks}"
                )
            if timescale in (None, 0):
                raise ValueError("MP4 trak missing mdhd timescale")
            tracks.append(
                {
                    "track_id": int(track_id),
                    "handler": handler,
                    "timescale": int(timescale),
                    "n_samples": int(n_samples),
                    "duration_ticks": int(duration_ticks),
                    "duration_ms": int(duration_ticks * 1000 // timescale),
                    "total_bytes": int(total_bytes),
                    "avg_bitrate_bps": (
                        int(total_bytes * 8 * timescale // duration_ticks)
                        if duration_ticks
                        else None
                    ),
                    "n_chunks": int(n_chunks),
                }
            )
    if not tracks:
        raise ValueError("MP4 has no trak with sample tables")
    return tracks


def _mp4_sample_tables(data: bytes, start: int, end: int):
    """Decode the four sample-table boxes inside an ``stbl`` scope:
    stts → [(count, delta)], stsz → (n_samples, total_bytes, sizes) with
    uniform-size tables expanded, stsc → [(first_chunk,
    samples_per_chunk)], stco/co64 → [offsets]. Every entry count is
    bounds-checked against the box payload."""
    import struct

    stts = stsz = stsc = offsets = None
    for btype, bs, be in _mp4_boxes(data, start, end):
        if btype == b"stts":
            _v, b = _mp4_full_box(data, bs, be, "stts")
            (n,) = struct.unpack(">I", data[b : b + 4])
            if b + 4 + 8 * n > be:
                raise ValueError("truncated MP4 stts box")
            stts = [
                struct.unpack(">II", data[b + 4 + 8 * k : b + 12 + 8 * k])
                for k in range(n)
            ]
        elif btype == b"stsz":
            _v, b = _mp4_full_box(data, bs, be, "stsz")
            if b + 8 > be:
                raise ValueError("truncated MP4 stsz box")
            uniform, count = struct.unpack(">II", data[b : b + 8])
            if uniform:
                sizes = [uniform] * count
            else:
                if b + 8 + 4 * count > be:
                    raise ValueError("truncated MP4 stsz box")
                sizes = list(
                    struct.unpack(f">{count}I", data[b + 8 : b + 8 + 4 * count])
                )
            stsz = (count, sum(sizes), sizes)
        elif btype == b"stsc":
            _v, b = _mp4_full_box(data, bs, be, "stsc")
            (n,) = struct.unpack(">I", data[b : b + 4])
            if b + 4 + 12 * n > be:
                raise ValueError("truncated MP4 stsc box")
            stsc = [
                struct.unpack(
                    ">II", data[b + 4 + 12 * k : b + 12 + 12 * k]
                )
                for k in range(n)
            ]
        elif btype in (b"stco", b"co64"):
            _v, b = _mp4_full_box(data, bs, be, btype.decode())
            (n,) = struct.unpack(">I", data[b : b + 4])
            width = 4 if btype == b"stco" else 8
            if b + 4 + width * n > be:
                raise ValueError(f"truncated MP4 {btype.decode()} box")
            fmt = ">I" if btype == b"stco" else ">Q"
            offsets = [
                struct.unpack(
                    fmt, data[b + 4 + width * k : b + 4 + width * (k + 1)]
                )[0]
                for k in range(n)
            ]
    return stts, stsz, stsc, offsets


MP4_SAMPLES_SCHEMA = (
    "doc_id long, track_id long, sample_no long, chunk_no long, "
    "offset long, size long"
)


def mp4_sample_offsets(data: bytes) -> list[dict]:
    """Per-sample byte ranges from an ISO-BMFF container: one dict per
    (track, sample) with its 1-based sample_no, owning chunk, absolute
    file offset, and byte size — the random-access READ PLAN a
    frame-extraction stage needs to fetch samples without scanning mdat.
    Offsets come the real way: stsc run expansion assigns samples to
    chunks, the chunk's stco/co64 entry anchors it, and the within-chunk
    prefix sum of stsz sizes positions the sample. Same validation and
    raise-on-malformed contract as :func:`parse_mp4_tracks`."""
    import struct

    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    out: list[dict] = []
    for btype, ps, pe in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _mp4_boxes(data, ps, pe):
            if ctype != b"trak":
                continue
            track_id = None
            tables = None
            for ttype, ts, te in _mp4_boxes(data, cs, ce):
                if ttype == b"tkhd":
                    version, b = _mp4_full_box(data, ts, te, "tkhd")
                    off = b + (16 if version == 1 else 8)
                    if off + 4 > te:
                        raise ValueError("truncated MP4 tkhd box")
                    (track_id,) = struct.unpack(">I", data[off : off + 4])
                elif ttype == b"mdia":
                    for mtype, ms, me in _mp4_boxes(data, ts, te):
                        if mtype != b"minf":
                            continue
                        for ntype, ns, ne in _mp4_boxes(data, ms, me):
                            if ntype == b"stbl":
                                tables = _mp4_sample_tables(data, ns, ne)
            if track_id is None:
                raise ValueError("MP4 trak missing tkhd")
            if tables is None:
                raise ValueError("MP4 trak missing sample tables")
            stts, stsz_triple, stsc, chunk_offsets = tables
            if stts is None or stsz_triple is None:
                raise ValueError("MP4 trak missing stts or stsz")
            if stsc is None or chunk_offsets is None:
                raise ValueError("MP4 trak missing stsc or chunk offsets")
            n_samples, _total, sizes = stsz_triple
            n_chunks = len(chunk_offsets)
            if _mp4_stsc_coverage(stsc, n_chunks) != n_samples:
                raise ValueError("MP4 stsc does not cover the sample count")
            sample_no = 0
            for k, (first, per) in enumerate(stsc):
                nxt = stsc[k + 1][0] if k + 1 < len(stsc) else n_chunks + 1
                for chunk in range(first, nxt):
                    base = chunk_offsets[chunk - 1]
                    within = 0
                    for _j in range(per):
                        size = sizes[sample_no]
                        out.append(
                            {
                                "track_id": int(track_id),
                                "sample_no": sample_no + 1,
                                "chunk_no": chunk,
                                "offset": int(base + within),
                                "size": int(size),
                            }
                        )
                        within += size
                        sample_no += 1
    if not out:
        raise ValueError("MP4 has no samples")
    return out


def mp4_sample_table(media: DataFrame) -> DataFrame:
    """One row per (asset, track, sample) with the byte range of
    :func:`mp4_sample_offsets` — the fetch plan for sample-level media
    processing (frame decode, packet analysis) that reads only the bytes
    it needs. mapInPandas; fan-out is the sample count, linear in media
    duration, never quadratic."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for s in mp4_sample_offsets(bytes(content)):
                    rows.append({"doc_id": int(d), **s})
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "track_id", "sample_no", "chunk_no",
                    "offset", "size",
                ],
            )

    return media.mapInPandas(expand, schema=MP4_SAMPLES_SCHEMA)


def _mp4_stsc_coverage(stsc, n_chunks: int) -> int:
    """Total samples the stsc runs assign across ``n_chunks`` chunks —
    each entry (first_chunk, samples_per_chunk) applies from its
    first_chunk (1-based) until the next entry's. Out-of-order or
    out-of-range first_chunk values raise."""
    total = 0
    for k, (first, per) in enumerate(stsc):
        if first < 1 or first > n_chunks:
            raise ValueError(f"MP4 stsc first_chunk {first} out of range")
        nxt = stsc[k + 1][0] if k + 1 < len(stsc) else n_chunks + 1
        if nxt <= first:
            raise ValueError("MP4 stsc entries not strictly increasing")
        total += (nxt - first) * per
    return total


#: synthesized-MP4 arithmetic (shared with the oracle): track t of doc d
#: with byte_len L has timescale 600t + (L%5)·120, n = 16 + (L+31t) % 97
#: samples, stts runs (n//2 at delta 100+L%11, rest at delta+50), sample i
#: sized 200 + (d + i·t) % 800, chunks of 10 samples (last partial).
_MP4_SAMPLES_PER_CHUNK = 10


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + btype + payload


def synth_mp4(doc_id: int, byte_len: int) -> bytes:
    """A genuine ISO-BMFF container whose sample tables derive
    deterministically from (doc_id, byte_len): always a 'vide' track 1;
    odd doc_ids add a 'soun' track 2 whose chunk offsets use co64 (the
    64-bit variant, so both offset widths are exercised). The mdat is a
    stub — sample-table parsing must never need it."""
    import struct

    traks = []
    track_ids = (1, 2) if doc_id % 2 else (1,)
    for t in track_ids:
        timescale = 600 * t + (byte_len % 5) * 120
        n = 16 + (byte_len + 31 * t) % 97
        d1 = 100 + byte_len % 11
        n1 = n // 2
        stts_entries = [(n1, d1), (n - n1, d1 + 50)]
        duration = n1 * d1 + (n - n1) * (d1 + 50)
        sizes = [200 + (doc_id + i * t) % 800 for i in range(n)]
        n_chunks = -(-n // _MP4_SAMPLES_PER_CHUNK)
        rem = n % _MP4_SAMPLES_PER_CHUNK
        stsc_entries = [(1, _MP4_SAMPLES_PER_CHUNK, 1)]
        if rem and n_chunks > 1:
            stsc_entries.append((n_chunks, rem, 1))
        elif n_chunks == 1:
            stsc_entries = [(1, n, 1)]
        offsets, pos, k = [], 4096 * t, 0
        for c in range(n_chunks):
            offsets.append(pos)
            per = (
                rem
                if (rem and c == n_chunks - 1)
                else min(_MP4_SAMPLES_PER_CHUNK, n)
            )
            pos += sum(sizes[k : k + per])
            k += per
        tkhd = (
            struct.pack(">I", 0)  # version/flags
            + struct.pack(">IIII", 0, 0, t, 0)
            + struct.pack(">I", duration)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + b"\x00" * 36
            + struct.pack(">II", 0, 0)
        )
        mdhd = struct.pack(">IIIIIHH", 0, 0, 0, timescale, duration, 0x55C4, 0)
        handler = b"vide" if t == 1 else b"soun"
        hdlr = (
            struct.pack(">II", 0, 0) + handler + b"\x00" * 12 + b"trk\x00"
        )
        stts = struct.pack(">II", 0, len(stts_entries)) + b"".join(
            struct.pack(">II", c, d) for c, d in stts_entries
        )
        stsz = struct.pack(">III", 0, 0, n) + struct.pack(f">{n}I", *sizes)
        stsc = struct.pack(">II", 0, len(stsc_entries)) + b"".join(
            struct.pack(">III", f, s, i) for f, s, i in stsc_entries
        )
        if t == 1:
            co = _mp4_box(
                b"stco",
                struct.pack(">II", 0, n_chunks)
                + struct.pack(f">{n_chunks}I", *offsets),
            )
        else:
            co = _mp4_box(
                b"co64",
                struct.pack(">II", 0, n_chunks)
                + struct.pack(f">{n_chunks}Q", *offsets),
            )
        stbl = (
            _mp4_box(b"stts", stts)
            + _mp4_box(b"stsz", stsz)
            + _mp4_box(b"stsc", stsc)
            + co
        )
        minf = _mp4_box(b"stbl", stbl)
        mdia = (
            _mp4_box(b"mdhd", mdhd)
            + _mp4_box(b"hdlr", hdlr)
            + _mp4_box(b"minf", minf)
        )
        traks.append(
            _mp4_box(
                b"trak", _mp4_box(b"tkhd", tkhd) + _mp4_box(b"mdia", mdia)
            )
        )
    mvhd = struct.pack(">IIIII", 0, 0, 0, 1000, 0) + b"\x00" * 80
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + b"".join(traks))
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    return ftyp + moov + _mp4_box(b"mdat", b"\x00" * 16)


def attach_mp4(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with content = a synthesized REAL MP4
    container per document (the ingestion stand-in, like
    :func:`attach_audio`). mapInPandas; the only movement is the guarded
    pre-spread of the narrow (doc_id, byte_len) source — MP4 synthesis +
    the downstream per-sample expansion are the mm family's heaviest
    Python stages, and a one-file scan would otherwise serialize them
    through a single worker (the llm/dedup one-split trap). WIDTH-CAPPED
    at 4: Python stages pay a fixed per-partition worker/Arrow overhead
    per stage, so full 32-way spread measured 8× the CPU-seconds of
    serial for no wall gain over modest widths (see spread_for_explode's
    width note); 4-way halves the serial wall at CPU parity. On a real
    many-file media lake the guard sees a wide scan and moves nothing."""
    src = _spread_narrow(
        docs.select(
            "doc_id",
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len"),
        ),
        width=4,
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_mp4(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


def mp4_track_stats(media: DataFrame) -> DataFrame:
    """One row per (asset, track) with the sample-table statistics of
    :func:`parse_mp4_tracks` — per-track frame count, exact tick duration,
    total sample bytes, average bitrate, chunk count. mapInPandas over the
    binary column: embarrassingly parallel, bounded fan-out (tracks per
    asset), the mdat payload is never decoded."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for trk in parse_mp4_tracks(bytes(content)):
                    rows.append({"doc_id": int(d), **trk})
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "track_id", "handler", "timescale",
                    "n_samples", "duration_ticks", "duration_ms",
                    "total_bytes", "avg_bitrate_bps", "n_chunks",
                ],
            )

    return media.mapInPandas(stats, schema=MP4_TRACKS_SCHEMA)


# ---------------------------------------------------------------------------
# Baseline-JPEG luma decode (r8): closes the last image-pixel gate. Pure
# Python/numpy implementation of the PUBLIC ITU-T T.81 baseline-sequential
# process: marker walk, canonical Huffman entropy decode, dequantize,
# de-zigzag, 8x8 IDCT, level shift. No codec library.
# ---------------------------------------------------------------------------

#: zigzag scan order (T.81 figure A.6): index k in the entropy stream maps
#: to _ZIGZAG[k] in row-major 8x8 order
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _build_huffman(counts, symbols):
    """(length, code) -> symbol from a DHT segment's BITS/HUFFVAL lists —
    the canonical-code construction of T.81 annex C."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over a de-stuffed entropy segment."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("JPEG entropy stream truncated")
        b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _idct_matrix():
    import numpy as np

    x = np.arange(8)
    a = np.cos((2 * x[:, None] + 1) * x[None, :] * math.pi / 16) / 2.0
    a[:, 0] /= math.sqrt(2)
    return a  # f = A @ F @ A.T


def _decode_block(reader, dc_tab, ac_tab, q, pred: int):
    """One 8x8 block: Huffman-decode the DC diff + AC run-lengths into
    zigzag order, dequantize. Returns (zigzag coefficient vector, new DC
    predictor)."""
    import numpy as np

    zz = np.zeros(64, dtype=np.int64)
    t = reader.read_huff(dc_tab)
    if t > 11:
        raise ValueError(f"invalid JPEG DC category {t}")
    pred += _extend(reader.read_bits(t), t)
    zz[0] = pred * q[0]
    k = 1
    while k < 64:
        rs = reader.read_huff(ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        zz[k] = _extend(reader.read_bits(s), s) * q[k]
        k += 1
    return zz, pred


def _jpeg_entropy(data: bytes, i: int):
    """De-stuff an entropy-coded segment starting at ``i``: 0xFF00 unstuffs
    to 0xFF, RSTn markers split segments (restart boundaries), any other
    marker terminates. Returns (segments, position of the terminator)."""
    segments: list[bytes] = []
    cur = bytearray()
    j = i
    while j < len(data):
        b = data[j]
        if b != 0xFF:
            cur.append(b)
            j += 1
            continue
        nxt = data[j + 1] if j + 1 < len(data) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            j += 2
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
            j += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, j


def _jpeg_idct_plane(coeffs, q, n_by, n_bx, h, w):
    """Dequantize + IDCT a component's zigzag coefficient grid into a
    cropped uint8 plane."""
    import numpy as np

    A = _idct_matrix()
    inv_zig = np.argsort(np.asarray(_ZIGZAG))
    plane = np.zeros((n_by * 8, n_bx * 8), dtype=np.uint8)
    for by in range(n_by):
        for bx in range(n_bx):
            zz = coeffs[by, bx] * q
            coef = zz[inv_zig].reshape(8, 8).astype(np.float64)
            px = np.clip(np.round(A @ coef @ A.T) + 128, 0, 255).astype(np.uint8)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
    return plane[:h, :w]


class _ScanReader:
    """Bit reader over a scan's restart-delimited segments: `restart()`
    advances to the next RST segment and the caller resets its predictors."""

    def __init__(self, segments):
        self.segments = segments
        self.idx = 0
        self.reader = _BitReader(segments[0])

    def restart(self):
        self.idx += 1
        if self.idx >= len(self.segments):
            raise ValueError("JPEG entropy stream truncated at restart")
        self.reader = _BitReader(self.segments[self.idx])


def _jpeg_decode_dc_scan(scan, frame_comps, coeffs, hmax, vmax, mcus_x,
                         mcus_y, comp_blocks, dri):
    """A DC scan (Ss=0): first pass (Ah=0) Huffman-decodes predictions into
    bit position Al and up; refinement (Ah>0) appends one raw bit at Al per
    block. Interleaved (multi-component MCU traversal) or single-component."""
    comps_in_scan, _ss, _se, ah, al, segments, _dri = scan
    sr = _ScanReader(segments)
    preds = {ci: 0 for ci, _dc, _ac in comps_in_scan}
    unit = 0
    interleaved = len(comps_in_scan) > 1

    def decode_block(ci, dc_tab, by, bx):
        r = sr.reader
        if ah == 0:
            t = r.read_huff(dc_tab)
            if t > 11:
                raise ValueError(f"invalid JPEG DC category {t}")
            preds[ci] += _extend(r.read_bits(t), t)
            coeffs[ci][by, bx, 0] = preds[ci] << al
        else:
            coeffs[ci][by, bx, 0] |= r.read_bits(1) << al

    if interleaved:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if dri and unit and unit % dri == 0:
                    sr.restart()
                    preds = {ci: 0 for ci, _dc, _ac in comps_in_scan}
                for ci, dc_tab, _ac_tab in comps_in_scan:
                    _cid, ch, cv, _tq = frame_comps[ci]
                    for by in range(cv):
                        for bx in range(ch):
                            decode_block(ci, dc_tab, my * cv + by, mx * ch + bx)
                unit += 1
    else:
        ci, dc_tab, _ac_tab = comps_in_scan[0]
        n_by, n_bx = comp_blocks[ci]
        for by in range(n_by):
            for bx in range(n_bx):
                if dri and unit and unit % dri == 0:
                    sr.restart()
                    preds = {ci: 0}
                decode_block(ci, dc_tab, by, bx)
                unit += 1


def _jpeg_decode_ac_scan(scan, coeffs_c, n_by, n_bx, dri):
    """An AC scan (always single-component, spectral band Ss..Se).

    First pass (Ah=0): run-length/size symbols with EOB-run extension
    (EOBn: 2^r + r extra bits blocks end-of-band at once), values scaled
    << Al. Refinement (Ah>0, T.81 G.1.2.3): each symbol inserts at most
    one newly-significant ±1<<Al coefficient after skipping r zero-HISTORY
    positions, emitting one correction bit for every already-nonzero
    coefficient passed (or remaining, when an EOB run covers the block)."""
    comps_in_scan, ss, se, ah, al, segments, _dri = scan
    _ci, _dc_tab, ac_tab = comps_in_scan[0]
    sr = _ScanReader(segments)
    eobrun = 0
    unit = 0

    def refine_nonzero(zz, k):
        # correction bit for a coefficient that is already nonzero
        if sr.reader.read_bits(1) and not (abs(int(zz[k])) & (1 << al)):
            zz[k] += (1 << al) if zz[k] > 0 else -(1 << al)

    for by in range(n_by):
        for bx in range(n_bx):
            if dri and unit and unit % dri == 0:
                sr.restart()
                eobrun = 0
            unit += 1
            zz = coeffs_c[by, bx]
            if eobrun > 0:
                eobrun -= 1
                if ah != 0:  # EOB-covered blocks still carry correction bits
                    for k in range(ss, se + 1):
                        if zz[k]:
                            refine_nonzero(zz, k)
                continue
            r = sr.reader
            if ah == 0:  # first pass for this band
                k = ss
                while k <= se:
                    rs = r.read_huff(ac_tab)
                    rr, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if rr == 15:
                            k += 16
                            continue
                        eobrun = (1 << rr) - 1
                        if rr:
                            eobrun += r.read_bits(rr)
                        break
                    k += rr
                    if k > se:
                        raise ValueError("JPEG AC run past end of band")
                    zz[k] = _extend(r.read_bits(s), s) << al
                    k += 1
            else:  # refinement pass
                k = ss
                while k <= se:
                    rs = r.read_huff(ac_tab)
                    rr, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if rr < 15:  # EOBn: refine the rest, then run
                            eobrun = (1 << rr) - 1
                            if rr:
                                eobrun += r.read_bits(rr)
                            while k <= se:
                                if zz[k]:
                                    refine_nonzero(zz, k)
                                k += 1
                            break
                        newval = 0  # ZRL: skip 16 zero-history slots
                    else:
                        if s != 1:
                            raise ValueError(
                                "JPEG AC refinement size must be 1"
                            )
                        newval = (1 << al) if r.read_bits(1) else -(1 << al)
                    # advance over the band: correction bits for nonzeros,
                    # count down rr zero-history positions
                    while k <= se:
                        if zz[k]:
                            refine_nonzero(zz, k)
                        else:
                            if rr == 0:
                                break
                            rr -= 1
                        k += 1
                    if s:
                        if k > se:
                            raise ValueError(
                                "JPEG AC refinement ran past the band"
                            )
                        zz[k] = newval
                    k += 1


def decode_jpeg_luma(data: bytes) -> "object":
    """Decode a JPEG payload's LUMA plane to a numpy uint8 grid (height x
    width) with no codec library: marker walk, canonical DHT Huffman
    decode, DQT dequantization, de-zigzag, matrix 8x8 IDCT, +128 level
    shift.

    Supported processes: BASELINE/extended sequential (SOF0/SOF1, one
    interleaved scan) and PROGRESSIVE Huffman (SOF2) with both spectral
    selection and successive approximation — interleaved or single-
    component DC scans, per-band AC scans with EOB runs, DC/AC refinement
    passes, restart intervals, tables redefined between scans. 8-bit,
    grayscale or YCbCr with any sampling where luma carries the max
    factors. Luma-only economics: in sequential scans, chroma blocks are
    entropy-decoded (the interleaved bitstream demands it) but skip the
    IDCT; in progressive scans, CHROMA AC SCANS ARE SKIPPED WHOLESALE —
    their extent is marker-delimited, so a luma pipeline pays zero decode
    work for them. Gated with NotImplementedError: arithmetic coding
    (SOF9+), lossless/differential/hierarchical, 12-bit precision,
    multi-scan sequential. Malformed streams raise ValueError."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qtabs: dict[int, "object"] = {}
    hufftabs: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    restart_interval = 0
    scans = []  # (comps_in_scan, Ss, Se, Ah, Al, segments, dri)
    i = 2
    while i + 2 <= len(data):
        if data[i] != 0xFF:
            raise ValueError("JPEG marker expected")
        # T.81 B.1.1.2: any marker may be preceded by a run of 0xFF fill
        # bytes — skip them (the GIF walker tolerates fill the same way).
        while i + 1 < len(data) and data[i + 1] == 0xFF:
            i += 1
        if i + 2 > len(data):
            raise ValueError("truncated JPEG marker")
        marker = data[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RST outside a scan: standalone, no length field
            i += 2
            continue
        if i + 4 > len(data):
            raise ValueError("truncated JPEG marker segment")
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        body = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                j += 1
                if pq == 0:
                    q = np.frombuffer(body[j : j + 64], dtype=np.uint8).astype(
                        np.int64
                    )
                    j += 64
                else:
                    q = np.frombuffer(body[j : j + 128], dtype=">u2").astype(
                        np.int64
                    )
                    j += 128
                if len(q) < 64:
                    raise ValueError("truncated JPEG DQT")
                qtabs[tq] = q  # zigzag order, like the stream
        elif marker == 0xC4:  # DHT (may redefine tables between scans)
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                counts = list(body[j + 1 : j + 17])
                n = sum(counts)
                symbols = list(body[j + 17 : j + 17 + n])
                if len(symbols) < n:
                    raise ValueError("truncated JPEG DHT")
                hufftabs[(tc, th)] = _build_huffman(counts, symbols)
                j += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit JPEG gated: 8-bit decodes here"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} gated: lossless/differential/"
                "arithmetic processes; sequential and progressive Huffman "
                "decode here"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            frame_ids = [c[0] for c in frame[2]]
            comps_in_scan = []
            for c in range(ns):
                cs, tsel = body[1 + 2 * c], body[2 + 2 * c]
                if cs not in frame_ids:
                    raise ValueError(f"JPEG scan names unknown component {cs}")
                ci = frame_ids.index(cs)
                comps_in_scan.append((ci, tsel >> 4, tsel & 0x0F))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            segments, i = _jpeg_entropy(data, i + 2 + seg_len)
            # snapshot the table objects this scan needs NOW: later DHTs
            # may redefine the slots
            resolved = []
            for ci, td, ta in comps_in_scan:
                resolved.append((ci, hufftabs.get((0, td)), hufftabs.get((1, ta))))
            scans.append(
                (resolved, ss, se, ahal >> 4, ahal & 0x0F, segments,
                 restart_interval)
            )
            continue  # i already advanced past the entropy data
        # APPn/COM/unknown: skip
        i += 2 + seg_len
    if frame is None or not scans:
        raise ValueError("JPEG missing SOF or SOS")
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("empty JPEG frame")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if comps[0][1] != hmax or comps[0][2] != vmax:
        raise NotImplementedError(
            "JPEG with subsampled LUMA gated: component 1 must carry the "
            "max sampling factors (every 4:4:4/4:2:2/4:2:0 file does)"
        )
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if comps[0][3] not in qtabs:
        raise ValueError(f"JPEG missing quant table {comps[0][3]}")
    q_luma = qtabs[comps[0][3]]
    # luma's true block dims (luma carries max factors, so its pixel dims
    # are the frame's)
    luma_by, luma_bx = -(-h // 8), -(-w // 8)

    if not progressive:
        if len(scans) != 1 or len(scans[0][0]) != len(comps):
            raise NotImplementedError(
                "multi-scan sequential JPEG gated: one interleaved scan "
                "decodes (progressive multi-scan is supported via SOF2)"
            )
        return _jpeg_decode_sequential(
            frame, scans[0], qtabs, hmax, vmax, mcus_x, mcus_y, np
        )

    # progressive: accumulate quantized coefficients across scans
    coeffs = [
        np.zeros((mcus_y * cv, mcus_x * ch, 64), dtype=np.int64)
        for (_cid, ch, cv, _tq) in comps
    ]
    comp_blocks = []
    for (_cid, ch, cv, _tq) in comps:
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        comp_blocks.append((-(-chh // 8), -(-cw // 8)))
    for scan in scans:
        comps_in_scan, ss, se, ah, al, segments, dri = scan
        if ss == 0:  # DC scan
            if se != 0:
                raise ValueError("JPEG DC scan with Se != 0")
            if ah == 0 and any(
                dc is None for _ci, dc, _ac in comps_in_scan
            ):
                raise ValueError("JPEG missing Huffman table")
            _jpeg_decode_dc_scan(
                scan, comps, coeffs, hmax, vmax, mcus_x, mcus_y,
                comp_blocks, dri,
            )
        else:  # AC scan: single component by spec
            if len(comps_in_scan) != 1:
                raise ValueError("JPEG AC scan must be single-component")
            ci = comps_in_scan[0][0]
            if ci != 0:
                continue  # chroma AC scan: marker-delimited, zero decode work
            if comps_in_scan[0][2] is None:
                raise ValueError("JPEG missing Huffman table")
            n_by, n_bx = comp_blocks[ci]
            _jpeg_decode_ac_scan(scan, coeffs[ci], n_by, n_bx, dri)
    return _jpeg_idct_plane(coeffs[0], q_luma, luma_by, luma_bx, h, w)


def _jpeg_decode_sequential(frame, scan, qtabs, hmax, vmax, mcus_x, mcus_y, np):
    """The baseline path: one interleaved scan, DC+AC per block; chroma
    blocks entropy-decoded (the bitstream demands it) but never IDCTed."""
    h, w, comps = frame
    comps_in_scan, _ss, _se, _ah, _al, segments, dri = scan
    setup = []
    for (ci, dc_tab, ac_tab) in comps_in_scan:
        _cid, ch, cv, tq = comps[ci]
        if tq not in qtabs:
            raise ValueError(f"JPEG missing quant table {tq}")
        if dc_tab is None or ac_tab is None:
            raise ValueError("JPEG missing Huffman table")
        setup.append((ci, ch, cv, qtabs[tq], dc_tab, ac_tab))
    plane = np.zeros((mcus_y * vmax * 8, mcus_x * hmax * 8), dtype=np.uint8)
    A = _idct_matrix()
    inv_zig = np.argsort(np.asarray(_ZIGZAG))
    preds = [0] * len(comps)
    sr = _ScanReader(segments)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_count and mcu_count % dri == 0:
                sr.restart()
                preds = [0] * len(comps)
            for (ci, ch, cv, q, dct, act) in setup:
                for by in range(cv):
                    for bx in range(ch):
                        zz, preds[ci] = _decode_block(
                            sr.reader, dct, act, q, preds[ci]
                        )
                        if ci != 0:
                            continue  # chroma: bitstream consumed, no IDCT
                        coef = zz[inv_zig].reshape(8, 8).astype(np.float64)
                        px = A @ coef @ A.T
                        px = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
                        y0 = (my * vmax + by) * 8
                        x0 = (mx * hmax + bx) * 8
                        plane[y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_count += 1
    return plane[:h, :w]


# ---------------------------------------------------------------------------
# BMP (Windows DIB): the simplest real raster container — BITMAPFILEHEADER +
# BITMAPINFOHEADER + uncompressed 24-bit BGR rows, 4-byte-aligned, normally
# stored BOTTOM-UP (positive biHeight) or top-down (negative biHeight).
# Synthesis/decode follow the WAV/MP4 discipline: genuine container bytes,
# exact-integer stats the DuckDB oracle replays arithmetically — a stride,
# BGR-order, or row-orientation bug breaks the value hash.
# ---------------------------------------------------------------------------

_BMP_W_BASE, _BMP_W_MOD = 4, 29   # width 4..32 → stride padding 0..3 varies
_BMP_H_BASE, _BMP_H_MOD = 3, 17   # height 3..19


def synth_bmp(doc_id: int, byte_len: int) -> bytes:
    """A genuine 24-bit uncompressed BMP whose pixels derive from integer
    arithmetic over (doc_id, x, y): channel c at (x, y) is
    ``(k_c*doc_id + a_c*x + b_c*y) % 256`` with (k,a,b) = (1,3,7) for B,
    (2,5,11) for G, (3,13,17) for R, y counted from the TOP. Even doc_ids
    store rows bottom-up (positive biHeight, the common layout), odd ones
    top-down (negative biHeight) — decoders must honor both. Row stride is
    padded to 4 bytes with 0xAA sentinels so a stride bug reads garbage,
    not zeros."""
    import struct

    import numpy as np

    w = _BMP_W_BASE + byte_len % _BMP_W_MOD
    h = _BMP_H_BASE + byte_len % _BMP_H_MOD
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    b = (1 * doc_id + 3 * x + 7 * y) % 256
    g = (2 * doc_id + 5 * x + 11 * y) % 256
    r = (3 * doc_id + 13 * x + 17 * y) % 256
    bgr = np.stack([b, g, r], axis=2).astype(np.uint8)  # (h, w, 3), y=0 top
    stride = ((w * 3 + 3) // 4) * 4
    pad = stride - w * 3
    bottom_up = doc_id % 2 == 0
    rows = bgr[::-1] if bottom_up else bgr
    body = b"".join(row.tobytes() + b"\xaa" * pad for row in rows)
    bi_height = h if bottom_up else -h
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, bi_height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    off = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return file_hdr + info + body


def decode_bmp_pixels(data: bytes):
    """Decode an uncompressed 24-bit BMP to an RGB numpy array of shape
    (height, width, 3) with row 0 at the TOP regardless of stored
    orientation. Pure struct + numpy — no codec dependency. Raises
    ValueError on a wrong magic, non-BITMAPINFOHEADER DIB, unsupported
    bit depth/compression, or a truncated pixel array."""
    import struct

    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("BMP: bad magic/truncated header")
    off = struct.unpack_from("<I", data, 10)[0]
    bi_size, w, h_signed = struct.unpack_from("<Iii", data, 14)
    if bi_size < 40:
        raise ValueError(f"BMP: unsupported DIB header size {bi_size}")
    planes, bpp, comp = struct.unpack_from("<HHI", data, 26)
    if bpp != 24 or comp != 0:
        raise ValueError(f"BMP: unsupported bpp={bpp} compression={comp}")
    if w <= 0 or h_signed == 0:
        raise ValueError("BMP: non-positive dimensions")
    h = abs(h_signed)
    stride = ((w * 3 + 3) // 4) * 4
    if len(data) < off + stride * h:
        raise ValueError("BMP: truncated pixel array")
    arr = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
    rows = arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage → flip to top-first
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def attach_bmp(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with content = a synthesized REAL BMP per
    document (:func:`synth_bmp`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_bmp(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


BMP_STATS_SCHEMA = (
    "doc_id long, width long, height long, sum_r long, sum_g long, "
    "sum_b long, peak_rgb long"
)


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """Per-image channel statistics over DECODED pixels: exact integer
    channel sums and the peak r+g+b — the normalization/exposure pass of
    an image-curation pipeline. One decode + three vectorized sums per
    asset inside mapInPandas; pixels never leave the executor."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
                "peak_rgb",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                rgb = decode_bmp_pixels(bytes(content)).astype(np.int64)
                out["doc_id"].append(int(d))
                out["height"].append(rgb.shape[0])
                out["width"].append(rgb.shape[1])
                out["sum_r"].append(int(rgb[:, :, 0].sum()))
                out["sum_g"].append(int(rgb[:, :, 1].sum()))
                out["sum_b"].append(int(rgb[:, :, 2].sum()))
                out["peak_rgb"].append(int(rgb.sum(axis=2).max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(stats, schema=BMP_STATS_SCHEMA)


def synth_wav_g711(doc_id: int, byte_len: int) -> bytes:
    """A genuine RIFF/WAVE container carrying G.711 companded audio: even
    doc_ids use mu-law (format tag 7), odd A-law (tag 6); 8-bit codes
    derive from the same integer arithmetic as :func:`synth_wav` reduced
    mod 256, so the expanded linear samples are SQL-replayable through the
    ITU reference formulas."""
    import struct

    import numpy as np

    n = _WAV_N_BASE + byte_len % _WAV_N_MOD
    sr = 8000 + (byte_len % 37) * 1000
    i = np.arange(n, dtype=np.int64)
    codes = ((doc_id * _WAV_A + i * _WAV_B) % 256).astype(np.uint8)
    tag = 7 if doc_id % 2 == 0 else 6
    fmt = struct.pack("<HHIIHH", tag, 1, sr, sr, 1, 8)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", n) + codes.tobytes()
        + (b"\x00" if n & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def attach_audio_g711(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with G.711-companded WAV payloads
    (:func:`synth_wav_g711`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_wav_g711(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


G711_STATS_SCHEMA = (
    "doc_id long, law string, n_samples long, peak_abs long, sum_abs long, "
    "sum_sq long"
)


def audio_g711_stats(media: DataFrame) -> DataFrame:
    """Amplitude statistics over G.711-EXPANDED linear samples: the decode
    runs the ITU mu-law/A-law integer expansion inside
    :func:`decode_wav_samples` (format tags 7/6), stats are exact
    integers. One mapInPandas stage; samples never leave the executor."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import struct

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "law", "n_samples", "peak_abs", "sum_abs", "sum_sq",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(content)
                smp, _sr, _ch = decode_wav_samples(data)
                # law comes from the container's fmt tag, not doc parity —
                # a wrong synth/decode pairing would surface as a hash break
                tag = struct.unpack_from("<H", data, 20)[0]
                s64 = smp.astype(np.int64)
                out["doc_id"].append(int(d))
                out["law"].append("mulaw" if tag == 7 else "alaw")
                out["n_samples"].append(len(smp))
                out["peak_abs"].append(int(np.abs(s64).max()))
                out["sum_abs"].append(int(np.abs(s64).sum()))
                out["sum_sq"].append(int((s64 * s64).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(stats, schema=G711_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# TIFF (baseline, both byte orders): header + linked IFD chain, one strip of
# 8-bit grayscale per page. Exercises the two classic TIFF parser gotchas:
# byte order applies to EVERY integer (including tag/type/count fields), and
# values <= 4 bytes live LEFT-JUSTIFIED inside the entry's value field (so a
# SHORT in a big-endian file occupies bytes 0-1, not 2-3).
# ---------------------------------------------------------------------------

_TIFF_SHORT, _TIFF_LONG = 3, 4


def synth_tiff(doc_id: int, byte_len: int) -> bytes:
    """A genuine multi-page baseline TIFF: 1 + doc_id % 3 pages, page p
    sized w = 4 + (byte_len + 13p) % 29, h = 3 + (byte_len + 7p) % 17,
    8-bit gray, one strip of zeros per page. Even doc_ids are
    little-endian ('II'), odd big-endian ('MM')."""
    import struct

    bo = ">" if doc_id % 2 else "<"
    n_pages = 1 + doc_id % 3
    dims = [
        (4 + (byte_len + 13 * p) % 29, 3 + (byte_len + 7 * p) % 17)
        for p in range(n_pages)
    ]
    ifd_size = 2 + 8 * 12 + 4
    ifd_off = [8 + i * ifd_size for i in range(n_pages)]
    strip_off, pos = [], 8 + n_pages * ifd_size
    for w, h in dims:
        strip_off.append(pos)
        pos += w * h

    def entry(tag: int, typ: int, value: int) -> bytes:
        head = struct.pack(f"{bo}HHI", tag, typ, 1)
        if typ == _TIFF_SHORT:  # left-justified in the 4-byte field
            return head + struct.pack(f"{bo}H", value) + b"\x00\x00"
        return head + struct.pack(f"{bo}I", value)

    out = [struct.pack(f"{bo}2sHI", b"II" if bo == "<" else b"MM", 42, ifd_off[0])]
    for p, (w, h) in enumerate(dims):
        entries = (
            entry(256, _TIFF_LONG, w)
            + entry(257, _TIFF_LONG, h)
            + entry(258, _TIFF_SHORT, 8)
            + entry(259, _TIFF_SHORT, 1)
            + entry(262, _TIFF_SHORT, 1)
            + entry(273, _TIFF_LONG, strip_off[p])
            + entry(278, _TIFF_LONG, h)
            + entry(279, _TIFF_LONG, w * h)
        )
        nxt = ifd_off[p + 1] if p + 1 < n_pages else 0
        out.append(struct.pack(f"{bo}H", 8) + entries + struct.pack(f"{bo}I", nxt))
    out += [b"\x00" * (w * h) for w, h in dims]
    return b"".join(out)


def parse_tiff_meta(data: bytes) -> list[dict]:
    """Walk a TIFF's IFD chain and return one dict per page:
    (page_no, width, height, bits_per_sample, compression,
    strip_byte_counts). Honors both byte orders end to end; SHORT values
    are read left-justified from the entry value field per the spec.
    Raises ValueError on bad magic, truncation, an IFD cycle, or a
    missing required tag."""
    import struct

    if len(data) < 8:
        raise ValueError("TIFF: truncated header")
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("TIFF: bad byte-order magic")
    magic, off = struct.unpack_from(f"{bo}HI", data, 2)
    if magic != 42:
        raise ValueError(f"TIFF: bad magic {magic}")
    pages, seen = [], set()
    while off:
        if off in seen or len(pages) > 10000:
            raise ValueError("TIFF: IFD cycle")
        seen.add(off)
        # one IFD reader for baseline TIFF and the EXIF embedded TIFF
        tags, nxt = _read_ifd_entries(data, bo, off)
        missing = [t for t in (256, 257, 258, 259, 279) if t not in tags]
        if missing:
            raise ValueError(f"TIFF: IFD missing required tags {missing}")
        pages.append(
            {
                "page_no": len(pages),
                "width": tags[256],
                "height": tags[257],
                "bits_per_sample": tags[258],
                "compression": tags[259],
                "strip_byte_counts": tags[279],
            }
        )
        off = nxt
    if not pages:
        raise ValueError("TIFF: no IFDs")
    return pages


def attach_tiff(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with multi-page TIFF payloads
    (:func:`synth_tiff`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_tiff(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


TIFF_PAGES_SCHEMA = (
    "doc_id long, page_no long, width long, height long, "
    "bits_per_sample long, compression long, strip_byte_counts long"
)


def tiff_pages(media: DataFrame) -> DataFrame:
    """Per-page TIFF metadata rows via the IFD walker — the multi-page
    fan-out pattern (one asset row → one row per page), linear growth,
    mapInPandas, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "page_no", "width", "height", "bits_per_sample",
                "compression", "strip_byte_counts",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for page in parse_tiff_meta(bytes(content)):
                    out["doc_id"].append(int(d))
                    for k, v in page.items():
                        out[k].append(int(v))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=TIFF_PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# EXIF / JPEG APP1: real photo pipelines hit orientation on nearly every
# image. The APP1 payload is a complete embedded TIFF (both byte orders in
# the wild), so the parse REUSES the IFD walker machinery above — entry
# offsets are relative to the embedded TIFF header, ASCII values longer
# than the 4-byte entry field live at an offset (Make/DateTime always do).
# ---------------------------------------------------------------------------

_TIFF_ASCII = 2
_EXIF_ORIENTATION, _EXIF_MAKE, _EXIF_DATETIME = 274, 271, 306
_EXIF_SUBIFD_PTR, _EXIF_ISO, _EXIF_PIXEL_X = 34665, 34855, 40962


def _read_ifd_entries(
    data: bytes, bo: str, off: int, base: int = 0
) -> tuple[dict[int, int | str], int]:
    """One IFD at `base + off`: returns ({tag: value}, next_ifd_offset).
    Values resolved for single-count SHORT/LONG (left-justified inline,
    honoring byte order — the two classic TIFF parser bugs) and ASCII
    (inline when count ≤ 4, else at its offset, relative to `base` — the
    EXIF convention; NUL terminator stripped). Other types are skipped.
    Raises ValueError on truncation."""
    import struct

    p = base + off
    if p + 2 > len(data):
        raise ValueError("TIFF: truncated IFD")
    (n,) = struct.unpack_from(f"{bo}H", data, p)
    if p + 2 + 12 * n + 4 > len(data):
        raise ValueError("TIFF: truncated IFD entries")
    tags: dict[int, int | str] = {}
    for i in range(n):
        e = p + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(f"{bo}HHI", data, e)
        if cnt == 1 and typ == _TIFF_SHORT:
            (tags[tag],) = struct.unpack_from(f"{bo}H", data, e + 8)
        elif cnt == 1 and typ == _TIFF_LONG:
            (tags[tag],) = struct.unpack_from(f"{bo}I", data, e + 8)
        elif typ == _TIFF_ASCII:
            if cnt <= 4:
                raw = data[e + 8 : e + 8 + cnt]
            else:
                (voff,) = struct.unpack_from(f"{bo}I", data, e + 8)
                if base + voff + cnt > len(data):
                    raise ValueError("TIFF: ASCII value out of range")
                raw = data[base + voff : base + voff + cnt]
            tags[tag] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    (nxt,) = struct.unpack_from(f"{bo}I", data, p + 2 + 12 * n)
    return tags, nxt


def synth_jpeg_exif(doc_id: int, byte_len: int) -> bytes:
    """A genuine minimal JPEG carrying an APP1/Exif segment: SOI, APP1
    ('Exif\\0\\0' + embedded TIFF with IFD0 {orientation, Make, DateTime,
    ExifIFD pointer} and an Exif sub-IFD {ISO, PixelXDimension}), EOI.
    Even doc_ids little-endian, odd big-endian (the TIFF discipline). All
    values derive from (doc_id, byte_len) so the oracle replays them
    arithmetically:
    orientation 1 + doc_id % 8, make 'Cam' + doc_id % 5,
    datetime 2026:01:(1 + byte_len % 28) (doc_id % 24):(byte_len % 60):
    ((doc_id + byte_len) % 60), iso 100 * (1 + doc_id % 32),
    pixel_x 640 + byte_len % 3000."""
    import struct

    bo = ">" if doc_id % 2 else "<"
    orientation = 1 + doc_id % 8
    make = f"Cam{doc_id % 5}".encode() + b"\x00"
    dt = "2026:01:{:02d} {:02d}:{:02d}:{:02d}".format(
        1 + byte_len % 28, doc_id % 24, byte_len % 60, (doc_id + byte_len) % 60
    ).encode() + b"\x00"
    iso = 100 * (1 + doc_id % 32)
    pixel_x = 640 + byte_len % 3000

    def entry(tag: int, typ: int, cnt: int, field: bytes) -> bytes:
        return struct.pack(f"{bo}HHI", tag, typ, cnt) + field.ljust(4, b"\x00")

    # layout (offsets relative to TIFF header): header 8, IFD0 at 8 with 4
    # entries (2 + 48 + 4 = 54), Exif sub-IFD at 62 with 2 entries (30),
    # then the out-of-line ASCII values
    ifd0_off, n0 = 8, 4
    exif_off = ifd0_off + 2 + 12 * n0 + 4
    make_off = exif_off + 2 + 12 * 2 + 4
    dt_off = make_off + len(make)
    ifd0 = (
        struct.pack(f"{bo}H", n0)
        + entry(_EXIF_MAKE, _TIFF_ASCII, len(make), struct.pack(f"{bo}I", make_off))
        + entry(_EXIF_ORIENTATION, _TIFF_SHORT, 1, struct.pack(f"{bo}H", orientation))
        + entry(_EXIF_DATETIME, _TIFF_ASCII, len(dt), struct.pack(f"{bo}I", dt_off))
        + entry(_EXIF_SUBIFD_PTR, _TIFF_LONG, 1, struct.pack(f"{bo}I", exif_off))
        + struct.pack(f"{bo}I", 0)
    )
    exif_ifd = (
        struct.pack(f"{bo}H", 2)
        + entry(_EXIF_ISO, _TIFF_SHORT, 1, struct.pack(f"{bo}H", iso))
        + entry(_EXIF_PIXEL_X, _TIFF_LONG, 1, struct.pack(f"{bo}I", pixel_x))
        + struct.pack(f"{bo}I", 0)
    )
    tiff = (
        struct.pack(f"{bo}2sHI", b"II" if bo == "<" else b"MM", 42, ifd0_off)
        + ifd0
        + exif_ifd
        + make
        + dt
    )
    app1 = b"Exif\x00\x00" + tiff
    return (
        b"\xff\xd8"
        + b"\xff\xe1"
        + struct.pack(">H", len(app1) + 2)
        + app1
        + b"\xff\xd9"
    )


def parse_jpeg_exif(data: bytes) -> dict:
    """Extract EXIF tags from a JPEG's APP1 segment: SOI checked, markers
    walked by their lengths to APP1 (fill bytes tolerated, the T.81
    discipline of `decode_jpeg_luma`), 'Exif\\0\\0' header verified, then
    the embedded TIFF's IFD0 + Exif sub-IFD walked with
    :func:`_read_ifd_entries` (offsets relative to the TIFF header).
    Returns {orientation, make, capture_dt, iso, pixel_x}; orientation
    must be 1..8 per the spec. Raises ValueError on a missing SOI, no
    APP1/Exif before SOS/EOI, bad TIFF magic, truncation, or an
    out-of-range orientation."""
    import struct

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("EXIF: missing SOI")
    i = 2
    tiff: bytes | None = None
    while i + 1 < len(data):
        if data[i] != 0xFF:
            raise ValueError(f"EXIF: bad marker byte at {i}")
        while i < len(data) and data[i] == 0xFF:
            i += 1  # fill bytes before any marker are legal (T.81 B.1.1.2)
        if i >= len(data):
            break
        marker = data[i]
        i += 1
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            if marker == 0xD9:
                break
            continue
        if i + 2 > len(data):
            raise ValueError("EXIF: truncated segment length")
        (seglen,) = struct.unpack_from(">H", data, i)
        if i + seglen > len(data):
            raise ValueError("EXIF: truncated segment")
        if marker == 0xE1 and data[i + 2 : i + 8] == b"Exif\x00\x00":
            tiff = data[i + 8 : i + seglen]
            break
        if marker == 0xDA:  # entering the scan: no APP1 will follow
            break
        i += seglen
    if tiff is None:
        raise ValueError("EXIF: no APP1/Exif segment")
    if len(tiff) < 8:
        raise ValueError("EXIF: truncated TIFF header")
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("EXIF: bad TIFF byte-order magic")
    magic, off = struct.unpack_from(f"{bo}HI", tiff, 2)
    if magic != 42:
        raise ValueError(f"EXIF: bad TIFF magic {magic}")
    ifd0, _ = _read_ifd_entries(tiff, bo, off, base=0)
    sub: dict[int, int | str] = {}
    if _EXIF_SUBIFD_PTR in ifd0:
        sub, _ = _read_ifd_entries(tiff, bo, int(ifd0[_EXIF_SUBIFD_PTR]), base=0)
    missing = [t for t in (_EXIF_ORIENTATION, _EXIF_MAKE, _EXIF_DATETIME) if t not in ifd0]
    if missing:
        raise ValueError(f"EXIF: IFD0 missing tags {missing}")
    orientation = int(ifd0[_EXIF_ORIENTATION])
    if not 1 <= orientation <= 8:
        raise ValueError(f"EXIF: orientation {orientation} out of range 1..8")
    return {
        "orientation": orientation,
        "make": str(ifd0[_EXIF_MAKE]),
        "capture_dt": str(ifd0[_EXIF_DATETIME]),
        "iso": int(sub.get(_EXIF_ISO, 0)),
        "pixel_x": int(sub.get(_EXIF_PIXEL_X, 0)),
    }


def attach_exif_jpeg(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with APP1/Exif JPEG payloads
    (:func:`synth_jpeg_exif`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_jpeg_exif(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


EXIF_TAGS_SCHEMA = (
    "doc_id long, orientation long, make string, capture_dt string, "
    "iso long, pixel_x long"
)


def exif_tags(media: DataFrame) -> DataFrame:
    """One EXIF-tag row per image via the APP1 walk — mapInPandas, no
    shuffle; capture_dt stays the spec's ASCII form (engine-portable
    string, never an engine date object)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                parse_jpeg_exif(bytes(content)) for content in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orientation": [r["orientation"] for r in rows],
                    "make": [r["make"] for r in rows],
                    "capture_dt": [r["capture_dt"] for r in rows],
                    "iso": [r["iso"] for r in rows],
                    "pixel_x": [r["pixel_x"] for r in rows],
                }
            )

    return media.mapInPandas(parse, schema=EXIF_TAGS_SCHEMA)


# ---------------------------------------------------------------------------
# FLAC: 'fLaC' magic + metadata-block chain; STREAMINFO is mandatory-first
# and BIT-PACKED — the sample rate is 20 bits, channels 3, bits-per-sample
# 5, total samples 36, all crossing byte boundaries (the parse everyone gets
# wrong by reading byte-aligned fields). Frames are not touched.
# ---------------------------------------------------------------------------


def synth_flac(doc_id: int, byte_len: int) -> bytes:
    """A genuine FLAC metadata chain: STREAMINFO (bit-packed per the spec)
    followed by a PADDING block (exercises the block walk), no frames.
    Field values derive from (doc_id, byte_len) so the oracle replays
    them arithmetically."""
    import struct

    sr = 8000 + (byte_len % 37) * 1000          # fits in 20 bits
    channels = 1 + doc_id % 8                    # 1..8 -> 3-bit field
    bps = 8 + (doc_id % 3) * 4                   # 8/12/16 -> 5-bit field
    total = (doc_id * 977 + byte_len * 131) % (1 << 36)
    min_bs, max_bs = 4096, 4096
    min_fs, max_fs = 14, 14 + byte_len % 1000
    packed = (
        ((sr & 0xFFFFF) << 44)
        | ((channels - 1) << 41)
        | ((bps - 1) << 36)
        | (total & 0xFFFFFFFFF)
    )
    streaminfo = (
        struct.pack(">HH", min_bs, max_bs)
        + min_fs.to_bytes(3, "big")
        + max_fs.to_bytes(3, "big")
        + packed.to_bytes(8, "big")
        + bytes(16)  # audio md5 (no frames -> zeros)
    )
    assert len(streaminfo) == 34
    pad = bytes(4 + doc_id % 8)
    return (
        b"fLaC"
        + bytes([0x00]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes([0x80 | 0x01]) + len(pad).to_bytes(3, "big") + pad  # last, PADDING
    )


def parse_flac_streaminfo(data: bytes) -> dict:
    """Walk the metadata-block chain and decode STREAMINFO's bit-packed
    fields. Raises ValueError on a bad magic, a first block that is not
    STREAMINFO (the spec mandates it), a wrong STREAMINFO length, or a
    truncated chain."""
    if len(data) < 8 or data[:4] != b"fLaC":
        raise ValueError("FLAC: bad magic")
    i = 4
    first = True
    info = None
    while True:
        if i + 4 > len(data):
            raise ValueError("FLAC: truncated block header")
        hdr = data[i]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        blen = int.from_bytes(data[i + 1 : i + 4], "big")
        body = data[i + 4 : i + 4 + blen]
        if len(body) < blen:
            raise ValueError("FLAC: truncated block body")
        if first:
            if btype != 0:
                raise ValueError(f"FLAC: first block type {btype}, not STREAMINFO")
            if blen != 34:
                raise ValueError(f"FLAC: STREAMINFO length {blen} != 34")
            import struct

            min_bs, max_bs = struct.unpack_from(">HH", body, 0)
            packed = int.from_bytes(body[10:18], "big")
            sr = (packed >> 44) & 0xFFFFF
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & 0xFFFFFFFFF
            if sr == 0:
                raise ValueError("FLAC: zero sample rate")
            info = {
                "min_blocksize": min_bs,
                "max_blocksize": max_bs,
                "sample_rate": sr,
                "channels": channels,
                "bits_per_sample": bps,
                "total_samples": total,
                "duration_ms": total * 1000 // sr,
            }
            first = False
        if last:
            break
        i += 4 + blen
    return info


def attach_flac(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with FLAC metadata payloads
    (:func:`synth_flac`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_flac(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


FLAC_INFO_SCHEMA = (
    "doc_id long, sample_rate long, channels long, bits_per_sample long, "
    "total_samples long, duration_ms long"
)


def flac_streaminfo(media: DataFrame) -> DataFrame:
    """STREAMINFO rows via the bit-packed parser. mapInPandas, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "sample_rate", "channels", "bits_per_sample",
                "total_samples", "duration_ms",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                info = parse_flac_streaminfo(bytes(content))
                out["doc_id"].append(int(d))
                for k in ("sample_rate", "channels", "bits_per_sample",
                          "total_samples", "duration_ms"):
                    out[k].append(int(info[k]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=FLAC_INFO_SCHEMA)


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Layer III): no sample decode — frame-HEADER walking, which is
# where real-world duration/bitrate metadata lives. Each frame's length is
# computed from its own header (144*bitrate/samplerate + padding), so a
# wrong bitrate table, samplerate table, or padding handling desyncs the
# walk immediately. An ID3v2 tag (syncsafe size) may precede frame 1.
# ---------------------------------------------------------------------------

#: MPEG-1 Layer III bitrate table, kbps, index 1..14 (0=free, 15=bad)
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES = [44100, 48000, 32000]


def synth_mp3(doc_id: int, byte_len: int) -> bytes:
    """A genuine CBR MPEG-1 Layer III frame sequence: 4 + byte_len % 9
    frames, bitrate index 1 + doc_id % 14, samplerate index doc_id % 3,
    padding bit alternating per frame (so consecutive frame lengths
    differ); odd doc_ids get a leading ID3v2.3 tag with a syncsafe size
    the walker must skip."""
    bidx = 1 + doc_id % 14
    sidx = doc_id % 3
    br = _MP3_BITRATES[bidx] * 1000
    sr = _MP3_RATES[sidx]
    n = 4 + byte_len % 9
    out = bytearray()
    if doc_id % 2 == 1:
        tag_body = bytes(10 + doc_id % 50)
        size = len(tag_body)
        syncsafe = bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
        )
        out += b"ID3" + bytes([3, 0, 0]) + syncsafe + tag_body
    for i in range(n):
        pad = i % 2
        flen = 144 * br // sr + pad
        h0 = 0xFF
        h1 = 0xFB  # sync + MPEG-1 + Layer III + no CRC
        h2 = (bidx << 4) | (sidx << 2) | (pad << 1)
        h3 = 0x00  # stereo, no ext, no (c), not original, no emphasis
        frame = bytes([h0, h1, h2, h3]) + bytes(flen - 4)
        out += frame
    return bytes(out)


def parse_mp3_frames(data: bytes) -> dict:
    """Walk MPEG-1 Layer III frames (skipping a leading ID3v2 tag) and
    return exact stream facts: frame count, the constant bitrate in kbps
    (-1 if frames disagree, i.e. VBR), sample rate, and integer duration
    (1152 samples per frame). Raises ValueError on a lost sync, a free/
    bad bitrate index, a reserved samplerate, or a truncated frame."""
    i = 0
    if data[:3] == b"ID3":
        if len(data) < 10:
            raise ValueError("MP3: truncated ID3v2 header")
        size = (
            ((data[6] & 0x7F) << 21)
            | ((data[7] & 0x7F) << 14)
            | ((data[8] & 0x7F) << 7)
            | (data[9] & 0x7F)
        )
        i = 10 + size
    n = 0
    bitrates = set()
    sr = None
    while i < len(data):
        if i + 4 > len(data):
            raise ValueError("MP3: truncated frame header")
        h0, h1, h2, _h3 = data[i : i + 4]
        if h0 != 0xFF or (h1 & 0xFE) != 0xFA:  # sync + MPEG-1 Layer III
            raise ValueError(f"MP3: lost sync at offset {i}")
        bidx = (h2 >> 4) & 0xF
        sidx = (h2 >> 2) & 0x3
        pad = (h2 >> 1) & 0x1
        if bidx in (0, 15):
            raise ValueError(f"MP3: unsupported bitrate index {bidx}")
        if sidx == 3:
            raise ValueError("MP3: reserved samplerate index")
        br = _MP3_BITRATES[bidx] * 1000
        this_sr = _MP3_RATES[sidx]
        if sr is None:
            sr = this_sr
        elif sr != this_sr:
            raise ValueError("MP3: samplerate changed mid-stream")
        flen = 144 * br // sr + pad
        if i + flen > len(data):
            raise ValueError("MP3: truncated frame body")
        bitrates.add(br)
        n += 1
        i += flen
    if n == 0:
        raise ValueError("MP3: no frames")
    cbr = bitrates.pop() // 1000 if len(bitrates) == 1 else -1
    return {
        "n_frames": n,
        "bitrate_kbps": cbr,
        "sample_rate": sr,
        "duration_ms": n * 1152 * 1000 // sr,
    }


def attach_mp3(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with MP3 frame-sequence payloads
    (:func:`synth_mp3`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_mp3(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


MP3_INFO_SCHEMA = (
    "doc_id long, n_frames long, bitrate_kbps long, sample_rate long, "
    "duration_ms long"
)


def mp3_stream_info(media: DataFrame) -> DataFrame:
    """Frame-walk facts per asset. mapInPandas, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_frames", "bitrate_kbps", "sample_rate", "duration_ms",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                info = parse_mp3_frames(bytes(content))
                out["doc_id"].append(int(d))
                for k in ("n_frames", "bitrate_kbps", "sample_rate", "duration_ms"):
                    out[k].append(int(info[k]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=MP3_INFO_SCHEMA)


# ---------------------------------------------------------------------------
# ZIP (PKWARE): the archive wrapper of epub/docx/jar corpora. The ONLY
# authoritative entry list is the CENTRAL directory, located via the
# end-of-central-directory record's signature scanned BACKWARD past a
# variable-length comment — the step naive offset-zero readers get wrong.
# Entries here are STORED (method 0); CRC32s are validated against the
# actual data during the walk (a wrong offset reads wrong bytes and fails
# loudly), but not emitted — the oracle replays names/sizes/offsets.
# ---------------------------------------------------------------------------


def synth_zip(doc_id: int, byte_len: int) -> bytes:
    """A genuine ZIP: 1 + byte_len % 5 stored entries (name ``fNN.txt``,
    data length 10 + (doc_id + j) % 40, bytes (doc_id + j + i) % 256),
    local headers + central directory + EOCD with a doc_id % 7 byte
    comment (exercises the backward signature scan)."""
    import struct
    import zlib

    n = 1 + byte_len % 5
    out = bytearray()
    central = bytearray()
    offsets = []
    for j in range(n):
        name = f"f{j:02d}.txt".encode()
        size = 10 + (doc_id + j) % 40
        data = bytes((doc_id + j + i) % 256 for i in range(size))
        crc = zlib.crc32(data) & 0xFFFFFFFF
        offsets.append(len(out))
        out += struct.pack(
            "<IHHHHHIIIHH", 0x04034B50, 20, 0, 0, 0, 0, crc, size, size,
            len(name), 0,
        ) + name + data
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, 0, 0, 0, 0, crc,
            size, size, len(name), 0, 0, 0, 0, 0, offsets[j],
        ) + name
    cd_off = len(out)
    out += central
    comment = bytes(doc_id % 7)
    out += struct.pack(
        "<IHHHHIIH", 0x06054B50, 0, 0, n, n, len(central), cd_off, len(comment)
    ) + comment
    return bytes(out)


def parse_zip_entries(data: bytes) -> list[dict]:
    """Walk a ZIP via the central directory: locate EOCD by scanning
    backward for its signature (comment-tolerant), read the directory
    offset/count, parse each central entry, cross-check the local header
    signature at its offset, and validate the stored data's CRC32.
    Raises ValueError on a missing EOCD, entry-count mismatch, bad local
    signature, short data, or CRC mismatch."""
    import struct
    import zlib

    sig = struct.pack("<I", 0x06054B50)
    lo = max(0, len(data) - 65536 - 22)
    # scan BACKWARD and accept a candidate only when its comment length
    # reaches exactly end-of-file: a bare rfind would lock onto a
    # 0x06054b50 byte pattern INSIDE a trailing archive comment and
    # mis-parse the directory (r9 ADVICE; the synthesized corpus was safe
    # only because its comments are zero bytes)
    eocd = -1
    pos = data.rfind(sig, lo)
    while pos >= 0:
        if pos + 22 <= len(data):
            clen = struct.unpack_from("<H", data, pos + 20)[0]
            if pos + 22 + clen == len(data):
                eocd = pos
                break
        pos = data.rfind(sig, lo, pos)
    if eocd < 0:
        raise ValueError("ZIP: no end-of-central-directory record")
    (_s, _dn, _cd, n_here, n_total, _cd_size, cd_off, _clen) = struct.unpack_from(
        "<IHHHHIIH", data, eocd
    )
    entries = []
    i = cd_off
    for _ in range(n_total):
        # every offset below comes from file bytes — bound-check before
        # reading, so corrupt input raises the documented ValueError, not
        # struct.error / UnicodeDecodeError out of an executor task
        if i + 46 > len(data):
            raise ValueError(f"ZIP: truncated central directory at {i}")
        if struct.unpack_from("<I", data, i)[0] != 0x02014B50:
            raise ValueError(f"ZIP: bad central-directory signature at {i}")
        (
            _sig, _vmade, _vneed, _flags, method, _t, _d, crc, csize, usize,
            nlen, xlen, clen, _disk, _iattr, _eattr, loff,
        ) = struct.unpack_from("<IHHHHHHIIIHHHHHII", data, i)
        if i + 46 + nlen > len(data):
            raise ValueError(f"ZIP: truncated entry name at {i}")
        try:
            name = data[i + 46 : i + 46 + nlen].decode()
        except UnicodeDecodeError as e:
            raise ValueError(f"ZIP: undecodable entry name at {i}: {e}") from e
        if method != 0:
            raise ValueError(f"ZIP: entry {name} method {method} gated (stored only)")
        if loff + 30 > len(data):
            raise ValueError(f"ZIP: local-header offset out of range for {name}")
        if struct.unpack_from("<I", data, loff)[0] != 0x04034B50:
            raise ValueError(f"ZIP: bad local-header signature for {name}")
        lnlen, lxlen = struct.unpack_from("<HH", data, loff + 26)
        dstart = loff + 30 + lnlen + lxlen
        body = data[dstart : dstart + usize]
        if len(body) < usize:
            raise ValueError(f"ZIP: short data for {name}")
        if (zlib.crc32(body) & 0xFFFFFFFF) != crc:
            raise ValueError(f"ZIP: CRC mismatch for {name}")
        entries.append(
            {
                "entry_no": len(entries),
                "file_name": name,
                "uncompressed_size": usize,
                "compressed_size": csize,
                "local_offset": loff,
            }
        )
        i += 46 + nlen + xlen + clen
    if len(entries) != n_total:
        raise ValueError("ZIP: entry count mismatch")
    return entries


def attach_zip(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with ZIP payloads (:func:`synth_zip`).
    mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_zip(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


ZIP_ENTRIES_SCHEMA = (
    "doc_id long, entry_no long, file_name string, uncompressed_size long, "
    "compressed_size long, local_offset long"
)


def zip_entries(media: DataFrame) -> DataFrame:
    """Central-directory entry rows per archive (CRCs validated during the
    walk). mapInPandas, no shuffle; asset→entry-rows linear fan-out."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "entry_no", "file_name", "uncompressed_size",
                "compressed_size", "local_offset",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for e in parse_zip_entries(bytes(content)):
                    out["doc_id"].append(int(d))
                    for k in ("entry_no", "file_name", "uncompressed_size",
                              "compressed_size", "local_offset"):
                        out[k].append(e[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=ZIP_ENTRIES_SCHEMA)


# ---------------------------------------------------------------------------
# SRT subtitles: the caption sidecar of every video-training corpus.
# Caption files carry the TEXT side of video-text pairs, and their cue
# timing drives words-per-minute quality filters and silence/speech
# alignment (compose with audio_silence_segments). SRT is plain text with
# a rigid grammar — index line, "HH:MM:SS,mmm --> HH:MM:SS,mmm", 1+ text
# lines, blank separator — and the two classic parser hazards are CRLF
# line endings and multi-line cue text, both synthesized here.
# ---------------------------------------------------------------------------


def synth_srt(doc_id: int, byte_len: int) -> bytes:
    """A genuine SRT file: 1 + doc_id % 6 cues; cue i starts after a
    (doc_id*13 + i*41) % 1500 ms gap and lasts 700 + (doc_id*31 + i*97)
    % 2500 ms, with 2 + (byte_len + doc_id + i) % 9 words; every third
    cue splits its words across two text lines; odd doc_ids use CRLF."""
    nl = "\r\n" if doc_id % 2 == 1 else "\n"
    n = 1 + doc_id % 6
    t = 0
    blocks = []
    for i in range(n):
        gap = (doc_id * 13 + i * 41) % 1500
        dur = 700 + (doc_id * 31 + i * 97) % 2500
        start = t + gap
        end = start + dur
        t = end
        nw = 2 + (byte_len + doc_id + i) % 9
        words = [f"w{doc_id % 10}x{j}" for j in range(nw)]
        if i % 3 == 0 and nw >= 2:
            text_lines = [" ".join(words[: nw // 2]), " ".join(words[nw // 2:])]
        else:
            text_lines = [" ".join(words)]

        def ts(ms: int) -> str:
            return (
                f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:"
                f"{ms // 1000 % 60:02d},{ms % 1000:03d}"
            )

        blocks.append(
            nl.join([str(i + 1), f"{ts(start)} --> {ts(end)}", *text_lines])
        )
    return ((nl + nl).join(blocks) + nl).encode("utf-8")


_SRT_TS = re.compile(
    r"^(\d{2,}):([0-5]\d):([0-5]\d),(\d{3}) --> "
    r"(\d{2,}):([0-5]\d):([0-5]\d),(\d{3})$"
)


def parse_srt_cues(data: bytes) -> list[dict]:
    """Parse an SRT byte payload into cue dicts: cue_no, start_ms, end_ms,
    dur_ms, n_words (multi-line cue text joined), words_per_min (integer,
    n_words*60000 div duration).  Tolerates LF and CRLF; raises ValueError
    on a bad index, malformed timestamp line, an empty cue, a
    non-positive duration, or cues that overlap/run backward (start
    before the previous cue's end) — caption QA must fail loudly, not
    emit garbage timings."""
    text = data.decode("utf-8")
    blocks = [b for b in re.split(r"(?:\r?\n){2,}", text.strip()) if b.strip()]
    cues = []
    prev_end = -1
    for b in blocks:
        lines = [ln for ln in b.split("\n")]
        lines = [ln.rstrip("\r") for ln in lines]
        if len(lines) < 3:
            raise ValueError(f"SRT: cue block with {len(lines)} lines")
        if not lines[0].isdigit():
            raise ValueError(f"SRT: bad cue index {lines[0]!r}")
        idx = int(lines[0])
        if idx != len(cues) + 1:
            raise ValueError(f"SRT: cue index {idx} out of sequence")
        m = _SRT_TS.match(lines[1])
        if not m:
            raise ValueError(f"SRT: malformed timestamp line {lines[1]!r}")
        g = [int(x) for x in m.groups()]
        start = ((g[0] * 60 + g[1]) * 60 + g[2]) * 1000 + g[3]
        end = ((g[4] * 60 + g[5]) * 60 + g[6]) * 1000 + g[7]
        if end <= start:
            raise ValueError(f"SRT: non-positive duration at cue {idx}")
        if start < prev_end:
            raise ValueError(f"SRT: cue {idx} overlaps previous cue")
        prev_end = end
        words = " ".join(lines[2:]).split()
        if not words:
            raise ValueError(f"SRT: empty text at cue {idx}")
        dur = end - start
        cues.append(
            {
                "cue_no": idx,
                "start_ms": start,
                "end_ms": end,
                "dur_ms": dur,
                "n_words": len(words),
                "words_per_min": len(words) * 60000 // dur,
            }
        )
    if not cues:
        raise ValueError("SRT: no cues")
    return cues


def attach_srt(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with SRT caption payloads
    (:func:`synth_srt`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_srt(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


SRT_CUES_SCHEMA = (
    "doc_id long, cue_no long, start_ms long, end_ms long, dur_ms long, "
    "n_words long, words_per_min long"
)


def srt_cues(media: DataFrame) -> DataFrame:
    """Cue timing/word rows per caption file. mapInPandas, no shuffle;
    asset→cue-rows linear fan-out."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "cue_no", "start_ms", "end_ms", "dur_ms",
                "n_words", "words_per_min",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for c in parse_srt_cues(bytes(content)):
                    out["doc_id"].append(int(d))
                    for k in ("cue_no", "start_ms", "end_ms", "dur_ms",
                              "n_words", "words_per_min"):
                        out[k].append(c[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=SRT_CUES_SCHEMA)


# ---------------------------------------------------------------------------
# WebVTT: the web-native caption sibling of SRT (W3C WebVTT spec) — the
# format YouTube/browser pipelines actually emit. Three grammar hazards
# distinguish it from SRT, and the synthesis plants all three: the
# mandatory "WEBVTT" header line (optionally with trailing text), cue
# blocks with an OPTIONAL identifier line (any line not containing
# "-->"), timestamps with a DOT millisecond separator whose hour field is
# optional (MM:SS.mmm and HH:MM:SS.mmm both legal), optional cue SETTINGS
# after the end timestamp, and NOTE comment blocks that must be skipped.
# ---------------------------------------------------------------------------


def synth_webvtt(doc_id: int, byte_len: int) -> bytes:
    """A genuine WebVTT file: 1 + doc_id % 5 cues; cue i starts after a
    (doc_id*17 + i*53) % 1200 ms gap and lasts 600 + (doc_id*29 + i*83)
    % 2200 ms with 2 + (byte_len + doc_id*3 + i) % 8 words.  Even cues
    carry an identifier line; cues with i % 3 == 1 carry settings; every
    third cue splits its text across two lines; doc_id % 3 == 0 files
    open with a NOTE block; even doc_ids write hour-less MM:SS.mmm
    timestamps whenever the cue ends before one hour."""
    n = 1 + doc_id % 5
    t = 0
    blocks = []
    if doc_id % 3 == 0:
        blocks.append("NOTE\nsynthesized for doc %d" % doc_id)
    for i in range(n):
        gap = (doc_id * 17 + i * 53) % 1200
        dur = 600 + (doc_id * 29 + i * 83) % 2200
        start = t + gap
        end = start + dur
        t = end
        nw = 2 + (byte_len + doc_id * 3 + i) % 8
        words = [f"v{doc_id % 10}x{j}" for j in range(nw)]
        if i % 3 == 0 and nw >= 2:
            text_lines = [" ".join(words[: nw // 2]), " ".join(words[nw // 2:])]
        else:
            text_lines = [" ".join(words)]

        def ts(ms: int) -> str:
            h, rem = divmod(ms, 3600000)
            if h == 0 and doc_id % 2 == 0:
                return f"{rem // 60000:02d}:{rem // 1000 % 60:02d}.{rem % 1000:03d}"
            return (
                f"{h:02d}:{rem // 60000:02d}:{rem // 1000 % 60:02d}."
                f"{rem % 1000:03d}"
            )

        settings = (
            f" align:start position:{10 + (i * 7) % 80}%" if i % 3 == 1 else ""
        )
        lines = []
        if i % 2 == 0:
            lines.append(f"cue-{i + 1}")
        lines.append(f"{ts(start)} --> {ts(end)}{settings}")
        lines.extend(text_lines)
        blocks.append("\n".join(lines))
    return ("WEBVTT - synthesized\n\n" + "\n\n".join(blocks) + "\n").encode(
        "utf-8"
    )


_VTT_TS = re.compile(r"^(?:(\d{2,}):)?([0-5]\d):([0-5]\d)\.(\d{3})$")


def _vtt_ms(tok: str) -> int:
    m = _VTT_TS.match(tok)
    if not m:
        raise ValueError(f"WebVTT: malformed timestamp {tok!r}")
    h = int(m.group(1)) if m.group(1) is not None else 0
    return ((h * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 + int(
        m.group(4)
    )


def parse_webvtt_cues(data: bytes) -> list[dict]:
    """Parse a WebVTT byte payload into cue dicts: cue_no, start_ms,
    end_ms, dur_ms, n_words, words_per_min, has_settings.  Validates the
    WEBVTT header, skips NOTE/STYLE/REGION blocks, accepts optional cue
    identifiers and hour-less timestamps, and raises ValueError on a
    malformed timestamp line, an empty cue, non-positive duration, or a
    cue starting before the previous one ends — caption QA fails loudly."""
    text = data.decode("utf-8")
    if text.startswith("﻿"):
        text = text[1:]
    blocks = [b for b in re.split(r"(?:\r?\n){2,}", text.strip()) if b.strip()]
    if not blocks:
        raise ValueError("WebVTT: empty file")
    header = blocks[0].split("\n")[0].rstrip("\r")
    if header != "WEBVTT" and not header.startswith(("WEBVTT ", "WEBVTT\t", "WEBVTT -")):
        raise ValueError(f"WebVTT: missing WEBVTT header, got {header!r}")
    cues = []
    prev_end = -1
    for b in blocks[1:]:
        lines = [ln.rstrip("\r") for ln in b.split("\n")]
        if lines[0].startswith(("NOTE", "STYLE", "REGION")):
            continue
        ts_i = 0 if "-->" in lines[0] else 1
        if ts_i >= len(lines) or "-->" not in lines[ts_i]:
            raise ValueError(f"WebVTT: cue block without a timestamp line: {lines[0]!r}")
        parts = lines[ts_i].split("-->")
        if len(parts) != 2:
            raise ValueError(f"WebVTT: malformed cue timing {lines[ts_i]!r}")
        start = _vtt_ms(parts[0].strip())
        tail = parts[1].strip().split(None, 1)
        end = _vtt_ms(tail[0])
        has_settings = len(tail) > 1
        if end <= start:
            raise ValueError(f"WebVTT: non-positive duration at cue {len(cues) + 1}")
        if start < prev_end:
            raise ValueError(f"WebVTT: cue {len(cues) + 1} overlaps previous cue")
        prev_end = end
        words = " ".join(lines[ts_i + 1:]).split()
        if not words:
            raise ValueError(f"WebVTT: empty text at cue {len(cues) + 1}")
        dur = end - start
        cues.append(
            {
                "cue_no": len(cues) + 1,
                "start_ms": start,
                "end_ms": end,
                "dur_ms": dur,
                "n_words": len(words),
                "words_per_min": len(words) * 60000 // dur,
                "has_settings": has_settings,
            }
        )
    if not cues:
        raise ValueError("WebVTT: no cues")
    return cues


def attach_webvtt(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with WebVTT caption payloads
    (:func:`synth_webvtt`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_webvtt(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


WEBVTT_CUES_SCHEMA = (
    "doc_id long, cue_no long, start_ms long, end_ms long, dur_ms long, "
    "n_words long, words_per_min long, has_settings boolean"
)


def webvtt_cues(media: DataFrame) -> DataFrame:
    """Cue timing/word/settings rows per WebVTT file. mapInPandas, no
    shuffle; asset→cue-rows linear fan-out."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "cue_no", "start_ms", "end_ms", "dur_ms",
                "n_words", "words_per_min", "has_settings",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for c in parse_webvtt_cues(bytes(content)):
                    out["doc_id"].append(int(d))
                    for k in ("cue_no", "start_ms", "end_ms", "dur_ms",
                              "n_words", "words_per_min", "has_settings"):
                        out[k].append(c[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=WEBVTT_CUES_SCHEMA)


# ---------------------------------------------------------------------------
# ID3v2.3 tags: the metadata container of every MP3 corpus (title/artist/
# album drive audio-text pairing and dedup keys). The frame walk has two
# classic hazards synthesized here: the TAG size is syncsafe but v2.3
# FRAME sizes are plain big-endian (readers that syncsafe-decode both
# mis-walk half of real files), and text frames carry an encoding byte —
# 0x00 latin-1 vs 0x01 UTF-16-with-BOM — which naive ASCII slicing
# garbles. The payload after the tag is a genuine MP3 frame sequence
# (synth_mp3's walker body), so the blob is a real tagged file.
# ---------------------------------------------------------------------------


def synth_id3_mp3(doc_id: int, byte_len: int) -> bytes:
    """A genuine ID3v2.3-tagged MP3: TIT2/TPE1/TALB/TRCK text frames
    (latin-1 on even doc_ids, UTF-16+BOM on odd), doc_id % 17 bytes of
    padding, then 2 + byte_len % 4 CBR frames (bitrate index 9,
    samplerate 44100)."""
    frames = [
        ("TIT2", f"Title {doc_id}"),
        ("TPE1", f"Artist {doc_id % 17}"),
        ("TALB", f"Album {doc_id % 7}"),
        ("TRCK", f"{1 + doc_id % 12}/12"),
    ]
    body = bytearray()
    for fid, val in frames:
        if doc_id % 2 == 0:
            payload = b"\x00" + val.encode("latin-1")
        else:
            payload = b"\x01" + b"\xff\xfe" + val.encode("utf-16-le")
        body += fid.encode("ascii")
        body += len(payload).to_bytes(4, "big")  # v2.3: NOT syncsafe
        body += b"\x00\x00"
        body += payload
    body += bytes(doc_id % 17)  # padding
    size = len(body)
    syncsafe = bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    out = bytearray(b"ID3" + bytes([3, 0, 0]) + syncsafe + body)
    # a genuine audio body after the tag (fixed 128 kbps / 44.1 kHz)
    bidx, sidx = 9, 0
    br = _MP3_BITRATES[bidx] * 1000
    sr = _MP3_RATES[sidx]
    for i in range(2 + byte_len % 4):
        pad = i % 2
        flen = 144 * br // sr + pad
        h2 = (bidx << 4) | (sidx << 2) | (pad << 1)
        out += bytes([0xFF, 0xFB, h2, 0x00]) + bytes(flen - 4)
    return bytes(out)


def parse_id3_tags(data: bytes) -> list[dict]:
    """Walk ID3v2.3 text frames: returns (frame_id, value) dicts in frame
    order.  The tag size is syncsafe-decoded; FRAME sizes are plain
    big-endian (the v2.3 spec distinction); text payloads decode per
    their encoding byte (0x00 latin-1, 0x01 UTF-16 with BOM); the walk
    stops at padding (a zero byte where a frame id should start).
    Raises ValueError on a missing/short tag, a frame overrunning the
    tag, an unknown text encoding, or a malformed UTF-16 payload."""
    if data[:3] != b"ID3" or len(data) < 10:
        raise ValueError("ID3: missing ID3v2 header")
    if data[3] != 3:
        raise ValueError(f"ID3: unsupported version 2.{data[3]}")
    size = (
        ((data[6] & 0x7F) << 21)
        | ((data[7] & 0x7F) << 14)
        | ((data[8] & 0x7F) << 7)
        | (data[9] & 0x7F)
    )
    end = 10 + size
    if end > len(data):
        raise ValueError("ID3: tag size overruns file")
    i = 10
    out = []
    while i + 10 <= end:
        if data[i] == 0:  # padding reached
            break
        fid = data[i : i + 4].decode("ascii")
        fsize = int.from_bytes(data[i + 4 : i + 8], "big")  # v2.3 plain BE
        if i + 10 + fsize > end:
            raise ValueError(f"ID3: frame {fid} overruns tag")
        payload = data[i + 10 : i + 10 + fsize]
        if fid.startswith("T") and payload:
            enc = payload[0]
            if enc == 0:
                val = payload[1:].decode("latin-1")
            elif enc == 1:
                if payload[1:3] not in (b"\xff\xfe", b"\xfe\xff"):
                    raise ValueError(f"ID3: {fid} UTF-16 payload missing BOM")
                val = payload[1:].decode("utf-16")
            else:
                raise ValueError(f"ID3: unknown text encoding {enc}")
            out.append({"frame_id": fid, "value": val.rstrip("\x00")})
        i += 10 + fsize
    if not out:
        raise ValueError("ID3: no text frames")
    return out


def attach_id3_mp3(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with ID3v2.3-tagged MP3 payloads
    (:func:`synth_id3_mp3`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_id3_mp3(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


ID3_TAGS_SCHEMA = "doc_id long, frame_no long, frame_id string, value string"


def id3_tags(media: DataFrame) -> DataFrame:
    """Text-frame rows per tagged MP3 (frame_no is the in-tag order).
    mapInPandas, no shuffle; asset→frame-rows linear fan-out."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "frame_no", "frame_id", "value")}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for n, fr in enumerate(parse_id3_tags(bytes(content))):
                    out["doc_id"].append(int(d))
                    out["frame_no"].append(n)
                    out["frame_id"].append(fr["frame_id"])
                    out["value"].append(fr["value"])
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=ID3_TAGS_SCHEMA)


# ---------------------------------------------------------------------------
# WARC: THE web-corpus container (ISO 28500 — CommonCrawl ships all crawl
# data as WARC), the front door every web-scale LLM corpus passes through.
# The synthesis plants the hazard that breaks naive readers: payloads are
# framed by Content-Length, NOT by scanning for the record delimiter — a
# response body here CONTAINS a CRLFCRLF + "WARC/1.0" lookalike, so a
# delimiter-scanning parser splits mid-record and mis-parses everything
# after (exactly the bug web-archive tooling lists as the classic one).
# ---------------------------------------------------------------------------

#: planted inside response bodies: a fake record boundary
_WARC_TRAP = "\r\n\r\nWARC/1.0 fake\r\n"


def synth_warc(doc_id: int, source: str, lang: str, text: str) -> bytes:
    """A genuine little WARC/1.0 file for one capture: an optional
    warcinfo record (doc_id % 4 == 0), a request record, and a response
    record whose HTTP body embeds a fake record boundary (the framing
    trap) plus the document's first 120 collapsed chars.  All payloads
    are Content-Length framed per the spec."""
    uri = f"https://www.{source}.example.com/{lang}/{doc_id % 100}"
    records = []

    def record(rtype: str, payload: bytes, extra: list[str]) -> bytes:
        head = [
            "WARC/1.0",
            f"WARC-Type: {rtype}",
            f"WARC-Record-ID: <urn:uuid:{doc_id:08d}-{len(records)}>",
            "WARC-Date: 2026-01-01T00:00:00Z",
            *extra,
            f"Content-Length: {len(payload)}",
        ]
        return ("\r\n".join(head) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"

    if doc_id % 4 == 0:
        info = b"software: synth-warc/1.0\r\n"
        records.append(record("warcinfo", info, []))
    req = (
        f"GET /{lang}/{doc_id % 100} HTTP/1.1\r\nHost: www.{source}."
        "example.com\r\n\r\n"
    ).encode()
    records.append(record("request", req, [f"WARC-Target-URI: {uri}"]))
    body = " ".join(text.split())[:120] + _WARC_TRAP
    http = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    ).encode()
    records.append(
        record(
            "response",
            http,
            [f"WARC-Target-URI: {uri}", "Content-Type: application/http"],
        )
    )
    return b"".join(records)


def parse_warc_records(data: bytes) -> list[dict]:
    """Parse a WARC byte payload by STRICT Content-Length framing: version
    line, header block to the blank line, exactly Content-Length payload
    bytes, then the two mandatory CRLFs.  Raises ValueError on a bad
    version line, a missing Content-Length, truncated payloads, or a
    missing record terminator — never resynchronizes by scanning (the
    planted in-body fake boundary makes a scanner mis-parse, which pytest
    asserts).  Response records additionally split their HTTP headers to
    surface status and body length."""
    out = []
    i = 0
    n = len(data)
    while i < n:
        if data[i:i + 2] == b"\r\n":  # tolerate inter-record padding CRLFs
            i += 2
            continue
        eol = data.find(b"\r\n", i)
        if eol < 0 or not data[i:eol].startswith(b"WARC/"):
            raise ValueError(f"WARC: bad version line at byte {i}")
        version = data[i:eol].decode()
        if version != "WARC/1.0":
            raise ValueError(f"WARC: unsupported version {version!r}")
        hdr_end = data.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError("WARC: unterminated header block")
        headers: dict[str, str] = {}
        for line in data[eol + 2: hdr_end].split(b"\r\n"):
            k, _, v = line.decode().partition(":")
            headers[k.strip().lower()] = v.strip()
        if "content-length" not in headers:
            raise ValueError("WARC: record without Content-Length")
        clen = int(headers["content-length"])
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end + 4 > n:
            raise ValueError("WARC: truncated record payload")
        if data[body_end: body_end + 4] != b"\r\n\r\n":
            raise ValueError("WARC: missing record terminator")
        payload = data[body_start:body_end]
        rec = {
            "rec_no": len(out) + 1,
            "rec_type": headers.get("warc-type", ""),
            "content_length": clen,
            "target_uri": headers.get("warc-target-uri"),
            "http_status": None,
            "body_bytes": None,
        }
        if rec["rec_type"] == "response":
            http_end = payload.find(b"\r\n\r\n")
            if http_end < 0:
                raise ValueError("WARC: response without HTTP header block")
            status_line = payload[: payload.find(b"\r\n")].decode()
            rec["http_status"] = int(status_line.split()[1])
            rec["body_bytes"] = len(payload) - http_end - 4
        out.append(rec)
        i = body_end + 4
    if not out:
        raise ValueError("WARC: no records")
    return out


def attach_warc(docs: DataFrame) -> DataFrame:
    """(doc_id, content) with WARC capture payloads (:func:`synth_warc`).
    mapInPandas, no shuffle."""
    src = docs.select("doc_id", "source", "lang", "text")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": [
                        synth_warc(int(d), s, lg, t)
                        for d, s, lg, t in zip(
                            pdf["doc_id"], pdf["source"], pdf["lang"], pdf["text"]
                        )
                    ],
                }
            )

    return src.mapInPandas(build, schema="doc_id long, content binary")


WARC_RECORDS_SCHEMA = (
    "doc_id long, rec_no long, rec_type string, content_length long, "
    "target_uri string, http_status long, body_bytes long"
)


def warc_records(media: DataFrame) -> DataFrame:
    """Record rows per WARC file. mapInPandas, no shuffle; asset→records
    linear fan-out."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for r in parse_warc_records(bytes(content)):
                    rows.append(
                        (
                            int(d), r["rec_no"], r["rec_type"],
                            r["content_length"], r["target_uri"],
                            r["http_status"], r["body_bytes"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "rec_no", "rec_type", "content_length",
                    "target_uri", "http_status", "body_bytes",
                ],
            )

    return media.mapInPandas(parse, schema=WARC_RECORDS_SCHEMA)


# ---------------------------------------------------------------------------
# Avro Object Container Files: the standard event-pipeline landing format
# (Kafka→lake dumps ship as OCF). The two encoding details readers get
# wrong are planted by construction: longs are ZIGZAG varints (a plain
# varint reader decodes doc_id 5 as 10), and every block is terminated by
# the 16-byte sync marker from the header (a reader that does not verify
# it silently accepts corrupt splits — ours raises).
# ---------------------------------------------------------------------------

#: records per Avro block in the synthesized containers
_AVRO_BLOCK_RECORDS = 16


def _zigzag_varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint_zigzag(data: bytes, i: int) -> tuple[int, int]:
    shift = 0
    z = 0
    while True:
        if i >= len(data):
            raise ValueError("avro: truncated varint")
        b = data[i]
        i += 1
        z |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    return (z >> 1) ^ -(z & 1), i


def synth_avro_ocf(source: str, rows: list[tuple[int, str]]) -> bytes:
    """A genuine Avro OCF for one source's documents: magic ``Obj\\x01``,
    metadata map (avro.schema for a (doc_id long, lang string) record,
    avro.codec null), md5-derived 16-byte sync marker, then blocks of
    ≤ _AVRO_BLOCK_RECORDS records, each ``(count, byte-size, payload,
    sync)`` per the spec."""
    import hashlib

    schema = (
        '{"type":"record","name":"doc","fields":[{"name":"doc_id","type":'
        '"long"},{"name":"lang","type":"string"}]}'
    ).encode()
    codec = b"null"
    sync = hashlib.md5(f"avro:{source}".encode()).digest()

    def avro_bytes(b: bytes) -> bytes:
        return _zigzag_varint(len(b)) + b

    header = (
        b"Obj\x01"
        + _zigzag_varint(2)
        + avro_bytes(b"avro.schema") + avro_bytes(schema)
        + avro_bytes(b"avro.codec") + avro_bytes(codec)
        + _zigzag_varint(0)
        + sync
    )
    blocks = []
    rows = sorted(rows)
    for i in range(0, len(rows), _AVRO_BLOCK_RECORDS):
        chunk = rows[i: i + _AVRO_BLOCK_RECORDS]
        payload = b"".join(
            _zigzag_varint(did) + avro_bytes(lang.encode())
            for did, lang in chunk
        )
        blocks.append(
            _zigzag_varint(len(chunk))
            + _zigzag_varint(len(payload))
            + payload
            + sync
        )
    return header + b"".join(blocks)


def parse_avro_ocf(data: bytes) -> dict:
    """Walk a null-codec Avro OCF: verify magic, decode the metadata map,
    then every block — re-decoding each (doc_id, lang) record and
    verifying the sync marker after every block (raises on mismatch,
    truncation, bad magic, or a codec this reader does not handle).
    Returns n_blocks, n_records, sum of doc_ids, total record-payload
    bytes."""
    if data[:4] != b"Obj\x01":
        raise ValueError("avro: bad magic")
    i = 4
    meta: dict[str, bytes] = {}
    while True:
        n_entries, i = _read_varint_zigzag(data, i)
        if n_entries == 0:
            break
        if n_entries < 0:  # spec: negative count precedes a byte size
            n_entries = -n_entries
            _, i = _read_varint_zigzag(data, i)
        for _ in range(n_entries):
            klen, i = _read_varint_zigzag(data, i)
            k = data[i: i + klen].decode(); i += klen
            vlen, i = _read_varint_zigzag(data, i)
            meta[k] = data[i: i + vlen]; i += vlen
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"avro: unsupported codec {codec!r}")
    sync = data[i: i + 16]; i += 16
    if len(sync) != 16:
        raise ValueError("avro: truncated header sync marker")
    n_blocks = n_records = 0
    sum_ids = 0
    payload_bytes = 0
    while i < len(data):
        cnt, i = _read_varint_zigzag(data, i)
        size, i = _read_varint_zigzag(data, i)
        end = i + size
        if end + 16 > len(data):
            raise ValueError("avro: truncated block")
        for _ in range(cnt):
            did, i = _read_varint_zigzag(data, i)
            slen, i = _read_varint_zigzag(data, i)
            i += slen
            sum_ids += did
            n_records += 1
        if i != end:
            raise ValueError("avro: block size does not match its records")
        if data[end: end + 16] != sync:
            raise ValueError("avro: sync marker mismatch after block")
        i = end + 16
        n_blocks += 1
        payload_bytes += size
    return {
        "n_blocks": n_blocks,
        "n_records": n_records,
        "sum_ids": sum_ids,
        "payload_bytes": payload_bytes,
    }


AVRO_BLOCKS_SCHEMA = (
    "source string, n_blocks long, n_records long, sum_ids long, "
    "payload_bytes long"
)


def avro_container_stats(docs: DataFrame) -> DataFrame:
    """Per-source Avro OCF round trip: group the source's (doc_id, lang)
    rows, synthesize a genuine container, and re-parse it — emitted stats
    come from the PARSER, so any zigzag/sync/framing bug breaks the
    oracle's replayed arithmetic. One applyInPandas keyed by source (the
    container build is per-file by definition); fan-in bounded by docs
    per source."""
    import pandas as _pd

    def per_source(pdf: _pd.DataFrame) -> _pd.DataFrame:
        source = pdf["source"].iloc[0]
        rows = list(zip((int(x) for x in pdf["doc_id"]), pdf["lang"]))
        blob = synth_avro_ocf(source, rows)
        r = parse_avro_ocf(blob)
        return _pd.DataFrame(
            [(source, r["n_blocks"], r["n_records"], r["sum_ids"],
              r["payload_bytes"])],
            columns=["source", "n_blocks", "n_records", "sum_ids",
                     "payload_bytes"],
        )

    return (
        docs.select("doc_id", "lang", "source")
        .groupBy("source")
        .applyInPandas(per_source, schema=AVRO_BLOCKS_SCHEMA)
    )


# ---------------------------------------------------------------------------
# WebP (RIFF container): no pixel decode — RIFF chunk walking plus the three
# header forms real pipelines must distinguish: VP8X (extended: feature
# flags + 24-bit LE canvas), VP8 (lossy: frame tag + 0x9D012A sync + 14-bit
# dims) and VP8L (lossless: 0x2F signature + bit-packed LE dims crossing
# byte boundaries). Classic parser bugs exercised: the RIFF even-padding
# rule after odd-sized chunks, and the VP8X canvas-vs-frame cross-check.
# Reference analogue: media asset metadata extraction (SURVEY.md §2 media
# ingest); format per the public WebP container spec.
# ---------------------------------------------------------------------------


def synth_webp(doc_id: int, byte_len: int) -> bytes:
    """A genuine extended-format WebP: VP8X first, then (lossy path) an
    optional ALPH chunk and a VP8 keyframe header, or (lossless path) a
    VP8L header; optionally a trailing odd-length EXIF chunk so the RIFF
    pad byte is exercised. Field values derive from (doc_id, byte_len)
    so the oracle replays them arithmetically."""
    import struct

    width = 16 + doc_id % 1200           # fits 14 bits
    height = 16 + byte_len % 700
    lossless = doc_id % 2 == 1
    has_alpha = byte_len % 3 == 0
    has_exif = doc_id % 5 == 0

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        out = fourcc + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2 == 1:
            out += b"\x00"               # RIFF even-padding rule
        return out

    flags = (0x10 if has_alpha else 0) | (0x08 if has_exif else 0)
    vp8x = bytes([flags]) + bytes(3) \
        + (width - 1).to_bytes(3, "little") \
        + (height - 1).to_bytes(3, "little")
    body = chunk(b"VP8X", vp8x)
    if lossless:
        packed = (width - 1) | ((height - 1) << 14) \
            | ((1 if has_alpha else 0) << 28)
        body += chunk(
            b"VP8L",
            b"\x2f" + struct.pack("<I", packed) + bytes(6 + byte_len % 9),
        )
    else:
        if has_alpha:
            body += chunk(b"ALPH", bytes([0]) + bytes(5 + doc_id % 4))
        psize = 11 + byte_len % 100
        tag = (0 << 0) | (0 << 1) | (1 << 4) | (psize << 5)
        body += chunk(
            b"VP8 ",
            tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
            + struct.pack("<HH", width, height) + bytes(10 + byte_len % 20),
        )
    if has_exif:
        body += chunk(b"EXIF", b"II*\x00" + bytes(3 + doc_id % 4))
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def parse_webp_info(data: bytes) -> dict:
    """Walk the RIFF chunk chain (honoring the even-padding rule) and
    decode VP8X/VP8/VP8L headers. Raises ValueError on bad magic, a RIFF
    size that disagrees with the payload, a truncated/overrunning chunk
    walk, a bad VP8 sync code or VP8L signature/version, a VP8X canvas
    that disagrees with the frame dimensions, or an alpha-flag mismatch
    between VP8X and the frame/ALPH evidence."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("WEBP: bad RIFF/WEBP magic")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if riff_size != len(data) - 8:
        raise ValueError("WEBP: RIFF size mismatch")
    i, n_chunks = 12, 0
    canvas = None
    flags_alpha = flags_exif = False
    fmt = None
    width = height = None
    frame_alpha = False
    saw_alph = saw_exif = False
    while i < len(data):
        if i + 8 > len(data):
            raise ValueError("WEBP: truncated chunk header")
        fourcc = data[i : i + 4]
        clen = struct.unpack_from("<I", data, i + 4)[0]
        body = data[i + 8 : i + 8 + clen]
        if len(body) < clen:
            raise ValueError("WEBP: truncated chunk body")
        n_chunks += 1
        if fourcc == b"VP8X":
            if clen != 10:
                raise ValueError(f"WEBP: VP8X length {clen} != 10")
            flags_alpha = bool(body[0] & 0x10)
            flags_exif = bool(body[0] & 0x08)
            canvas = (
                int.from_bytes(body[4:7], "little") + 1,
                int.from_bytes(body[7:10], "little") + 1,
            )
        elif fourcc == b"VP8 ":
            if clen < 10 or body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("WEBP: bad VP8 keyframe sync code")
            w_raw, h_raw = struct.unpack_from("<HH", body, 6)
            fmt, width, height = "VP8", w_raw & 0x3FFF, h_raw & 0x3FFF
        elif fourcc == b"VP8L":
            if clen < 5 or body[0] != 0x2F:
                raise ValueError("WEBP: bad VP8L signature")
            packed = struct.unpack_from("<I", body, 1)[0]
            if (packed >> 29) & 0x7:
                raise ValueError("WEBP: VP8L version != 0")
            fmt = "VP8L"
            width = (packed & 0x3FFF) + 1
            height = ((packed >> 14) & 0x3FFF) + 1
            frame_alpha = bool((packed >> 28) & 0x1)
        elif fourcc == b"ALPH":
            saw_alph = True
        elif fourcc == b"EXIF":
            saw_exif = True
        i += 8 + clen + (clen % 2)       # pad byte after odd chunks
    if i != len(data):
        raise ValueError("WEBP: chunk walk overran the file")
    if fmt is None:
        raise ValueError("WEBP: no VP8/VP8L frame chunk")
    if canvas is not None and canvas != (width, height):
        raise ValueError(f"WEBP: VP8X canvas {canvas} != frame {(width, height)}")
    if canvas is not None:
        evidence = frame_alpha if fmt == "VP8L" else saw_alph
        if flags_alpha != evidence:
            raise ValueError("WEBP: VP8X alpha flag disagrees with frame")
        if flags_exif != saw_exif:
            raise ValueError("WEBP: VP8X EXIF flag disagrees with chunks")
    return {
        "format": fmt,
        "width": width,
        "height": height,
        "has_alpha": flags_alpha,
        "has_exif": flags_exif,
        "n_chunks": n_chunks,
    }


def attach_webp(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with WebP payloads (:func:`synth_webp`).
    mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_webp(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


WEBP_INFO_SCHEMA = (
    "doc_id long, format string, width long, height long, "
    "has_alpha boolean, has_exif boolean, n_chunks long"
)


def webp_info(media: DataFrame) -> DataFrame:
    """WebP header facts via the RIFF chunk walk. mapInPandas, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "format", "width", "height",
                "has_alpha", "has_exif", "n_chunks",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                info = parse_webp_info(bytes(content))
                out["doc_id"].append(int(d))
                out["format"].append(info["format"])
                out["width"].append(int(info["width"]))
                out["height"].append(int(info["height"]))
                out["has_alpha"].append(bool(info["has_alpha"]))
                out["has_exif"].append(bool(info["has_exif"]))
                out["n_chunks"].append(int(info["n_chunks"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=WEBP_INFO_SCHEMA)


# ---------------------------------------------------------------------------
# Ogg (the Vorbis/Opus/Theora transport): page walking with the REAL Ogg
# CRC-32 (direct form, poly 0x04C11DB7, init 0, no reflection, xorout 0 —
# NOT zlib's reflected CRC; using zlib.crc32 here fails every page), lacing
# (segment) tables including the 255-boundary continuation rule, BOS/EOS
# header-type flags and page-sequence contiguity. Reference analogue:
# media asset metadata extraction (SURVEY.md §2 media ingest); format per
# RFC 3533.
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE: list[int] = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 \
            else (_r << 1) & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)
del _b, _r


def ogg_crc(data: bytes) -> int:
    """Ogg's CRC-32 (RFC 3533 §6: poly 0x04C11DB7, init 0, unreflected,
    xorout 0). Independent witness in pytest: this variant of
    crc("123456789") is 0x89A1897F (the CRC-32/POSIX check value
    0x765E7680 before POSIX's final xor)."""
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[(crc >> 24) ^ byte]
    return crc


def synth_ogg(doc_id: int, byte_len: int) -> bytes:
    """A genuine single-stream Ogg: 2-5 pages, BOS on the first, EOS on
    the last, real lacing tables (payload lengths 200..599 so the
    255-boundary zero-lacing rule fires on exact multiples), granules
    strictly increasing, and the real Ogg CRC over each page with the
    CRC field zeroed. Field values derive from (doc_id, byte_len)."""
    import struct

    n_pages = 2 + byte_len % 4
    serial = 4096 + doc_id % 1000
    out = b""
    for p in range(n_pages):
        plen = 200 + (doc_id * 7 + p * 13) % 400
        payload = bytes(((doc_id + p + j) & 0xFF) for j in range(plen))
        full, rem = divmod(plen, 255)
        lacing = bytes([255] * full + [rem])   # rem==0 IS the required 0 lacing
        htype = (0x02 if p == 0 else 0) | (0x04 if p == n_pages - 1 else 0)
        granule = (p + 1) * (100 + doc_id % 50)
        header = (
            b"OggS" + bytes([0, htype])
            + struct.pack("<q", granule)
            + struct.pack("<I", serial)
            + struct.pack("<I", p)
            + b"\x00\x00\x00\x00"               # CRC placeholder
            + bytes([len(lacing)]) + lacing
        )
        page = header + payload
        crc = ogg_crc(page)
        page = page[:22] + struct.pack("<I", crc) + page[26:]
        out += page
    return out


def parse_ogg_pages(data: bytes) -> list[dict]:
    """Walk the page chain. Raises ValueError on a bad capture pattern,
    nonzero version, CRC mismatch (recomputed with the CRC field zeroed),
    page-sequence discontinuity, BOS off the first page / missing, EOS
    off the last page / missing, a serial change mid-stream, a
    non-increasing granule, or a truncated page."""
    import struct

    pages: list[dict] = []
    i = 0
    serial0 = None
    last_granule = None
    while i < len(data):
        if i + 27 > len(data):
            raise ValueError("OGG: truncated page header")
        if data[i : i + 4] != b"OggS":
            raise ValueError("OGG: bad capture pattern")
        if data[i + 4] != 0:
            raise ValueError(f"OGG: version {data[i + 4]} != 0")
        htype = data[i + 5]
        granule = struct.unpack_from("<q", data, i + 6)[0]
        serial = struct.unpack_from("<I", data, i + 14)[0]
        seq = struct.unpack_from("<I", data, i + 18)[0]
        crc_stored = struct.unpack_from("<I", data, i + 22)[0]
        n_seg = data[i + 26]
        lace_end = i + 27 + n_seg
        if lace_end > len(data):
            raise ValueError("OGG: truncated lacing table")
        lacing = data[i + 27 : lace_end]
        plen = sum(lacing)
        page_end = lace_end + plen
        if page_end > len(data):
            raise ValueError("OGG: truncated page body")
        page = data[i:page_end]
        zeroed = page[:22] + b"\x00\x00\x00\x00" + page[26:]
        if ogg_crc(zeroed) != crc_stored:
            raise ValueError(f"OGG: CRC mismatch on page {len(pages)}")
        if seq != len(pages):
            raise ValueError(f"OGG: page sequence {seq} != {len(pages)}")
        if serial0 is None:
            serial0 = serial
        elif serial != serial0:
            raise ValueError("OGG: serial changed mid-stream")
        is_bos = bool(htype & 0x02)
        is_eos = bool(htype & 0x04)
        if is_bos != (len(pages) == 0):
            raise ValueError("OGG: BOS flag off the first page")
        if last_granule is not None and granule <= last_granule:
            raise ValueError("OGG: non-increasing granule")
        last_granule = granule
        pages.append(
            {
                "page_no": len(pages),
                "serial": serial,
                "granule": granule,
                "is_bos": is_bos,
                "is_eos": is_eos,
                "payload_len": plen,
                "n_segments": n_seg,
            }
        )
        i = page_end
    if not pages:
        raise ValueError("OGG: empty stream")
    for p in pages[:-1]:
        if p["is_eos"]:
            raise ValueError("OGG: EOS before the last page")
    if not pages[-1]["is_eos"]:
        raise ValueError("OGG: missing EOS on the last page")
    return pages


def attach_ogg(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with Ogg payloads (:func:`synth_ogg`).
    mapInPandas; pre-spread width 4 — the per-page DIRECT-form CRC-32 in
    synth + the parse walk are the mm family's heaviest pure-Python chain
    (serial A/B at sf0.1: 3.4 s -> 1.5 s wall)."""
    src = _spread_narrow(
        docs.select(
            "doc_id",
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len"),
        )
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_ogg(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


OGG_PAGES_SCHEMA = (
    "doc_id long, page_no long, serial long, granule long, "
    "is_bos boolean, is_eos boolean, payload_len long, n_segments long"
)


def ogg_pages(media: DataFrame) -> DataFrame:
    """Per-page rows via the CRC-validated page walk. mapInPandas,
    asset->page-rows linear fan-out, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "page_no", "serial", "granule",
                "is_bos", "is_eos", "payload_len", "n_segments",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for pg in parse_ogg_pages(bytes(content)):
                    out["doc_id"].append(int(d))
                    for k in ("page_no", "serial", "granule",
                              "payload_len", "n_segments"):
                        out[k].append(int(pg[k]))
                    out["is_bos"].append(bool(pg["is_bos"]))
                    out["is_eos"].append(bool(pg["is_eos"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=OGG_PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# PDF (classic xref table): no content decompression — the cross-reference
# machinery that real document-extraction pipelines must get right before
# any text comes out. The parser reaches every object ONLY through the
# xref table (backward startxref scan -> fixed 20-byte entries -> seek),
# never by scanning for "N 0 obj", so a single wrong offset reads garbage
# and raises; /Count is cross-checked against /Kids and each stream's
# /Length against its actual extent. Content streams are uncompressed
# text-showing operators (BT (..) Tj ET) — legal PDF; /Filter decoding is
# codec territory and out of scope. Format per the public PDF 1.4 spec.
# ---------------------------------------------------------------------------


def synth_pdf(doc_id: int, byte_len: int) -> bytes:
    """A genuine classic-xref PDF: catalog, page tree, one uncompressed
    text content stream per page, a fixed-20-byte-entry xref table and a
    trailer. Page text derives from (doc_id, byte_len) so the oracle
    replays it."""
    n_pages = 1 + doc_id % 3
    objs: list[bytes] = []
    kids = " ".join(f"{3 + p} 0 R" for p in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for p in range(n_pages):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents "
            f"{3 + n_pages + p} 0 R >>".encode()
        )
    for p in range(n_pages):
        text = f"pg{p} doc{doc_id} len{byte_len}"
        stream = f"BT ({text}) Tj ET".encode()
        objs.append(
            f"<< /Length {len(stream)} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
    out = b"%PDF-1.4\n"
    offsets = [0]  # object 0 is the free-list head
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF".encode()
    )
    return out


def _pdf_ref(dict_bytes: bytes, key: bytes) -> int:
    """Read the object number of an indirect reference `/Key N 0 R`."""
    i = dict_bytes.find(key)
    if i == -1:
        raise ValueError(f"PDF: missing {key.decode()}")
    tail = dict_bytes[i + len(key) :].lstrip()
    num = tail.split(b" ", 1)[0]
    if not num.isdigit():
        raise ValueError(f"PDF: malformed reference after {key.decode()}")
    return int(num)


def parse_pdf_pages(data: bytes) -> list[dict]:
    """Walk startxref -> xref -> trailer -> catalog -> page tree ->
    content streams, reaching objects only via xref offsets. Raises
    ValueError on a bad header, a missing/garbled startxref, an xref
    offset that does not land on `xref`, an entry that is not exactly 20
    bytes framed, an object offset that does not land on `N 0 obj`, a
    /Count that disagrees with /Kids, or a /Length that disagrees with
    the stream's actual extent."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("PDF: bad header")
    sx = data.rfind(b"startxref")
    if sx == -1:
        raise ValueError("PDF: missing startxref")
    tail_lines = data[sx:].split(b"\n")
    if len(tail_lines) < 2 or not tail_lines[1].strip().isdigit():
        raise ValueError("PDF: garbled startxref")
    xref_off = int(tail_lines[1])
    if data[xref_off : xref_off + 4] != b"xref":
        raise ValueError("PDF: startxref does not point at an xref table")
    # subsection header: "0 N"
    hdr_end = data.index(b"\n", xref_off)
    sub_end = data.index(b"\n", hdr_end + 1)
    first, count = data[hdr_end + 1 : sub_end].split(b" ")
    if int(first) != 0:
        raise ValueError("PDF: xref subsection must start at object 0")
    n_entries = int(count)
    entries_start = sub_end + 1
    offsets: dict[int, int] = {}
    for i in range(n_entries):
        entry = data[entries_start + 20 * i : entries_start + 20 * (i + 1)]
        if len(entry) != 20 or entry[10:11] != b" " or entry[16:17] != b" ":
            raise ValueError(f"PDF: xref entry {i} is not 20-byte framed")
        kind = entry[17:18]
        if kind not in (b"n", b"f"):
            raise ValueError(f"PDF: xref entry {i} kind {kind!r}")
        if kind == b"n":
            offsets[i] = int(entry[:10])

    def load(obj_no: int) -> bytes:
        off = offsets.get(obj_no)
        if off is None:
            raise ValueError(f"PDF: object {obj_no} not in xref")
        head = f"{obj_no} 0 obj".encode()
        if data[off : off + len(head)] != head:
            raise ValueError(
                f"PDF: xref offset for object {obj_no} lands on garbage"
            )
        end = data.index(b"endobj", off)
        return data[off + len(head) : end]

    trailer_at = data.rfind(b"trailer")
    if trailer_at == -1:
        raise ValueError("PDF: missing trailer")
    trailer = data[trailer_at:sx]
    root = _pdf_ref(trailer, b"/Root")
    catalog = load(root)
    pages_obj = load(_pdf_ref(catalog, b"/Pages"))
    ki = pages_obj.index(b"/Kids")
    kids_src = pages_obj[pages_obj.index(b"[", ki) + 1 : pages_obj.index(b"]", ki)]
    kid_toks = kids_src.split()
    if len(kid_toks) % 3 != 0 or any(
        t != b"R" for t in kid_toks[2::3]
    ):
        raise ValueError("PDF: malformed /Kids reference array")
    kids = [int(t) for t in kid_toks[0::3]]
    ci = pages_obj.index(b"/Count")
    declared = int(pages_obj[ci + 6 :].split()[0])
    if declared != len(kids):
        raise ValueError(
            f"PDF: /Count {declared} disagrees with {len(kids)} /Kids"
        )
    out: list[dict] = []
    for page_no, kid in enumerate(kids):
        page = load(kid)
        content = load(_pdf_ref(page, b"/Contents"))
        li = content.index(b"/Length")
        declared_len = int(content[li + 7 :].split(b" ")[1].rstrip(b">"))
        si = content.index(b"stream\n") + len(b"stream\n")
        ei = content.index(b"\nendstream", si)
        stream = content[si:ei]
        if len(stream) != declared_len:
            raise ValueError(
                f"PDF: /Length {declared_len} != stream extent {len(stream)}"
            )
        if not (stream.startswith(b"BT (") and stream.endswith(b") Tj ET")):
            raise ValueError("PDF: unexpected content stream operators")
        out.append(
            {
                "page_no": page_no,
                "page_obj": kid,
                "text": stream[4:-7].decode("latin-1"),
                "content_len": len(stream),
            }
        )
    return out


def attach_pdf(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with PDF payloads (:func:`synth_pdf`).
    mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_pdf(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


PDF_PAGES_SCHEMA = (
    "doc_id long, page_no long, page_obj long, text string, content_len long"
)


def pdf_pages(media: DataFrame) -> DataFrame:
    """Per-page text rows via the xref walk. mapInPandas,
    asset->page-rows linear fan-out, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "page_no", "page_obj", "text", "content_len",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for pg in parse_pdf_pages(bytes(content)):
                    out["doc_id"].append(int(d))
                    out["page_no"].append(int(pg["page_no"]))
                    out["page_obj"].append(int(pg["page_obj"]))
                    out["text"].append(pg["text"])
                    out["content_len"].append(int(pg["content_len"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=PDF_PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Matroska/WebM (EBML, RFC 8794): no codec decode — the VINT machinery
# every mkv/webm pipeline must get right: element IDs keep their length-
# marker bit while SIZES strip it (the classic confusion), widths 1-8
# bytes chosen minimally so multi-byte VINTs genuinely occur, the
# all-ones "unknown size" encoding is rejected, the nested element walk
# must land EXACTLY on each master element's end, and the optional CRC-32
# element (0xBF) covers the REMAINDER of its parent and uses zlib's
# REFLECTED CRC — the opposite convention from Ogg's direct-form CRC two
# parsers up, so mixing them up fails loudly in both places.
# ---------------------------------------------------------------------------

_MKV_TRACK_TYPES = {1: "video", 2: "audio", 17: "subtitle"}
_MKV_CODECS = ["V_VP9", "A_OPUS", "S_TEXT/UTF8"]


def _ebml_size(n: int) -> bytes:
    """Encode a size VINT at minimal width (marker bit consumed)."""
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:  # all-ones reserved for unknown
            return ((1 << (7 * width)) | n).to_bytes(width, "big")
    raise ValueError("EBML: size too large")


def _ebml_uint(n: int) -> bytes:
    out = n.to_bytes(max(1, (n.bit_length() + 7) // 8), "big")
    return out


def _ebml_elem(eid: bytes, payload: bytes) -> bytes:
    return eid + _ebml_size(len(payload)) + payload


def synth_mkv(doc_id: int, byte_len: int) -> bytes:
    """A genuine minimal Matroska: EBML header (DocType), Segment
    containing Info (TimestampScale + a CRC-32 element covering the rest
    of Info) and Tracks (1-3 TrackEntry children). Sizes force 1- and
    2-byte VINTs; values derive from (doc_id, byte_len)."""
    import zlib

    n_tracks = 1 + doc_id % 3
    tscale = 1_000_000 + (byte_len % 7) * 1000
    header = _ebml_elem(
        b"\x1a\x45\xdf\xa3",
        _ebml_elem(b"\x42\x86", _ebml_uint(1))          # EBMLVersion
        + _ebml_elem(b"\x42\x82", b"matroska")           # DocType
        + _ebml_elem(b"\x42\x87", _ebml_uint(4)),        # DocTypeVersion
    )
    info_rest = (
        _ebml_elem(b"\x2a\xd7\xb1", _ebml_uint(tscale))  # TimestampScale
        + _ebml_elem(b"\x7b\xa9", f"doc{doc_id}".encode())  # Title
    )
    # CRC-32 element must be FIRST inside its parent and covers everything
    # after itself (RFC 8794 s11.3.1) — zlib (reflected) CRC, little-endian
    crc = _ebml_elem(
        b"\xbf", zlib.crc32(info_rest).to_bytes(4, "little")
    )
    info = _ebml_elem(b"\x15\x49\xa9\x66", crc + info_rest)
    entries = b""
    for p in range(n_tracks):
        ttype = [1, 2, 17][p % 3]
        entries += _ebml_elem(
            b"\xae",
            _ebml_elem(b"\xd7", _ebml_uint(p + 1))       # TrackNumber
            + _ebml_elem(b"\x83", _ebml_uint(ttype))     # TrackType
            + _ebml_elem(b"\x86", _MKV_CODECS[p % 3].encode()),  # CodecID
        )
    tracks = _ebml_elem(b"\x16\x54\xae\x6b", entries)
    # a Void padding element (standard mkv practice for in-place edits)
    # pushes the Segment payload past 127 bytes so its size is a GENUINE
    # multi-byte VINT while leaf sizes stay 1-byte — both widths walked
    void = _ebml_elem(b"\xec", bytes(100 + byte_len % 200))
    segment = _ebml_elem(b"\x18\x53\x80\x67", info + void + tracks)
    return header + segment


def _read_vint(data: bytes, i: int, strip_marker: bool) -> tuple[int, int, int]:
    """(value, width, new_i). IDs keep the marker bit; sizes strip it.
    Raises on truncation, a zero lead byte, or (for sizes) the all-ones
    unknown-size encoding."""
    if i >= len(data):
        raise ValueError("EBML: truncated VINT")
    lead = data[i]
    if lead == 0:
        raise ValueError("EBML: VINT width > 8 unsupported")
    width = 8 - lead.bit_length() + 1
    if i + width > len(data):
        raise ValueError("EBML: truncated VINT body")
    raw = int.from_bytes(data[i : i + width], "big")
    if strip_marker:
        val = raw & ((1 << (7 * width)) - 1)
        if val == (1 << (7 * width)) - 1:
            raise ValueError("EBML: unknown-size elements unsupported")
    else:
        val = raw
    return val, width, i + width


def _walk_ebml(data: bytes, lo: int, hi: int) -> list[tuple[int, bytes]]:
    """Children of [lo, hi) as (id, payload) pairs; the walk must land
    exactly on hi."""
    out = []
    i = lo
    while i < hi:
        eid, _, i = _read_vint(data, i, strip_marker=False)
        size, _, i = _read_vint(data, i, strip_marker=True)
        if i + size > hi:
            raise ValueError(
                f"EBML: element 0x{eid:x} overruns its parent"
            )
        out.append((eid, data[i : i + size]))
        i += size
    if i != hi:
        raise ValueError("EBML: child walk missed the parent end")
    return out


def parse_mkv_tracks(data: bytes) -> list[dict]:
    """EBML header + Segment walk. Raises on a bad root ID, a DocType
    other than matroska/webm, a CRC-32 element that fails zlib
    verification, an unknown-size element, or any size that disagrees
    with its parent's extent."""
    import zlib

    roots = _walk_ebml(data, 0, len(data))
    if len(roots) != 2 or roots[0][0] != 0x1A45DFA3:
        raise ValueError("EBML: missing EBML header root")
    if roots[1][0] != 0x18538067:
        raise ValueError("EBML: missing Segment root")
    header_kids = dict(_walk_children(roots[0][1]))
    doctype = header_kids.get(0x4282, b"").decode("latin-1")
    if doctype not in ("matroska", "webm"):
        raise ValueError(f"EBML: DocType {doctype!r} not matroska/webm")
    seg_kids = _walk_children(roots[1][1])
    info = next(p for eid, p in seg_kids if eid == 0x1549A966)
    info_kids = _walk_children(info)
    if info_kids and info_kids[0][0] == 0xBF:
        crc_payload = info_kids[0][1]
        crc_elem_len = len(_ebml_elem(b"\xbf", crc_payload))
        covered = info[crc_elem_len:]
        if int.from_bytes(crc_payload, "little") != zlib.crc32(covered):
            raise ValueError("EBML: Info CRC-32 mismatch")
    info_map = dict(info_kids)
    tscale = int.from_bytes(info_map.get(0x2AD7B1, b"\x00"), "big")
    tracks = next(p for eid, p in seg_kids if eid == 0x1654AE6B)
    out = []
    for eid, entry in _walk_children(tracks):
        if eid != 0xAE:
            raise ValueError(f"EBML: unexpected Tracks child 0x{eid:x}")
        kids = dict(_walk_children(entry))
        ttype = int.from_bytes(kids[0x83], "big")
        label = _MKV_TRACK_TYPES.get(ttype)
        if label is None:
            raise ValueError(f"EBML: unknown TrackType {ttype}")
        out.append(
            {
                "track_no": int.from_bytes(kids[0xD7], "big"),
                "track_type": label,
                "codec_id": kids[0x86].decode("latin-1"),
                "timestamp_scale": tscale,
                "doctype": doctype,
            }
        )
    return out


def _walk_children(payload: bytes) -> list[tuple[int, bytes]]:
    return _walk_ebml(payload, 0, len(payload))


def attach_mkv(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with Matroska payloads
    (:func:`synth_mkv`). mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_mkv(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


MKV_TRACKS_SCHEMA = (
    "doc_id long, track_no long, track_type string, codec_id string, "
    "timestamp_scale long, doctype string"
)


def mkv_tracks(media: DataFrame) -> DataFrame:
    """Per-track rows via the EBML walk. mapInPandas, asset->track-rows
    linear fan-out, no shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "track_no", "track_type", "codec_id",
                "timestamp_scale", "doctype",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for t in parse_mkv_tracks(bytes(content)):
                    out["doc_id"].append(int(d))
                    out["track_no"].append(int(t["track_no"]))
                    out["track_type"].append(t["track_type"])
                    out["codec_id"].append(t["codec_id"])
                    out["timestamp_scale"].append(int(t["timestamp_scale"]))
                    out["doctype"].append(t["doctype"])
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=MKV_TRACKS_SCHEMA)


# ---------------------------------------------------------------------------
# TAR (POSIX ustar): the third archive container beside ZIP and WARC —
# 512-byte block framing, OCTAL size/mtime fields (a decimal read is the
# classic bug and corrupts every offset after the first file), and the
# header checksum computed with the checksum field REPLACED BY SPACES
# (the spec's one weird rule). Sizes chosen to force non-trivial padding.
# ---------------------------------------------------------------------------


def _tar_header(name: str, size: int, mtime: int) -> bytes:
    h = bytearray(512)
    nb = name.encode()
    h[0 : len(nb)] = nb
    h[100:108] = b"0000644\x00"                 # mode
    h[108:116] = b"0000000\x00"                 # uid
    h[116:124] = b"0000000\x00"                 # gid
    h[124:136] = f"{size:011o}\x00".encode()    # size, OCTAL
    h[136:148] = f"{mtime:011o}\x00".encode()   # mtime, OCTAL
    h[148:156] = b" " * 8                       # checksum field = spaces
    h[156] = ord("0")                           # typeflag: regular file
    h[257:263] = b"ustar\x00"                   # magic
    h[263:265] = b"00"                          # version
    chk = sum(h)
    h[148:156] = f"{chk:06o}\x00 ".encode()
    return bytes(h)


def synth_tar(doc_id: int, byte_len: int) -> bytes:
    """A genuine ustar archive: 1-4 regular files with octal-encoded
    sizes/mtimes, 512-byte padded contents, and the two-zero-block
    terminator. Field values derive from (doc_id, byte_len)."""
    n_files = 1 + byte_len % 4
    out = b""
    for k in range(n_files):
        size = 10 + (doc_id * 13 + k * 101) % 1500   # crosses block sizes
        mtime = 1_700_000_000 + doc_id * 37 + k
        name = f"d{doc_id}/f{k}.txt"
        body = bytes(((doc_id + k + j) & 0xFF) for j in range(size))
        pad = (-size) % 512
        out += _tar_header(name, size, mtime) + body + bytes(pad)
    return out + bytes(1024)


def parse_tar_entries(data: bytes) -> list[dict]:
    """Walk the 512-byte block chain. Raises on a bad magic, a checksum
    that fails the replaced-by-spaces rule, a non-octal size field, a
    truncated member, or a missing two-zero-block terminator."""
    entries: list[dict] = []
    i = 0
    while True:
        if i + 512 > len(data):
            raise ValueError("TAR: truncated header block")
        block = data[i : i + 512]
        if block == bytes(512):
            if data[i + 512 : i + 1024] != bytes(512):
                raise ValueError("TAR: missing second terminator block")
            break
        if block[257:263] != b"ustar\x00":
            raise ValueError("TAR: bad ustar magic")
        stored = block[148:156]
        spaced = block[:148] + b" " * 8 + block[156:]
        chk = int(stored.rstrip(b"\x00 ").lstrip(), 8)
        if chk != sum(spaced):
            raise ValueError(f"TAR: checksum {chk} != {sum(spaced)}")
        size_field = block[124:136].rstrip(b"\x00 ")
        if not size_field or any(c not in b"01234567" for c in size_field):
            raise ValueError("TAR: non-octal size field")
        size = int(size_field, 8)
        mtime = int(block[136:148].rstrip(b"\x00 "), 8)
        name = block[:100].rstrip(b"\x00").decode("latin-1")
        body_end = i + 512 + size
        if body_end > len(data):
            raise ValueError("TAR: truncated member body")
        entries.append(
            {
                "entry_no": len(entries),
                "file_name": name,
                "size": size,
                "mtime": mtime,
                "n_blocks": 1 + (size + 511) // 512,
            }
        )
        i = body_end + ((-size) % 512)
    return entries


def attach_tar(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with ustar payloads (:func:`synth_tar`).
    mapInPandas; pre-spread width 4 — the 512-byte block synthesis +
    checksum walk is heavy enough that the serial chain costs more wall
    than the spread's per-partition overhead (1.3 s -> 0.8 s at sf0.1)."""
    src = _spread_narrow(
        docs.select(
            "doc_id",
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len"),
        )
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_tar(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


TAR_ENTRIES_SCHEMA = (
    "doc_id long, entry_no long, file_name string, size long, mtime long, "
    "n_blocks long"
)


def tar_entries(media: DataFrame) -> DataFrame:
    """Per-member rows via the block walk. mapInPandas, linear fan-out."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "entry_no", "file_name", "size", "mtime",
                "n_blocks",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                for e in parse_tar_entries(bytes(content)):
                    out["doc_id"].append(int(d))
                    out["entry_no"].append(int(e["entry_no"]))
                    out["file_name"].append(e["file_name"])
                    out["size"].append(int(e["size"]))
                    out["mtime"].append(int(e["mtime"]))
                    out["n_blocks"].append(int(e["n_blocks"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=TAR_ENTRIES_SCHEMA)


# ---------------------------------------------------------------------------
# gzip (RFC 1952) with STORED deflate blocks (RFC 1951 BTYPE=00): a REAL,
# fully-decodable gzip — no Huffman codec needed, stored blocks are legal
# deflate — exercising the optional-field header walk (FNAME terminated by
# NUL), the LEN/NLEN ones-complement check inside every stored block, and
# the CRC32+ISIZE trailer (zlib CRC over the DECOMPRESSED payload). The
# web-corpus transport format: .warc.gz / .json.gz land exactly here.
# ---------------------------------------------------------------------------


def synth_gzip(doc_id: int, byte_len: int) -> bytes:
    """A genuine single-member gzip: FLG.FNAME set, payload split across
    1-3 stored deflate blocks, correct CRC32/ISIZE trailer. Verifiable
    with stdlib gzip.decompress (independent reader agreement)."""
    import struct
    import zlib

    total = 20 + (doc_id * 11 + byte_len) % 900
    payload = bytes(((doc_id + j) & 0xFF) for j in range(total))
    mtime = 1_700_000_000 + doc_id
    name = f"doc{doc_id}.bin"
    out = (
        b"\x1f\x8b\x08\x08"                      # magic, CM=deflate, FNAME
        + struct.pack("<I", mtime)
        + b"\x00\x03"                            # XFL, OS=unix
        + name.encode() + b"\x00"
    )
    n_blocks = 1 + doc_id % 3
    cut = [total * k // n_blocks for k in range(n_blocks + 1)]
    for k in range(n_blocks):
        chunk = payload[cut[k] : cut[k + 1]]
        final = 1 if k == n_blocks - 1 else 0
        out += bytes([final])                    # BFINAL, BTYPE=00
        out += struct.pack("<HH", len(chunk), len(chunk) ^ 0xFFFF)
        out += chunk
    out += struct.pack("<II", zlib.crc32(payload), total % (1 << 32))
    return out


def parse_gzip_member(data: bytes) -> dict:
    """Decode header, stored deflate blocks, and trailer. Raises on a bad
    magic/CM, an unsupported BTYPE (Huffman blocks are codec-gated), a
    LEN/NLEN complement mismatch, a CRC32 or ISIZE trailer mismatch, or
    trailing garbage."""
    import struct
    import zlib

    if len(data) < 18 or data[:2] != b"\x1f\x8b":
        raise ValueError("GZIP: bad magic")
    if data[2] != 8:
        raise ValueError(f"GZIP: CM {data[2]} != deflate")
    flg = data[3]
    mtime = struct.unpack_from("<I", data, 4)[0]
    i = 10
    if flg & 0x04:                               # FEXTRA
        xlen = struct.unpack_from("<H", data, i)[0]
        i += 2 + xlen
    name = None
    if flg & 0x08:                               # FNAME
        end = data.index(b"\x00", i)
        name = data[i:end].decode("latin-1")
        i = end + 1
    if flg & 0x10:                               # FCOMMENT
        i = data.index(b"\x00", i) + 1
    if flg & 0x02:                               # FHCRC
        i += 2
    payload = b""
    n_blocks = 0
    while True:
        if i >= len(data):
            raise ValueError("GZIP: truncated deflate stream")
        bfinal = data[i] & 0x01
        btype = (data[i] >> 1) & 0x03
        if btype != 0:
            raise NotImplementedError(
                "GZIP: Huffman deflate blocks are codec-gated; only "
                "stored (BTYPE=00) blocks decode here"
            )
        ln, nln = struct.unpack_from("<HH", data, i + 1)
        if ln != nln ^ 0xFFFF:
            raise ValueError("GZIP: LEN/NLEN complement mismatch")
        payload += data[i + 5 : i + 5 + ln]
        if len(data) < i + 5 + ln:
            raise ValueError("GZIP: truncated stored block")
        i += 5 + ln
        n_blocks += 1
        if bfinal:
            break
    crc, isize = struct.unpack_from("<II", data, i)
    if i + 8 != len(data):
        raise ValueError("GZIP: trailing garbage after the trailer")
    if crc != zlib.crc32(payload):
        raise ValueError("GZIP: CRC32 trailer mismatch")
    if isize != len(payload) % (1 << 32):
        raise ValueError("GZIP: ISIZE trailer mismatch")
    return {
        "file_name": name,
        "mtime": mtime,
        "n_blocks": n_blocks,
        "payload_len": len(payload),
        "crc32": crc,
    }


def attach_gzip(docs: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content) with gzip payloads (:func:`synth_gzip`).
    mapInPandas, no shuffle."""
    src = docs.select(
        "doc_id", F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("byte_len")
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "content": [
                        synth_gzip(int(d), int(b))
                        for d, b in zip(pdf["doc_id"], pdf["byte_len"])
                    ],
                }
            )

    return src.mapInPandas(
        build, schema="doc_id long, byte_len long, content binary"
    )


GZIP_INFO_SCHEMA = (
    "doc_id long, file_name string, mtime long, n_blocks long, "
    "payload_len long"
)


def gzip_members(media: DataFrame) -> DataFrame:
    """Member facts via the stored-deflate decode. mapInPandas, no
    shuffle. (crc32 is asserted in pytest, not oracle-projected — it is
    not SQL-replayable arithmetic.)"""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "file_name", "mtime", "n_blocks", "payload_len",
            )}
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                m = parse_gzip_member(bytes(content))
                out["doc_id"].append(int(d))
                out["file_name"].append(m["file_name"])
                out["mtime"].append(int(m["mtime"]))
                out["n_blocks"].append(int(m["n_blocks"]))
                out["payload_len"].append(int(m["payload_len"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(parse, schema=GZIP_INFO_SCHEMA)
