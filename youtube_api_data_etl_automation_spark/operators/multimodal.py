"""Multimodal column processing (north-star op): opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched Pandas functions.

Design (per the 100 TB posture):
- payloads travel as ``BinaryType`` columns next to a metadata struct
  (mime type, byte length) so planners can prune/filter on metadata without
  touching bytes;
- compute over payloads is ``mapInPandas`` — Arrow batches, zero
  row-at-a-time Python, output schema declared up front so Catalyst can
  plan around the black box;
- partitioning: payload tables should be partitioned/bucketed by the id the
  downstream join uses; nothing here ever collects to the driver.

No codec libraries are installed in this environment, so the decoders are
split honestly: ``decode_image`` REALLY decodes the formats that need no
codec library (BMP incl. palette/RLE8/32-bit — r11; binary PNM P4/P5/P6;
the full PNG variant matrix via stdlib zlib + scanline unfilter incl.
palette/16-bit/Adam7 — r9; Huffman JPEG baseline AND progressive via
operators/jpeg.py — r9; first-frame GIF via operators/gif.py — r9;
lossless WebP via operators/vp8l.py — r10: prefix codes + LZ77 + color
cache + all four transforms; TIFF baseline/LZW/deflate/PackBits incl.
palette via operators/tiff.py — r10/r11).
``decode_audio`` really decodes RIFF/WAVE integer PCM 8/16/24/32,
IEEE-float 32/64, G.711, IMA + Microsoft ADPCM (the matrix completed in
r9), and — r10 — FLAC via operators/flac.py (pure-integer LPC + Rice).
MPEG-1 Layer I essence decodes to exact SUBBAND samples (r11,
operators/mpegaudio.py; ``audio_subband_features`` below) — no PCM
synthesis without the unrecallable Table 3-B.3 window. Every
remaining compressed format (arithmetic JPEG, lossy-VP8 WebP, Layer
II/III, AAC) raises an explicit NotImplementedError from inside the
same mapInPandas shape, where it becomes a quarantine ROW (see
:func:`_quarantine_map`, the one harness every payload operator runs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_binary(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Model documents as multimodal rows: opaque binary payload + metadata
    struct. (Here the payload is the utf-8 encoded text; in production it is
    image/audio/video bytes ingested as-is.)"""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.octet_length(payload).alias("n_bytes"),
    )
    return docs.select(F.col(id_col).alias("doc_id"), payload.alias("payload"), meta.alias("meta"))


FRAME_FEATURES_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_len int, first_byte int, last_byte int"
)


def frame_features(blobs: DataFrame, frame_bytes: int = 16) -> DataFrame:
    """Frame sampling + per-frame feature extraction fused in ONE
    mapInPandas pass (the video pipeline shape: chunk, then featurize each
    chunk without a second payload scan). Output row per frame with its
    length and boundary bytes; fan-out stays inside the partition."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, lens, firsts, lasts = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # NULL payload -> zero frames, like an empty payload (r6)
                n = len(payload) if payload is not None else 0
                n_frames = (n + frame_bytes - 1) // frame_bytes
                for i in range(n_frames):
                    lo = i * frame_bytes
                    ln = min(frame_bytes, n - lo)
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(ln)
                    firsts.append(payload[lo])
                    lasts.append(payload[lo + ln - 1])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "first_byte": pd.Series(firsts, dtype="int32"),
                    "last_byte": pd.Series(lasts, dtype="int32"),
                }
            )

    return blobs.mapInPandas(batches, FRAME_FEATURES_SCHEMA)


DECODE_SCHEMA = (
    "doc_id bigint, format string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, "
    "error string, error_kind string"
)


# Cumulative per-image budget of Average/Paeth-filtered bytes (the two
# filters whose reconstruction is an inherent byte recurrence and runs a
# plain-Python loop at ~0.3 µs/byte). 2 MB ≈ 0.7 s worst-case Python per
# image inside the Arrow batch — bounded enough for bulk thumbnail/tile
# corpora, and any hi-res Paeth-heavy image beyond it raises
# NotImplementedError (a quarantine row with error_kind='unsupported', so
# the refusal is recoverable row-level data, never a hung executor).
# At 100 TB, route hi-res imagery through a codec library on the executors
# and keep this stdlib path for environments without one.
PNG_SLOW_FILTER_BYTE_BUDGET = 2_000_000

# Pixel budget shared by the decoders that size a buffer from header
# dimensions (BMP, PNG, TIFF, JPEG): the check runs right after the header
# parse, before any allocation, so a forged header that declares a
# 2-gigapixel frame is an 'unsupported' refusal, not a memory bomb
# (caught by the r11 fuzz pass: 35 GB RSS from mutated BMP headers).
# 16 Mpx also keeps the worst numpy/PackBits path near ~1 s.
DECODE_PIXEL_BUDGET = 1 << 24

# Decompressed bytes per payload, shared by every inflating reader
# (archives, office/EPUB zips, PDF streams) and the text extractors'
# output caps: a 40-byte gzip bomb can declare gigabytes, and the cap
# refuses it at O(budget) memory.
DECODE_BYTE_BUDGET = 1 << 26

# Decoded samples per payload for the per-sample Python loops (FLAC
# residuals, IMA/MS ADPCM nibbles; ~0.5 µs/sample each): 2M samples
# ≈ 45 s of 44.1 kHz mono ≈ ~1 s of Python.
DECODE_SAMPLE_BUDGET = 2_000_000


def _png_unfilter(raw: bytes, pos: int, h: int, stride: int, bpp: int,
                  slow_bytes: int):
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/Paeth)
    for ONE pass of ``h`` rows of ``stride`` filtered bytes starting at
    ``pos`` in the decompressed stream (Adam7 images call this once per
    sub-image pass). ``bpp`` is the filter byte distance (max(1,
    bits-per-pixel // 8) per spec §9.2 — 1 for all sub-byte depths).

    None/Up rows are whole-row numpy ops; Sub rows vectorize exactly as
    a per-bpp-lane prefix sum mod 256 (uint8 cumsum wraps, which IS the
    spec's mod-256; stride is always a multiple of bpp for depth ≥ 8 and
    bpp is 1 below that); Average/Paeth are true recurrences
    (rec[x] needs rec[x-bpp]) and run a plain-Python byte loop over list
    ints, charged against PNG_SLOW_FILTER_BYTE_BUDGET (see above).

    Why no numpy recurrence: the mod-256 + floor/branch nonlinearity
    kills every exact vectorization. A per-pixel numpy loop over
    bpp-length lanes trades ~0.3 µs/byte of Python ints for ~15 µs/pixel
    of numpy call overhead (measured slower for bpp≤4); the speculative
    256-carry parallel-scan pays a flat 256× element blow-up (w·bpp·256
    lane-steps regardless of chunking), also slower. The loop below IS
    the fast exact pure-Python path — the budget bounds it instead.

    Returns ``(rows, new_pos, slow_bytes)`` with ``rows`` an (h, stride)
    uint8 array."""
    import numpy as np

    if len(raw) - pos < h * (stride + 1):
        raise ValueError(
            f"malformed PNG: decompressed stream has {len(raw) - pos} "
            f"bytes left, pass needs {h * (stride + 1)}"
        )
    out = np.empty((h, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    lanes = stride // bpp if stride % bpp == 0 else None
    for y in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos)
        pos += stride
        prior = out[y - 1] if y > 0 else zero_row
        if ft == 0:
            out[y] = line
        elif ft == 2:  # Up — whole-row add, uint8 wraps mod 256
            out[y] = line + prior
        elif ft == 1 and lanes is not None:
            # Sub — per-lane prefix sum; uint8 cumsum ≡ mod 256
            out[y] = np.cumsum(
                line.reshape(lanes, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ft in (1, 3, 4):  # Sub fallback / Average / Paeth
            slow_bytes += stride
            check_budget("PNG", slow_bytes, PNG_SLOW_FILTER_BYTE_BUDGET,
                         "Average/Paeth byte")
            lv = line.tolist()
            pv = prior.tolist()
            rec = [0] * stride
            if ft == 1:
                for x in range(bpp):
                    rec[x] = lv[x]
                for x in range(bpp, stride):
                    rec[x] = (lv[x] + rec[x - bpp]) & 0xFF
            elif ft == 3:
                # first pixel: a = 0 → pred = pv>>1 (loop below then
                # never branches on x >= bpp)
                for x in range(bpp):
                    rec[x] = (lv[x] + (pv[x] >> 1)) & 0xFF
                for x in range(bpp, stride):
                    rec[x] = (lv[x] + ((rec[x - bpp] + pv[x]) >> 1)) & 0xFF
            else:
                # first pixel: a = c = 0 → Paeth predictor reduces to b
                for x in range(bpp):
                    rec[x] = (lv[x] + pv[x]) & 0xFF
                for x in range(bpp, stride):
                    a = rec[x - bpp]
                    b = pv[x]
                    c = pv[x - bpp]
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (lv[x] + pred) & 0xFF
            out[y] = rec
        else:
            raise ValueError(f"malformed PNG: unknown filter type {ft}")
    return out, pos, slow_bytes


# color type -> samples per pixel, and the legal bit depths per color
# type (PNG spec §11.2.2 — the full legal matrix; anything outside it
# is a malformed file, not an unsupported variant)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}
# Adam7 pass grid: (x0, y0, dx, dy) per pass (spec §8.2)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_pass_samples(rows, w, ch, depth):
    """(h, stride) filtered-byte rows -> (h, w, ch) uint8 samples.
    depth 16 keeps the high byte (the standard 16→8 preview scaling —
    exact for v = k·257, within 1/256 otherwise); sub-byte depths
    unpack MSB-first and, for greyscale, scale by 255/(2^d − 1)
    (an exact integer for d ∈ {1, 2, 4}); palette indices pass through
    unscaled for the PLTE lookup."""
    import numpy as np

    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows.reshape(h, -1)[:, 0 : 2 * w * ch : 2].reshape(h, w, ch)
    bits = np.unpackbits(rows, axis=1)[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (bits.astype(np.uint16) * weights).sum(axis=2)
    return vals.astype(np.uint8).reshape(h, w, 1)


def _decode_png(payload: bytes):
    """Pure-stdlib PNG decode (zlib inflate + scanline unfilter), r9:
    the FULL spec variant matrix — greyscale (1/2/4/8/16-bit), truecolor
    (8/16), palette (1/2/4/8 + PLTE), grey+alpha and RGBA (8/16), both
    non-interlaced and Adam7-interlaced. 16-bit samples keep the high
    byte (documented preview scaling); alpha is reported structure, not
    composited — the mean-channel features are over the stored RGB;
    tRNS is ignored for the same reason. Structurally broken files —
    including spec-illegal depth/color combos and out-of-range palette
    indices — raise ValueError (refuse-rather-than-misreport); the only
    NotImplementedErrors left are the pixel and Average/Paeth byte budgets
    (recoverable 'unsupported'). Returns an HxWx3 RGB uint8 array."""
    import struct
    import sys
    import zlib

    import numpy as np

    ihdr = None
    plte = None
    idat = bytearray()
    pos = 8  # past the signature
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(
                f"malformed PNG: chunk {ctype!r} declares {length} bytes "
                f"but only {len(body)} remain (truncated payload)"
            )
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc (crc not checked)
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("malformed PNG: missing/short IHDR chunk")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w == 0 or h == 0:
        raise ValueError(f"malformed PNG: zero dimension ({w}x{h})")
    if comp != 0 or filt != 0:
        raise ValueError(
            f"malformed PNG: compression={comp}, filter_method={filt}"
        )
    ch = _PNG_CHANNELS.get(color)
    if ch is None or depth not in _PNG_DEPTHS.get(color, ()):
        raise ValueError(
            f"malformed PNG: illegal depth/color combination "
            f"(depth={depth}, color_type={color})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"malformed PNG: interlace method {interlace}")
    check_budget(f"PNG {w}x{h}", w * h, DECODE_PIXEL_BUDGET, "pixel")
    if color == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("malformed PNG: palette image without a "
                             "valid PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    if not idat:
        raise ValueError("malformed PNG: no IDAT data")

    bpp_bits = depth * ch
    bpp = max(1, bpp_bits // 8)

    def stride_of(width):
        return (width * bpp_bits + 7) // 8

    passes = (
        [(0, 0, 1, 1)] if interlace == 0 else _ADAM7
    )
    rpos = 0
    slow = 0
    expected = 0
    pass_dims = []
    for (x0, y0, dx, dy) in passes:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        pass_dims.append((pw, ph))
        if pw and ph:
            expected += ph * (stride_of(pw) + 1)
    # Check sizes before allocating: the inflate stops one byte past what
    # the header declares (an in-budget header caps a deflate bomb), and the
    # pixel buffer is allocated only once the stream matches it exactly.
    try:
        raw = zlib.decompressobj().decompress(
            bytes(idat), min(expected + 1, sys.maxsize))
    except zlib.error as e:
        raise ValueError(f"malformed PNG: IDAT inflate failed ({e})") from None
    if len(raw) != expected:
        raise ValueError(
            f"malformed PNG: decompressed stream is {len(raw)} bytes, "
            f"expected {expected} for {w}x{h} depth={depth} "
            f"color={color} interlace={interlace}"
        )
    samples = np.zeros((h, w, ch), dtype=np.uint8)
    for (x0, y0, dx, dy), (pw, ph) in zip(passes, pass_dims):
        if not pw or not ph:
            continue
        rows, rpos, slow = _png_unfilter(
            raw, rpos, ph, stride_of(pw), bpp, slow)
        samples[y0::dy, x0::dx, :] = _png_pass_samples(rows, pw, ch, depth)

    if color == 3:
        idx = samples[:, :, 0]
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError(
                f"malformed PNG: palette index {int(idx.max())} out of "
                f"range for {pal.shape[0]}-entry PLTE"
            )
        return pal[idx]
    if color in (0, 4):
        grey = samples[:, :, 0]
        if depth < 8:
            grey = (grey.astype(np.uint16) * (255 // ((1 << depth) - 1))) \
                .astype(np.uint8)
        return np.repeat(grey[:, :, None], 3, axis=2)
    return samples[:, :, :3]


def _ppm_header(payload: bytes,
                n_vals: int = 3) -> tuple[int, int, int, int]:
    """Parse a binary PNM header (P4/P5/P6): ``(width, height, maxval,
    pixel_data_offset)`` — for P4 pass ``n_vals=2`` (no maxval field;
    1 is returned). O(header bytes) — shared by the pixel decoder
    and the header-only metadata probe, which must never touch pixels."""
    i, vals = 2, []
    while len(vals) < n_vals:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("malformed PPM: truncated header")
        vals.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace byte closing the header
    if n_vals == 2:
        w, h = vals
        return w, h, 1, i
    w, h, maxval = vals
    return w, h, maxval, i


def _bmp_rle8(data: bytes, w: int, h: int):
    """BI_RLE8 expand to an (h, w) index array in FILE row order (the
    caller applies the bottom-up flip). Encoded runs: (n>0, v) repeats;
    n==0 escapes: 0 end-of-line, 1 end-of-bitmap, 2 delta (dx, dy),
    >=3 absolute literals padded to a 16-bit boundary. Delta-skipped
    pixels are undefined by the spec — they decode as palette index 0
    here, deterministically."""
    import numpy as np

    out = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 2 <= n:
        cnt, v = data[pos], data[pos + 1]
        pos += 2
        if cnt:
            if y >= h or x + cnt > w:
                raise ValueError("malformed BMP: RLE8 run exceeds row")
            out[y, x : x + cnt] = v
            x += cnt
        elif v == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("malformed BMP: RLE8 rows exceed height")
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if pos + 2 > n:
                raise ValueError("malformed BMP: truncated RLE8 delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > w or y > h:
                raise ValueError("malformed BMP: RLE8 delta out of range")
        else:  # absolute run of v literals, word-aligned
            if y >= h or x + v > w or pos + v > n:
                raise ValueError("malformed BMP: RLE8 absolute overrun")
            out[y, x : x + v] = bytearray(data[pos : pos + v])
            x += v
            pos += v + (v & 1)
    raise ValueError("malformed BMP: RLE8 ended without end-of-bitmap")


def _decode_rgb(payload: bytes):
    """Decode one image payload to (format, HxWx3 RGB array).

    Pure stdlib+numpy decoders for the formats that need no codec
    library:
    - BMP (completed r11): 24/32-bit BI_RGB, 1/4/8-bit palette via the
      BGRX color table, and BI_RLE8 (runs/absolute/delta/EOL escapes;
      delta-skipped pixels deterministically index 0) — bottom-up or
      top-down rows, 4-byte row padding, BGR channel order.
    - PNM: binary P6 PPM, P5 PGM, P4 PBM (r11), maxval ≤ 255,
      '#' header comments.
    - PNG (r7, completed r9): the FULL spec variant matrix — greyscale
      1/2/4/8/16-bit, truecolor 8/16, palette 1/2/4/8, grey+alpha and
      RGBA 8/16, non-interlaced and Adam7 — via stdlib zlib + spec
      scanline unfilter (16-bit keeps the high byte; alpha/tRNS
      reported structure, not composited).
    - JPEG (r9): baseline/extended-sequential AND progressive Huffman via
      operators/jpeg.py (T.81 marker parse, canonical Huffman entropy
      decode, float64 IDCT, chroma upsampling, BT.601) — the DOMINANT
      web-corpus format, previously 100% quarantine.

    - WebP VP8L (r10): the lossless bitstream via operators/vp8l.py —
      prefix codes, LZ77 + color cache, all four transforms.

    Arithmetic-coded JPEG / lossy-VP8 WebP still raise
    NotImplementedError — those need a real codec library, absent in
    this environment."""
    import struct

    import numpy as np

    if not payload:
        raise ValueError("empty/NULL image payload")
    if payload[:2] == b"BM":
        off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        w = struct.unpack_from("<i", payload, 18)[0]
        h = struct.unpack_from("<i", payload, 22)[0]
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        top_down, hh = h < 0, abs(h)
        if w <= 0 or hh == 0:
            raise ValueError(f"malformed BMP: dimensions {w}x{h}")
        check_budget(f"BMP {w}x{hh}", w * hh, DECODE_PIXEL_BUDGET, "pixel")
        if bpp == 24 and comp == 0:
            stride = (w * 3 + 3) & ~3
            arr = np.frombuffer(
                payload, dtype=np.uint8, count=stride * hh, offset=off
            ).reshape(hh, stride)[:, : w * 3].reshape(hh, w, 3)
            rgb = arr[:, :, ::-1]  # BGR → RGB
        elif bpp == 32 and comp == 0:
            arr = np.frombuffer(
                payload, dtype=np.uint8, count=w * 4 * hh, offset=off
            ).reshape(hh, w, 4)
            rgb = arr[:, :, 2::-1]  # BGRA → RGB (alpha structural)
        elif (bpp in (1, 4, 8) and comp == 0) or (bpp == 8 and comp == 1):
            ncolors = 0
            if hdr_size >= 36 and len(payload) >= 50:
                ncolors = struct.unpack_from("<I", payload, 46)[0]
            ncolors = ncolors or (1 << bpp)
            pal_at = 14 + hdr_size
            if pal_at + 4 * ncolors > len(payload):
                raise ValueError("malformed BMP: truncated color table")
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=4 * ncolors, offset=pal_at
            ).reshape(ncolors, 4)[:, 2::-1]  # BGRX quads → RGB
            if comp == 1:
                idx = _bmp_rle8(payload[off:], w, hh)
            else:
                stride = ((w * bpp + 31) // 32) * 4
                raw = np.frombuffer(
                    payload, dtype=np.uint8, count=stride * hh, offset=off
                ).reshape(hh, stride)
                if bpp == 8:
                    idx = raw[:, :w]
                else:
                    per = 8 // bpp
                    bits = np.unpackbits(raw, axis=1)
                    idx = np.zeros((hh, stride * per), dtype=np.uint8)
                    for k in range(bpp):
                        idx = (idx << 1) | bits[:, k::bpp][:, : idx.shape[1]]
                    idx = idx[:, :w]
            if int(idx.max(initial=0)) >= ncolors:
                raise ValueError(
                    "malformed BMP: pixel index beyond the color table"
                )
            rgb = pal[idx]
        else:
            raise NotImplementedError(
                f"BMP variant not supported (bpp={bpp}, "
                f"compression={comp}); 1/4/8-bit palette (incl. RLE8), "
                "24-bit and 32-bit BI_RGB decode without a codec library"
            )
        return "bmp", (rgb if top_down else rgb[::-1])
    if payload[:2] == b"P6":
        w, h, maxval, i = _ppm_header(payload)
        if maxval > 255:
            raise NotImplementedError(
                "16-bit PPM (maxval > 255) not supported"
            )
        rgb = np.frombuffer(
            payload, dtype=np.uint8, count=w * h * 3, offset=i
        ).reshape(h, w, 3)
        return "ppm", rgb
    if payload[:2] == b"P5":
        w, h, maxval, i = _ppm_header(payload)
        if maxval > 255:
            raise NotImplementedError(
                "16-bit PGM (maxval > 255) not supported"
            )
        grey = np.frombuffer(
            payload, dtype=np.uint8, count=w * h, offset=i
        ).reshape(h, w)
        return "pgm", np.repeat(grey[:, :, None], 3, axis=2)
    if payload[:2] == b"P4":
        w, h, _mv, i = _ppm_header(payload, n_vals=2)
        stride = (w + 7) // 8
        raw = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=i
        ).reshape(h, stride)
        bits = np.unpackbits(raw, axis=1)[:, :w]  # MSB-first, 1 = black
        grey = np.where(bits == 1, 0, 255).astype(np.uint8)
        return "pbm", np.repeat(grey[:, :, None], 3, axis=2)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png", _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_baseline_jpeg

        return "jpeg", decode_baseline_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return "gif", decode_gif(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .vp8l import decode_webp_lossless

        # VP8L (lossless) really decodes (r10); VP8 lossy/VP8X raise
        # NotImplementedError from inside — a codec-library job
        return "webp", decode_webp_lossless(payload)[:, :, :3]
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        # baseline TIFF really decodes (r10): uncompressed + PackBits,
        # 8-bit grey/RGB; LZW/JPEG-in-TIFF refuse from inside
        return "tiff", decode_tiff(payload)
    if payload[:8] == b"\x97JB2\r\n\x1a\n":
        from .jbig2 import decode_jbig2_file

        # standalone JBIG2 fax/scan files (r14): sequential-organized
        # MMR pages decode via operators/jbig2.py; random-access files
        # and arithmetic regions refuse from inside. 1 = black maps to
        # grey 0, like the TIFF bilevel path.
        page = decode_jbig2_file(payload)
        grey = ((1 - page) * 255).astype(np.uint8)
        return "jbig2", np.repeat(grey[:, :, None], 3, axis=2)
    raise NotImplementedError(
        "compressed/unknown image format (magic "
        f"{payload[:2]!r}) requires PIL/opencv, not available in this "
        "container; route the payload to a codec-library executor"
    )


# Exception classes a malformed blob may surface as. ValueError is the
# decoders' declared signal; struct.error / KeyError / IndexError escape
# from short reads or dangling table references in hand-rolled spec
# parsers (truncated SOF bodies, a progressive scan naming an undefined
# Huffman table, a cut-off MP4 box). The one-bad-blob-is-a-row posture
# means ALL of them must become a quarantine row, never kill the task —
# catching them here is the backstop; hot sites also bounds-check and
# raise ValueError with a real message.
import struct as _struct  # noqa: E402  (scoped: only for .error)

DECODE_ERRORS = (
    ValueError, NotImplementedError, _struct.error, KeyError, IndexError,
)


def check_budget(what: str, used: int, limit: int, unit: str) -> None:
    """The one decode-budget refusal. ``used`` is a payload's declared or
    running cost in ``unit``s (pixels, samples, bytes, chars, cues) and
    ``limit`` the decoder's module constant, read at call time. Over the
    limit raises NotImplementedError — a quarantine row with
    error_kind='unsupported' — before the decoder allocates for, or
    loops over, more than the budget; a codec-library executor can take
    the payload from there."""
    if used > limit:
        raise NotImplementedError(
            f"{what} exceeds the {unit} budget ({used} > {limit}); route "
            "the payload to a codec-library executor"
        )


def _error_kind(e: Exception) -> str:
    """Route quarantined decode failures by exception class, so consumers
    can split the two populations without parsing message text:
    'unsupported' (NotImplementedError — a real codec library would decode
    it; re-route those payloads to an executor image with PIL/ffmpeg) vs
    'corrupt' (ValueError — structurally broken blob; no library will
    help, drop or re-fetch at the source)."""
    return "unsupported" if isinstance(e, NotImplementedError) else "corrupt"


def _error_text(e: Exception) -> str:
    """Quarantine error string. ValueError/NotImplementedError carry the
    decoders' own messages verbatim; the backstop classes (KeyError,
    IndexError, struct.error) are bug-shaped — a spec parser that meant
    to refuse would have raised ValueError — so prefix the class name to
    keep them greppable in quarantine output rather than blending into
    the malformed-blob population."""
    if isinstance(e, (ValueError, NotImplementedError)):
        return str(e)
    if isinstance(e, _struct.error):  # class __name__ is bare 'error'
        return f"struct.error: {e}"
    return f"{type(e).__name__}: {e}"


def _error_fields(e: Exception) -> dict:
    """The ``error`` / ``error_kind`` columns of one refused payload or
    item."""
    return {"error": _error_text(e), "error_kind": _error_kind(e)}


def _row_or_error(fn, *args) -> dict | list[dict]:
    """``fn(*args)``, or the error fields of the DECODE_ERRORS it raised.
    The payload level of :func:`_quarantine_map`, and the item level of
    the two-level extractors (one refused PDF image or TIFF page is its
    own row while its siblings extract)."""
    try:
        return fn(*args)
    except DECODE_ERRORS as e:
        return _error_fields(e)


def _quarantine_map(blobs: DataFrame, fn, schema: str,
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """The one harness every payload operator runs: ``fn(payload) ->
    dict | list[dict]`` over the ``(doc_id, payload)`` rows of ``blobs``
    in one Arrow-batched mapInPandas pass (no shuffle, nothing collected).

    - a dict is one output row; a list is 0..N rows (archive members,
      WARC records, PDF images, TIFF pages);
    - a raised DECODE_ERRORS becomes ONE row with NULL feature columns and
      the ``error`` / ``error_kind`` columns set (:func:`_error_text`,
      :func:`_error_kind`) — one bad blob in 100 TB is a row, never a
      task failure;
    - ``schema`` is the operator's flat DDL schema (``doc_id`` first, the
      two error columns last); a column a row dict leaves out is NULL, and
      ``doc_id`` plus the ``carry`` input columns are copied onto every
      row of their payload. A NULL payload reaches ``fn`` as ``b""``."""
    cols = [f.split()[0] for f in schema.split(", ")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in it:
            out: dict[str, list] = {c: [] for c in cols}
            for doc_id, payload, *kept in zip(
                    batch["doc_id"], batch["payload"],
                    *(batch[c] for c in carry)):
                fixed = {"doc_id": doc_id, **dict(zip(carry, kept))}
                rows = _row_or_error(
                    fn, bytes(payload) if payload is not None else b"")
                for row in rows if isinstance(rows, list) else (rows,):
                    row = {**row, **fixed}
                    for c in cols:
                        out[c].append(row.get(c))
            yield pd.DataFrame(
                {c: pd.Series(v, dtype="object") for c, v in out.items()})

    return blobs.mapInPandas(batches, schema)


def decode_image(blobs: DataFrame) -> DataFrame:
    """REAL image decode for the codec-free formats (see
    :func:`_decode_rgb` for the matrix: BMP, PNM, every PNG variant,
    baseline and progressive Huffman JPEG, first-frame GIF, lossless
    WebP, baseline TIFF, JBIG2) — struct parsing + numpy pixel math
    inside the same Arrow-batched mapInPandas shape as every other
    payload op. Output row per image: format, dimensions, per-channel
    means (exact doubles).

    Decode failures are ROWS, not task failures (the repo's
    corrupt-input posture at batch scale — one bad blob in 100 TB must
    not kill the job): ``error`` carries the decoder's own message
    (NULL on success, feature columns NULL on failure), so callers split
    with ``filter(col('error').isNull())``, and ``error_kind``
    ('unsupported' vs 'corrupt', see :func:`_error_kind`) routes the two
    failure populations differently: arithmetic-coded JPEG and lossy
    WebP are 'unsupported' (a codec library would decode them), not
    broken."""

    def one(payload: bytes) -> dict:
        fmt, rgb = _decode_rgb(payload)
        means = rgb.reshape(-1, 3).mean(axis=0, dtype="float64")
        return {"format": fmt, "width": rgb.shape[1],
                "height": rgb.shape[0], "mean_r": float(means[0]),
                "mean_g": float(means[1]), "mean_b": float(means[2])}

    return _quarantine_map(blobs, one, DECODE_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, format string, sample_rate int, n_channels int, "
    "n_frames bigint, duration_sec double, peak bigint, rms double, "
    "error string, error_kind string"
)


_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def _ima_adpcm_decode(data: bytes, n_ch: int, block_align: int):
    """IMA/DVI ADPCM (WAVE format 0x11) nibble decode: per block and
    channel a 4-byte header (predictor int16, step index, reserved)
    emits the first sample, then 4-bit deltas in 4-byte-per-channel
    interleave. Integer recurrence exactly per the IMA spec — byte-exact
    against any conforming encoder."""
    if block_align < 4 * n_ch or block_align % 4:
        raise ValueError(
            f"malformed WAVE: ADPCM block_align={block_align} for "
            f"{n_ch} channel(s)"
        )
    total_nibbles = sum(
        (min(block_align, len(data) - off) - 4 * n_ch) * 2
        for off in range(0, len(data), block_align)
    )
    check_budget("ADPCM payload", total_nibbles, DECODE_SAMPLE_BUDGET,
                 "sample")
    steps, itab = _IMA_STEPS, _IMA_INDEX
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        if len(block) < 4 * n_ch:
            break  # trailing fragment shorter than the headers
        pred = [0] * n_ch
        idx = [0] * n_ch
        for c in range(n_ch):
            import struct as _st

            p0, i0 = _st.unpack_from("<hB", block, 4 * c)[0], block[4 * c + 2]
            if i0 > 88:
                raise ValueError(
                    f"malformed WAVE: ADPCM step index {i0} > 88"
                )
            pred[c], idx[c] = p0, i0
            chans[c].append(p0)
        pos = 4 * n_ch
        while pos + 4 * n_ch <= len(block):
            for c in range(n_ch):
                p, i, out = pred[c], idx[c], chans[c]
                for b in block[pos + 4 * c : pos + 4 * c + 4]:
                    for nib in (b & 0x0F, b >> 4):
                        step = steps[i]
                        diff = step >> 3
                        if nib & 1:
                            diff += step >> 2
                        if nib & 2:
                            diff += step >> 1
                        if nib & 4:
                            diff += step
                        p = p - diff if nib & 8 else p + diff
                        if p > 32767:
                            p = 32767
                        elif p < -32768:
                            p = -32768
                        i += itab[nib & 7]
                        if i < 0:
                            i = 0
                        elif i > 88:
                            i = 88
                        out.append(p)
                pred[c], idx[c] = p, i
            pos += 4 * n_ch
    import numpy as np

    n_frames = min(len(c) for c in chans) if chans else 0
    return np.stack(
        [np.asarray(c[:n_frames], dtype=np.int64) for c in chans], axis=1
    ) if n_frames else np.zeros((0, n_ch), dtype=np.int64)


def _g711_lut(*, alaw: bool):
    """256-entry G.711 expansion table (ITU-T G.711): companded byte →
    linear int16. Built once per worker import; decode is then a pure
    numpy gather — no per-sample Python."""
    import numpy as np

    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        if alaw:
            a = b ^ 0x55
            sign = a & 0x80
            exp = (a >> 4) & 0x07
            mant = a & 0x0F
            if exp > 0:
                v = ((mant << 4) + 0x108) << (exp - 1)
            else:
                v = (mant << 4) + 8
            # A-law sign convention is INVERTED vs mu-law: a set sign
            # bit means positive (CCITT reference alaw2linear)
            out[b] = v if sign else -v
        else:
            u = ~b & 0xFF
            sign = u & 0x80
            exp = (u >> 4) & 0x07
            mant = u & 0x0F
            v = (((mant << 3) + 0x84) << exp) - 0x84
            out[b] = -v if sign else v
    return out


_MS_COEFS = [(256, 0), (512, -256), (0, 0), (192, 64),
             (240, 0), (460, -208), (392, -232)]
_MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]


def _ms_adpcm_decode(data: bytes, n_ch: int, block_align: int):
    """Microsoft ADPCM (WAVE format 2): per block and channel a 7-byte
    header (predictor index, initial delta, two seed samples), then
    4-bit codes (high nibble first, channel-interleaved per frame).
    Integer recurrence exactly per the published MS spec — byte-exact
    against any conforming encoder."""
    import struct as _st

    import numpy as np

    if block_align < 7 * n_ch + 1:
        raise ValueError(
            f"malformed WAVE: MS-ADPCM block_align={block_align} for "
            f"{n_ch} channel(s)"
        )
    total_nibbles = sum(
        max(0, min(block_align, len(data) - off) - 7 * n_ch) * 2
        for off in range(0, len(data), block_align)
    )
    check_budget("ADPCM payload", total_nibbles, DECODE_SAMPLE_BUDGET,
                 "sample")
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        if len(block) < 7 * n_ch:
            break
        pred_idx = list(block[:n_ch])
        if any(pi > 6 for pi in pred_idx):
            raise ValueError(
                f"malformed WAVE: MS-ADPCM predictor index {max(pred_idx)}"
            )
        delta = list(_st.unpack_from(f"<{n_ch}h", block, n_ch))
        s1 = list(_st.unpack_from(f"<{n_ch}h", block, 3 * n_ch))
        s2 = list(_st.unpack_from(f"<{n_ch}h", block, 5 * n_ch))
        for c in range(n_ch):
            chans[c].append(s2[c])  # sample2 is the OLDER seed
            chans[c].append(s1[c])
        c1 = [_MS_COEFS[pi][0] for pi in pred_idx]
        c2 = [_MS_COEFS[pi][1] for pi in pred_idx]
        ch = 0
        for b in block[7 * n_ch :]:
            for nib in (b >> 4, b & 0x0F):  # high nibble FIRST
                signed = nib - 16 if nib >= 8 else nib
                pred = (s1[ch] * c1[ch] + s2[ch] * c2[ch]) >> 8
                samp = pred + signed * delta[ch]
                if samp > 32767:
                    samp = 32767
                elif samp < -32768:
                    samp = -32768
                s2[ch] = s1[ch]
                s1[ch] = samp
                d = (_MS_ADAPT[nib] * delta[ch]) >> 8
                delta[ch] = d if d >= 16 else 16
                chans[ch].append(samp)
                ch = (ch + 1) % n_ch
    n_frames = min(len(c) for c in chans) if chans else 0
    return np.stack(
        [np.asarray(c[:n_frames], dtype=np.int64) for c in chans], axis=1
    ) if n_frames else np.zeros((0, n_ch), dtype=np.int64)


def _decode_pcm(payload: bytes):
    """Decode one RIFF/WAVE payload to (sample_rate, samples array shaped
    (frames, channels)).

    Manual chunk walk (not the stdlib ``wave`` module: it chokes on
    benign extension chunks and non-seekable layouts): 4-byte id + LE
    u32 size per chunk, even-padded; 'fmt ' gives the codec/layout,
    'data' the samples, 'fact' (when present) the true frame count for
    compressed formats. Supported (r9 completes the matrix):

    - format 1 integer PCM at 8 (unsigned, centered), 16, 24 (3-byte
      LE), and 32 bits — int64 samples in native units;
    - format 3 IEEE float PCM at 32/64 bits — samples SCALED by 32768
      (float WAV's nominal ±1.0 mapped to the int16 full-scale grid) so
      peak/RMS are comparable with 16-bit integer files; returned as
      float64 (stats float-accumulated, deterministic for a fixed
      array);
    - format 0x11 IMA ADPCM and format 2 Microsoft ADPCM (4-bit) —
      exact integer nibble recurrences, int16-range samples, capped by
      DECODE_SAMPLE_BUDGET;
    - formats 6/7 G.711 A-law/µ-law — 256-entry LUT expand.

    MP3-in-WAV / unknown formats raise NotImplementedError
    (quarantine 'unsupported')."""
    import struct

    import numpy as np

    if not payload:
        # Distinct from the unknown-codec case: a NULL/empty blob is a
        # data-quality problem (quarantine it), not a missing library.
        raise ValueError("empty/NULL audio payload")
    if payload[:4] == b"fLaC":
        # r10: FLAC really decodes (operators/flac.py — pure integer
        # LPC + Rice, no DSP library needed)
        from .flac import decode_flac

        return decode_flac(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
    ):
        raise NotImplementedError(
            "MPEG audio essence cannot yield PCM here (the Table 3-B.3 "
            "synthesis window is tabulated spec data); Layer I subband "
            "features decode exactly via audio_subband_features — "
            "Layer II/III need a codec library"
        )
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "compressed/unknown audio format (magic "
            f"{payload[:4]!r}) requires an audio codec library, not "
            "available in this container"
        )
    fmt = data = fact = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + size > len(payload):
            # Truncated-in-transit file: refusing beats reporting
            # plausible level stats over a fragment (the module's
            # decode-faithfully-or-raise posture).
            raise ValueError(
                f"malformed WAVE: chunk {cid!r} declares {size} bytes but "
                f"only {len(payload) - pos - 8} remain (truncated payload)"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if fmt is not None:
                # A duplicate would silently shadow the first chunk and
                # report stats over a fragment — refuse instead (the
                # module's decode-faithfully-or-raise posture).
                raise ValueError("malformed WAVE: duplicate 'fmt ' chunk")
            fmt = body
        elif cid == b"data":
            if data is not None:
                raise ValueError("malformed WAVE: duplicate 'data' chunk")
            data = body
        elif cid == b"fact" and len(body) >= 4:
            fact = struct.unpack_from("<I", body, 0)[0]
        pos += 8 + size + (size & 1)  # chunks are even-padded
    if fmt is None or data is None:
        raise ValueError("malformed WAVE: missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError(f"malformed WAVE: fmt chunk is {len(fmt)} bytes (<16)")
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
    block_align = struct.unpack_from("<H", fmt, 12)[0]
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if rate == 0:
        raise ValueError("malformed WAVE: sample_rate=0")
    if n_ch == 0:
        raise ValueError("malformed WAVE: zero channels")
    # 0xFFFE = WAVE_FORMAT_EXTENSIBLE: real codec is the GUID's first
    # two bytes at offset 24 of the fmt body
    if audio_fmt == 0xFFFE and len(fmt) >= 26:
        audio_fmt = struct.unpack_from("<H", fmt, 24)[0]

    if audio_fmt == 2:  # Microsoft ADPCM
        if bits != 4:
            raise NotImplementedError(
                f"MS-ADPCM at {bits} bits/sample not supported (spec is 4)"
            )
        samples = _ms_adpcm_decode(data, n_ch, block_align)
        if fact is not None and fact < samples.shape[0]:
            samples = samples[:fact]
        return int(rate), samples

    if audio_fmt == 0x11:  # IMA ADPCM
        if bits != 4:
            raise NotImplementedError(
                f"ADPCM at {bits} bits/sample not supported (IMA is 4)"
            )
        samples = _ima_adpcm_decode(data, n_ch, block_align)
        if fact is not None and fact < samples.shape[0]:
            samples = samples[:fact]
        return int(rate), samples

    if audio_fmt == 3:  # IEEE float
        if bits not in (32, 64):
            raise NotImplementedError(
                f"float PCM at {bits} bits not supported (32/64 only)"
            )
        width = bits // 8
        n_frames = len(data) // (width * n_ch)
        dt = "<f4" if bits == 32 else "<f8"
        samples = np.frombuffer(
            data, dtype=dt, count=n_frames * n_ch
        ).astype(np.float64) * 32768.0
        return int(rate), samples.reshape(n_frames, n_ch)

    if audio_fmt in (6, 7):  # G.711 A-law / mu-law
        if bits not in (0, 8):
            raise ValueError(
                f"malformed WAVE: G.711 declares {bits} bits (must be 8)"
            )
        lut = _g711_lut(alaw=audio_fmt == 6)
        n_frames = len(data) // n_ch
        samples = lut[
            np.frombuffer(data, dtype=np.uint8, count=n_frames * n_ch)
        ].astype(np.int64)
        return int(rate), samples.reshape(n_frames, n_ch)

    if audio_fmt != 1 or bits not in (8, 16, 24, 32):
        raise NotImplementedError(
            f"WAVE variant not supported (format={audio_fmt}, bits={bits}, "
            f"channels={n_ch}); integer PCM 8/16/24/32, float 32/64, "
            "G.711 A-law/mu-law, and IMA ADPCM decode without a codec "
            "library"
        )
    width = bits // 8
    n_frames = len(data) // (width * n_ch)
    if bits == 8:  # 8-bit WAV is unsigned, centered at 128
        samples = (
            np.frombuffer(data, dtype=np.uint8, count=n_frames * n_ch)
            .astype(np.int64) - 128
        )
    elif bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2", count=n_frames * n_ch
        ).astype(np.int64)
    elif bits == 24:  # 3-byte LE two's-complement
        b = np.frombuffer(
            data, dtype=np.uint8, count=n_frames * n_ch * 3
        ).reshape(-1, 3).astype(np.int64)
        samples = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        samples -= (samples >> 23) << 24  # sign-extend bit 23
    else:  # 32
        samples = np.frombuffer(
            data, dtype="<i4", count=n_frames * n_ch
        ).astype(np.int64)
    return int(rate), samples.reshape(n_frames, n_ch)


def _exact_sumsq(s) -> int:
    """Exact Σ s² for an int64 sample array WITHOUT int64 overflow: for
    |s| beyond 16 bits (24/32-bit PCM), a direct (s*s).sum() wraps
    silently past ~131k frames. Split s = hi·2^16 + lo and sum the three
    partial products separately (each bounded well inside int64 for any
    realistic frame count), recombining in Python bignums."""
    import numpy as np

    if s.size == 0:
        return 0
    if int(np.abs(s).max()) < (1 << 16):
        return int((s * s).sum())
    hi = s >> 16
    lo = s - (hi << 16)
    return (
        (int((hi * hi).sum()) << 32)
        + (int((hi * lo).sum()) << 17)
        + int((lo * lo).sum())
    )


def decode_audio(blobs: DataFrame) -> DataFrame:
    """REAL audio decode for RIFF/WAVE — integer PCM 8/16/24/32, IEEE
    float 32/64 (scaled to the int16 grid, see _decode_pcm), G.711
    A-law/µ-law, and IMA + Microsoft ADPCM (r9 completes the matrix) —
    stdlib struct chunk walk + numpy
    sample math in the same Arrow-batched mapInPandas shape as
    ``decode_image``. Output row per payload: layout (rate, channels,
    frames, duration) and level stats — peak |sample| and RMS, both over
    all channels; integer formats use exact big-int square sums
    (_exact_sumsq — a plain int64 (s*s).sum() silently wraps for 24/32-bit
    audio past ~131k frames), float formats accumulate in float64.
    MP3-in-WAV / unknown codecs raise NotImplementedError (honest
    stub: a codec library is required and absent here), which becomes a
    quarantine row with ``error`` and ``error_kind`` — see
    :func:`decode_image`."""
    import math

    def one(raw: bytes) -> dict:
        rate, s = _decode_pcm(raw)
        n = s.size
        if s.dtype.kind == "f":
            peak = int(round(float(abs(s).max()))) if n else 0
            rms = math.sqrt(float((s * s).sum()) / n) if n else 0.0
        else:
            peak = int(abs(s).max()) if n else 0
            rms = math.sqrt(_exact_sumsq(s) / n) if n else 0.0
        return {"format": "flac" if raw[:4] == b"fLaC" else "wav",
                "sample_rate": rate, "n_channels": s.shape[1],
                "n_frames": s.shape[0], "duration_sec": s.shape[0] / rate,
                "peak": peak, "rms": rms}

    return _quarantine_map(blobs, one, AUDIO_SCHEMA)


AUDIO_SUBBAND_SCHEMA = (
    "doc_id bigint, format string, sample_rate int, n_channels int, "
    "n_mpeg_frames int, duration_sec double, sb_peak double, "
    "sb_rms double, sb_centroid double, error string, error_kind string"
)


def audio_subband_features(blobs: DataFrame) -> DataFrame:
    """MPEG-1 Layer I/II essence features, computed EXACTLY in the
    subband domain (operators/mpegaudio.py — requantized per ISO
    11172-3 §2.4.3.1/.2): per payload the frame count, duration (384
    PCM samples per Layer I frame, 1152 per Layer II), subband
    peak/RMS, and the energy-weighted band centroid (0-31; the
    spectral-balance feature an audio-quality filter keys on). PCM
    synthesis needs the tabulated Table 3-B.3 window and stays an
    honest stub — these statistics don't. Layer III payloads
    quarantine as 'unsupported'. Same Arrow-batched mapInPandas +
    quarantine contract as :func:`decode_audio`."""
    import numpy as np

    from .mpegaudio import decode_subbands

    def one(payload):
        layer, rate, sb = decode_subbands(payload)
        rows_per_frame = 12 if layer == 1 else 36
        n_frames = sb.shape[0] // rows_per_frame
        flat = sb.reshape(-1)
        energy = float(np.square(sb).sum())
        if energy > 0.0:
            band_e = np.square(sb).sum(axis=(0, 1))  # (32,)
            centroid = float(
                (band_e * np.arange(32)).sum() / energy
            )
            rms = float(np.sqrt(energy / flat.size))
            peak = float(np.abs(flat).max())
        else:
            centroid, rms, peak = 0.0, 0.0, 0.0
        return {
            "format": f"mp3-layer{layer}",
            "sample_rate": rate,
            "n_channels": sb.shape[1],
            "n_mpeg_frames": n_frames,
            "duration_sec": n_frames * rows_per_frame * 32 / rate,
            "sb_peak": peak,
            "sb_rms": rms,
            "sb_centroid": centroid,
        }

    return _quarantine_map(blobs, one, AUDIO_SUBBAND_SCHEMA)
