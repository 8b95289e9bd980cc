"""JBIG2 (ITU-T T.88) embedded-stream decoding for MMR-coded generic
regions — the scanned-PDF rung past CCITT (r14, VERDICT r13 item 3).

PDF ``JBIG2Decode`` streams use T.88's *embedded organization*: a bare
sequence of segments (no file header), optionally preceded by shared
segments in a ``JBIG2Globals`` stream. This module decodes the subset
whose coding layer the engine already owns:

- **Segment headers** (:func:`parse_jbig2_segments`, T.88 §7.2):
  segment number, type, referred-to segments (short and long count
  forms with retain bits), 1- or 4-byte page association, data length.
- **Page information** (type 48, §7.4.8): page size, default pixel
  value; unknown height (``0xFFFFFFFF``, striped pages) resolves from
  the regions' extents.
- **Immediate (lossless) generic regions** (types 38/39, §7.4.6) with
  ``MMR=1``: T.88 defines MMR region coding AS ITU-T T.6 Group-4
  coding over the region's width/height — exactly
  :func:`~.ccitt.decode_g4`, which this module reuses rather than
  re-implementing (the r13 CCITT ladder was built to be this rung's
  foundation). Regions compose onto the page under the external
  combination operator (OR/AND/XOR/XNOR/REPLACE, §7.4.1).

Refusals stay honest (mirror-bug policy, quarantined as
'unsupported'): arithmetic-coded regions (``MMR=0`` — the MQ-coder's
47-row tabulated Qe table is a separate recall surface), symbol
dictionaries / text regions (arithmetic integer decoding), halftone /
pattern / refinement segments, custom tables, and the
unknown-data-length escape. Structural damage (truncated headers,
regions outside the page, overrunning data lengths) raises
``ValueError`` → 'malformed'.

Output is a numpy bilevel page array with **1 = black** (the JBIG2
foreground convention, same as ccitt.py); the PDF consumer maps it to
DeviceGray samples (black → 0) like every viewer does for this filter.

Scale shape: runs per payload inside the same Arrow-batched
mapInPandas harness as every codec (operators/pdf.py pdf_images),
under pixel budgets and the two-level quarantine — no shuffle, no
driver data-plane.

Reference anchor: the reference ETL (fetch_youtube_data.py) decodes
nothing; this extends the multimodal north star's scanned-document
ladder (SURVEY §7) past pdf.py's r13 JBIG2 refusal rows.
"""

from __future__ import annotations

import numpy as np

# T.88 §7.3 segment types
_SEG_SYMBOL_DICT = 0
_SEG_TEXT = (4, 6, 7)
_SEG_PATTERN_DICT = 16
_SEG_HALFTONE = (20, 22, 23)
_SEG_GENERIC_INTERMEDIATE = 36
_SEG_GENERIC_IMMEDIATE = (38, 39)
_SEG_REFINEMENT = (40, 42, 43)
_SEG_PAGE_INFO = 48
_SEG_END_OF_PAGE = 49
_SEG_END_OF_STRIPE = 50
_SEG_END_OF_FILE = 51
_SEG_PROFILES = 52
_SEG_TABLES = 53
_SEG_COLOR_PALETTE = 54
_SEG_EXTENSION = 62

_UNKNOWN_LENGTH = 0xFFFFFFFF

# A JBIG2 page is one scanned sheet: the same ceiling the other image
# decoders use before allocating pixel buffers.
JBIG2_PIXEL_BUDGET = 64 << 20


def _u32(b: bytes, o: int) -> int:
    return int.from_bytes(b[o:o + 4], "big")


def parse_jbig2_segments(data: bytes) -> list[dict]:
    """Embedded-organization segment stream → ``[{number, type, page,
    refs, data}]`` (T.88 §7.2). Raises ``ValueError`` on truncation
    and ``NotImplementedError`` on the unknown-data-length escape
    (legal only for immediate MMR generic regions, but it requires
    scanning the coded data for a terminator — a separate contract
    this decoder refuses rather than half-implements)."""
    out: list[dict] = []
    o, n = 0, len(data)
    while o < n:
        if n - o < 11:
            raise ValueError("malformed JBIG2: truncated segment header")
        number = _u32(data, o)
        o += 4
        flags = data[o]
        o += 1
        stype = flags & 0x3F
        page4 = bool(flags & 0x40)
        count = data[o] >> 5
        if count == 7:
            # long form: low 29 bits of a 4-byte count, then
            # ceil((count+1)/8) retain-bit bytes (T.88 §7.2.4)
            if n - o < 4:
                raise ValueError(
                    "malformed JBIG2: truncated referred-to count")
            count = _u32(data, o) & 0x1FFFFFFF
            o += 4 + (count + 8) // 8
        else:
            o += 1
        ref_sz = 1 if number <= 256 else (2 if number <= 65536 else 4)
        if n - o < count * ref_sz + (4 if page4 else 1) + 4:
            raise ValueError("malformed JBIG2: truncated segment header")
        refs = [int.from_bytes(data[o + i * ref_sz:o + (i + 1) * ref_sz],
                               "big") for i in range(count)]
        o += count * ref_sz
        if page4:
            page = _u32(data, o)
            o += 4
        else:
            page = data[o]
            o += 1
        length = _u32(data, o)
        o += 4
        if length == _UNKNOWN_LENGTH:
            raise NotImplementedError(
                "JBIG2 unknown segment data length (0xFFFFFFFF "
                "immediate-region escape) is not supported")
        if o + length > n:
            raise ValueError(
                f"malformed JBIG2: segment {number} data length "
                f"{length} overruns the stream")
        out.append({"number": number, "type": stype, "page": page,
                    "refs": refs, "data": data[o:o + length]})
        o += length
    return out


def _decode_generic_region(d: bytes) -> tuple[int, int, int, np.ndarray]:
    """Generic region segment data → ``(x, y, comb_op, bitmap)``.
    Region segment info (§7.4.1, 17 bytes) + generic region flags
    (§7.4.6.2); only ``MMR=1`` decodes (T.6 via ccitt.decode_g4)."""
    from .ccitt import decode_g4

    if len(d) < 18:
        raise ValueError("malformed JBIG2: truncated generic region")
    w, h = _u32(d, 0), _u32(d, 4)
    x, y = _u32(d, 8), _u32(d, 12)
    comb = d[16] & 0x07
    gflags = d[17]
    mmr = gflags & 1
    if not mmr:
        raise NotImplementedError(
            "JBIG2 arithmetic-coded generic region (MQ-coder) is not "
            "supported; only MMR=1 (T.6) regions decode")
    if gflags & 0x08:
        # TPGDON is an arithmetic-path feature (§6.2.5.7); with MMR=1
        # it has no defined coding and flags a broken encoder
        raise ValueError("malformed JBIG2: TPGDON set on an MMR region")
    if w <= 0 or h <= 0:
        raise ValueError(f"malformed JBIG2: region size {w}x{h}")
    if w * h > JBIG2_PIXEL_BUDGET:
        raise ValueError(
            f"malformed JBIG2: region {w}x{h} exceeds the pixel budget")
    return x, y, comb, decode_g4(d[18:], w, h)


def decode_jbig2(data: bytes,
                 globals_data: bytes | None = None) -> np.ndarray:
    """Decode an embedded JBIG2 stream (PDF ``JBIG2Decode`` payload,
    plus the optional ``JBIG2Globals`` shared segments) to a
    ``(page_h, page_w)`` uint8 bilevel array, 1 = black.

    Supported segment walk: page info fixes the page buffer (default
    pixel value honored; unknown height resolves from region extents),
    immediate MMR generic regions decode and compose under their
    external combination operator, end-of-page/stripe/file and
    extension segments are structural no-ops. Everything else refuses
    as unsupported (module docstring lists the contract)."""
    segs = parse_jbig2_segments(bytes(globals_data or b""))
    segs += parse_jbig2_segments(bytes(data))
    page_w: int | None = None
    page_h: int | None = None
    default_px = 0
    regions: list[tuple[int, int, int, np.ndarray]] = []
    decoded_px = 0  # cumulative across regions — see budget note below
    for s in segs:
        t = s["type"]
        if t == _SEG_PAGE_INFO:
            d = s["data"]
            if len(d) < 19:
                raise ValueError("malformed JBIG2: truncated page info")
            if page_w is not None:
                raise NotImplementedError(
                    "JBIG2 multi-page stream: PDF embeds one page per "
                    "image XObject")
            page_w, page_h = _u32(d, 0), _u32(d, 4)
            default_px = (d[16] >> 2) & 1
            if page_h == _UNKNOWN_LENGTH:
                page_h = None  # striped page: resolve from regions
        elif t in _SEG_GENERIC_IMMEDIATE:
            # the budget is CUMULATIVE across regions (r14 review fix:
            # per-region-only checks let a ~1 MB payload declare many
            # just-under-budget regions and hold them all — the page
            # buffer plus every decoded region must stay bounded by
            # one budget, so a hostile payload quarantines instead of
            # OOMing the executor). Checked BEFORE the region decodes:
            # the header declares w*h, so nothing allocates past the
            # cap.
            d = s["data"]
            if len(d) >= 8:
                decoded_px += _u32(d, 0) * _u32(d, 4)
                if decoded_px > JBIG2_PIXEL_BUDGET:
                    raise ValueError(
                        f"malformed JBIG2: cumulative region pixels "
                        f"{decoded_px} exceed the budget")
            regions.append(_decode_generic_region(s["data"]))
        elif t in (_SEG_END_OF_PAGE, _SEG_END_OF_STRIPE,
                   _SEG_END_OF_FILE, _SEG_EXTENSION, _SEG_PROFILES):
            continue
        elif t == _SEG_SYMBOL_DICT or t in _SEG_TEXT:
            raise NotImplementedError(
                "JBIG2 symbol/text segments (arithmetic integer "
                "decoding) are not supported")
        elif t == _SEG_PATTERN_DICT or t in _SEG_HALFTONE:
            raise NotImplementedError(
                "JBIG2 halftone/pattern segments are not supported")
        elif t in _SEG_REFINEMENT or t == _SEG_GENERIC_INTERMEDIATE:
            raise NotImplementedError(
                "JBIG2 refinement/intermediate regions are not "
                "supported")
        elif t == _SEG_TABLES or t == _SEG_COLOR_PALETTE:
            raise NotImplementedError(
                f"JBIG2 segment type {t} is not supported")
        else:
            raise ValueError(f"malformed JBIG2: unknown segment type {t}")
    if page_w is None:
        raise ValueError("malformed JBIG2: no page information segment")
    if page_h is None:
        page_h = max((y + bm.shape[0] for _, y, _, bm in regions),
                     default=0)
    if page_w * max(page_h, 1) > JBIG2_PIXEL_BUDGET:
        raise ValueError(
            f"malformed JBIG2: page {page_w}x{page_h} exceeds the "
            "pixel budget")
    page = np.full((page_h, page_w), default_px, dtype=np.uint8)
    for x, y, comb, bm in regions:
        rh, rw = bm.shape
        if y + rh > page_h or x + rw > page_w:
            raise ValueError(
                f"malformed JBIG2: region {rw}x{rh}@({x},{y}) outside "
                f"the {page_w}x{page_h} page")
        tgt = page[y:y + rh, x:x + rw]
        if comb == 0:
            tgt |= bm
        elif comb == 1:
            tgt &= bm
        elif comb == 2:
            tgt ^= bm
        elif comb == 3:
            page[y:y + rh, x:x + rw] = 1 - (tgt ^ bm)
        elif comb == 4:
            page[y:y + rh, x:x + rw] = bm
        else:
            raise ValueError(
                f"malformed JBIG2: combination operator {comb}")
    return page


JBIG2_FILE_MAGIC = b"\x97JB2\r\n\x1a\n"


def _file_stream(data: bytes) -> bytes:
    """The segment stream of a standalone JBIG2 file (T.88 Annex D file
    organization). File header: the 8-byte magic, one flags byte (bit
    0: 1 = sequential organization, 0 = random access; bit 1: 1 =
    number of pages unknown), and a 4-byte page count when known.
    Sequential organization interleaves segment headers with their
    data — exactly the embedded walk :func:`decode_jbig2` already
    implements; random-access files (ALL headers first, data after)
    refuse as unsupported rather than misparse."""
    data = bytes(data)
    if data[:8] != JBIG2_FILE_MAGIC:
        raise ValueError("malformed JBIG2 file: bad magic")
    if len(data) < 9:
        raise ValueError("malformed JBIG2 file: truncated header")
    flags = data[8]
    o = 9
    if not flags & 0x02:  # page count known → 4-byte field present
        if len(data) < 13:
            raise ValueError(
                "malformed JBIG2 file: truncated page-count field")
        o = 13
    if not flags & 0x01:
        raise NotImplementedError(
            "JBIG2 random-access file organization (all segment "
            "headers before any data) is not supported; sequential "
            "files decode")
    return data[o:]


def decode_jbig2_file(data: bytes) -> np.ndarray:
    """Standalone JBIG2 file → the first page's bilevel array, 1 =
    black (see :func:`_file_stream` for the organizations that
    decode)."""
    return decode_jbig2(_file_stream(data))


def jbig2_file_size(data: bytes) -> tuple[int, int]:
    """``(width, height)`` of a standalone JBIG2 file's page from its
    segment headers alone — the image probe's view, no region decodes.
    A striped page of unknown height takes the regions' extent, as
    :func:`decode_jbig2` does."""
    segs = parse_jbig2_segments(_file_stream(data))
    info = [s["data"] for s in segs if s["type"] == _SEG_PAGE_INFO]
    if not info or len(info[0]) < 19:
        raise ValueError("malformed JBIG2: no page information segment")
    w, h = _u32(info[0], 0), _u32(info[0], 4)
    if h == _UNKNOWN_LENGTH:
        h = max((_u32(s["data"], 12) + _u32(s["data"], 4) for s in segs
                 if s["type"] in _SEG_GENERIC_IMMEDIATE
                 and len(s["data"]) >= 16), default=0)
    return w, h
