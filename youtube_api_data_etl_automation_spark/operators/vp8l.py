"""Pure-stdlib VP8L (lossless WebP) decoder — the last self-contained
image codec (r10).

WebP's lossless flavor is a fully self-describing bitstream (no DCT, no
codec tables shipped out of band): canonical prefix codes + LZ77 over
ARGB with an optional color cache and four reversible transforms. That
makes it decodable from the public spec ("WebP Lossless Bitstream
Specification", RFC 9649 §3) with nothing but ints — unlike lossy VP8,
which realistically needs a codec library and stays an honest
NotImplementedError in operators/multimodal.py.

Decoder scope (complete per spec):
- LSB-first bit reader; 14-bit packed dimensions.
- Prefix codes: "simple" (1-2 symbols) and full code-length coding with
  the kCodeLengthCodeOrder permutation and 16/17/18 repeat codes,
  including the optional use-length (max_symbol) form.
- Meta prefix codes (entropy image) for spatially-varying code groups.
- LZ77: length/distance prefix values with extra bits, the 120-entry 2D
  distance-neighborhood map, and the color cache
  (0x1e35a7bd multiplicative hashing).
- All four transforms, inverted in reverse bitstream order: PREDICTOR
  (14 modes, black/L/T border rules, flat-buffer TR wraparound),
  COLOR (signed 3.5 fixed-point cross-channel deltas), SUBTRACT_GREEN,
  COLOR_INDEXING (palette with sub-byte bundling).

Scale posture: like operators/jpeg.py this is per-payload Python inside
Arrow-batched ``mapInPandas`` with a pixel budget
(``VP8L_PIXEL_BUDGET``) that routes oversized images to a recoverable
NotImplementedError refusal (a quarantine row with error_kind
'unsupported') instead of stalling an executor core. At 100 TB route bulk WebP through
a codec library on the executors; this path keeps environments without
one correct.

Verified in tests/test_vp8l.py against an independent in-repo encoder
(byte-exact planted pixels across literals / LZ77 / cache / every
transform), mirroring the PNG/JPEG test strategy; the codec golden row
(plans/codec_check.py) pins it under the driver oracle.
"""

from __future__ import annotations

import struct

import numpy as np

# Per-image pixel budget for the per-pixel Python LZ77 loop (~1 µs/px).
# 4 Mpx ≈ 4 s worst case per payload — bounded; beyond it the decoder
# refuses recoverably rather than stalling a core. None disables.
VP8L_PIXEL_BUDGET = 1 << 22

# Code-length symbols are transmitted in this fixed permutation so the
# common ones (17/18/0/1/...) come first and trailing entries can be
# omitted (spec §3.7.2.2).
CODE_LENGTH_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)

# 2D distance-neighborhood map (spec §3.6.2.3): distance prefix values
# 1..120 address nearby pixels as (dx, dy) offsets; >120 are linear
# distances minus 120.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _BitReader:
    """LSB-first bit reader: ReadBits(n) returns n stream bits with the
    first-read bit as the result's LSB (spec §2)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise ValueError("malformed VP8L: bitstream exhausted")
        v = 0
        p = self.pos
        for i in range(n):
            v |= ((self.data[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return v


def _canonical_tree(lengths: list[int]) -> dict:
    """DEFLATE-style canonical prefix code from per-symbol lengths,
    returned as {(length, code): symbol}; code bits are consumed
    MSB-first from the LSB-first stream (spec §3.7.1)."""
    max_len = max(lengths)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    table: dict = {}
    for sym, ln in enumerate(lengths):
        if ln:
            table[(ln, next_code[ln])] = sym
            next_code[ln] += 1
    # over-/under-subscribed codes decode ambiguously — refuse up front
    kraft = sum(1 / (1 << ln) for ln in lengths if ln)
    if len(table) > 1 and abs(kraft - 1.0) > 1e-9:
        raise ValueError("malformed VP8L: non-canonical code lengths")
    return table


class _Prefix:
    """One decodable prefix code: either a 0-bit single symbol or a
    canonical tree walked bit by bit."""

    __slots__ = ("single", "table", "max_len")

    def __init__(self, *, single=None, lengths=None):
        self.single = single
        if lengths is None:
            self.table = None
            self.max_len = 0
        else:
            self.table = _canonical_tree(lengths)
            self.max_len = max(ln for ln in lengths if ln)

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code, ln = 0, 0
        while ln <= self.max_len:
            code = (code << 1) | br.read(1)
            ln += 1
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("malformed VP8L: invalid prefix code")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Prefix:
    """Spec §3.7.2: the 'simple' 1-2 symbol form or full code-length
    coding."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        if num_symbols == 1:
            return _Prefix(single=sym0)
        sym1 = br.read(8)
        lengths = [0] * alphabet_size
        for s in (sym0, sym1):
            if s >= alphabet_size:
                raise ValueError("malformed VP8L: simple-code symbol OOB")
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _Prefix(lengths=lengths)
    # code-length coding
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[CODE_LENGTH_ORDER[i]] = br.read(3)
    nz_cl = [i for i, v in enumerate(cl_lengths) if v]
    if not nz_cl:
        raise ValueError("malformed VP8L: empty code-length code")
    cl_tree = _Prefix(single=nz_cl[0]) if len(nz_cl) == 1 \
        else _Prefix(lengths=cl_lengths)
    lengths = [0] * alphabet_size
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_tree.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:  # 18
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("malformed VP8L: repeat overruns alphabet")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    nz = [i for i, v in enumerate(lengths) if v]
    if not nz:
        raise ValueError("malformed VP8L: prefix code with no symbols")
    if len(nz) == 1:
        return _Prefix(single=nz[0])
    return _Prefix(lengths=lengths)


def _copy_value(br: _BitReader, prefix: int) -> int:
    """Length/distance prefix value + extra bits (spec §3.6.2.2)."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_to_dist(code: int, w: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    dist = dy * w + dx
    return dist if dist >= 1 else 1


def _read_groups(br: _BitReader, w: int, h: int, cache_bits: int,
                 level0: bool):
    """(groups, meta, meta_bits): the 5-tree group list, plus the meta
    group-index image when present (spec §3.7.3)."""
    meta, meta_bits = None, 0
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        ent = _decode_image(br, mw, mh, level0=False)
        meta = [((px >> 8) & 0xFFFF) for px in ent]
        n_groups = max(meta) + 1
    else:
        n_groups = 1
    sizes = (256 + 24 + ((1 << cache_bits) if cache_bits else 0),
             256, 256, 256, 40)
    groups = [
        tuple(_read_prefix_code(br, s) for s in sizes)
        for _ in range(n_groups)
    ]
    return groups, meta, meta_bits


def _decode_image(br: _BitReader, w: int, h: int, *,
                  level0: bool) -> list[int]:
    """Spatially-coded ARGB image (spec §3.6): returns a flat row-major
    list of w*h ARGB uint32s. ``level0=False`` for entropy/transform
    sub-images (no transforms, no meta codes)."""
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("malformed VP8L: color cache bits out of range")
    groups, meta, meta_bits = _read_groups(br, w, h, cache_bits, level0)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    out = [0] * (w * h)
    pos, n = 0, w * h
    mw = (w + (1 << meta_bits) - 1) >> meta_bits if meta else 0

    def insert(px):
        cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> cache_shift] = px

    while pos < n:
        if meta is not None:
            g_idx = meta[((pos // w) >> meta_bits) * mw
                         + ((pos % w) >> meta_bits)]
            if g_idx >= len(groups):
                raise ValueError("malformed VP8L: meta group OOB")
            green_t, red_t, blue_t, alpha_t, dist_t = groups[g_idx]
        else:
            green_t, red_t, blue_t, alpha_t, dist_t = groups[0]
        s = green_t.read(br)
        if s < 256:
            r = red_t.read(br)
            b = blue_t.read(br)
            a = alpha_t.read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            pos += 1
            if cache is not None:
                insert(px)
        elif s < 280:
            length = _copy_value(br, s - 256)
            dist_code = _copy_value(br, dist_t.read(br))
            dist = _plane_to_dist(dist_code, w)
            if dist > pos or pos + length > n:
                raise ValueError("malformed VP8L: backref out of bounds")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                pos += 1
                if cache is not None:
                    insert(px)
        else:
            if cache is None:
                raise ValueError(
                    "malformed VP8L: cache symbol without color cache"
                )
            px = cache[s - 280]
            out[pos] = px
            pos += 1
    return out


# ------------------------------------------------------ transforms

def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _add_pixels(a: int, b: int) -> int:
    """Per-channel byte addition mod 256."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _sel(l, t, tl):  # noqa: E741 - spec naming
    p_l = p_t = 0
    for sh in (24, 16, 8, 0):
        pc = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        p_l += abs(pc - ((l >> sh) & 0xFF))
        p_t += abs(pc - ((t >> sh) & 0xFF))
    return l if p_l < p_t else t


def _cas_full(l, t, tl):  # noqa: E741
    px = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)
                   - ((tl >> sh) & 0xFF))
        px |= c << sh
    return px


def _cas_half(l, t, tl):  # noqa: E741
    ave = _avg2(l, t)
    px = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        # C truncating division (toward zero), per the reference decoder
        c = _clamp(a + int((a - b) / 2))
        px |= c << sh
    return px


def _predict(mode: int, l, t, tl, tr):  # noqa: E741
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _sel(l, t, tl)
    if mode == 12:
        return _cas_full(l, t, tl)
    if mode == 13:
        return _cas_half(l, t, tl)
    raise ValueError(f"malformed VP8L: predictor mode {mode}")


def _inv_predictor(buf: list[int], w: int, h: int, bits: int,
                   modes: list[int]) -> None:
    mw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if i == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = buf[i - 1]  # L
            elif x == 0:
                pred = buf[i - w]  # T
            else:
                mode = (modes[(y >> bits) * mw + (x >> bits)] >> 8) & 0xFF
                # flat-buffer addressing: TR of the rightmost column is
                # the current row's first pixel (already reconstructed)
                pred = _predict(
                    mode, buf[i - 1], buf[i - w], buf[i - w - 1],
                    buf[i - w + 1],
                )
            buf[i] = _add_pixels(buf[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """Signed 3.5 fixed-point cross-channel delta (spec §3.5.2): both
    the transform byte and the sample byte are reinterpreted int8."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color_transform(buf: list[int], w: int, h: int, bits: int,
                         cte: list[int]) -> None:
    mw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            t = cte[(y >> bits) * mw + (x >> bits)]
            g2r = (t >> 0) & 0xFF   # blue channel of the cte pixel
            g2b = (t >> 8) & 0xFF   # green channel
            r2b = (t >> 16) & 0xFF  # red channel
            px = buf[i]
            g = (px >> 8) & 0xFF
            r = ((px >> 16) & 0xFF) + _ct_delta(g2r, g)
            r &= 0xFF
            b = ((px >> 0) & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)
            b &= 0xFF
            buf[i] = (px & 0xFF00FF00) | (r << 16) | b


def _inv_subtract_green(buf: list[int]) -> None:
    for i, px in enumerate(buf):
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + g) & 0xFF
        b = (((px >> 0) & 0xFF) + g) & 0xFF
        buf[i] = (px & 0xFF00FF00) | (r << 16) | b


def _inv_color_indexing(buf: list[int], w: int, h: int, width_bits: int,
                        palette: list[int]) -> list[int]:
    if width_bits == 0:
        out = []
        for px in buf:
            idx = (px >> 8) & 0xFF
            if idx >= len(palette):
                raise ValueError("malformed VP8L: palette index OOB")
            out.append(palette[idx])
        return out
    packed_w = (w + (1 << width_bits) - 1) >> width_bits
    px_per = 1 << width_bits
    idx_bits = 8 >> width_bits
    mask = (1 << idx_bits) - 1
    out = [0] * (w * h)
    for y in range(h):
        for px_x in range(packed_w):
            g = (buf[y * packed_w + px_x] >> 8) & 0xFF
            for k in range(px_per):
                x = px_x * px_per + k
                if x >= w:
                    break
                idx = (g >> (k * idx_bits)) & mask
                if idx >= len(palette):
                    raise ValueError("malformed VP8L: palette index OOB")
                out[y * w + x] = palette[idx]
    return out


def _palette_width_bits(size: int) -> int:
    if size <= 2:
        return 3
    if size <= 4:
        return 2
    if size <= 16:
        return 1
    return 0


def decode_vp8l(chunk: bytes,
                pixel_budget: int | None = VP8L_PIXEL_BUDGET) -> np.ndarray:
    """Decode a VP8L chunk payload (starting at the 0x2F signature) to an
    (h, w, 4) uint8 RGBA array."""
    if not chunk or chunk[0] != 0x2F:
        raise ValueError("malformed VP8L: bad signature byte")
    br = _BitReader(chunk[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("malformed VP8L: unknown version")
    if pixel_budget is not None and w * h > pixel_budget:
        raise NotImplementedError(
            f"VP8L {w}x{h} exceeds the {pixel_budget}-pixel budget of the "
            "stdlib per-pixel decoder; raise pixel_budget or route to a "
            "codec library"
        )

    # transforms, read order retained for reverse application
    transforms = []
    cur_w = w
    while br.read(1):
        ttype = br.read(2)
        if any(t[0] == ttype for t in transforms):
            raise ValueError("malformed VP8L: duplicate transform")
        if ttype == 2:  # subtract green
            transforms.append((2, None))
        elif ttype in (0, 1):  # predictor / color
            bits = br.read(3) + 2
            tw = (cur_w + (1 << bits) - 1) >> bits
            th = (h + (1 << bits) - 1) >> bits
            sub = _decode_image(br, tw, th, level0=False)
            # the transform operates on the image at its READ-time width:
            # if COLOR_INDEXING (width-packing) was read first, predictor/
            # color apply to the packed-width image, not the full-width one
            transforms.append((ttype, (bits, sub, cur_w)))
        elif ttype == 3:  # color indexing
            size = br.read(8) + 1
            pal_deltas = _decode_image(br, size, 1, level0=False)
            palette = []
            prev = 0
            for d in pal_deltas:
                prev = _add_pixels(prev, d)
                palette.append(prev)
            wb = _palette_width_bits(size)
            transforms.append((3, (wb, palette)))
            if wb:
                cur_w = (cur_w + (1 << wb) - 1) >> wb

    buf = _decode_image(br, cur_w, h, level0=True)

    for ttype, data in reversed(transforms):
        if ttype == 3:
            wb, palette = data
            buf = _inv_color_indexing(buf, w, h, wb, palette)
        elif ttype == 2:
            _inv_subtract_green(buf)
        elif ttype == 1:
            bits, cte, tr_w = data
            _inv_color_transform(buf, tr_w, h, bits, cte)
        else:
            bits, modes, tr_w = data
            _inv_predictor(buf, tr_w, h, bits, modes)

    arr = np.array(buf, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = (arr >> 16) & 0xFF
    rgba[:, :, 1] = (arr >> 8) & 0xFF
    rgba[:, :, 2] = arr & 0xFF
    rgba[:, :, 3] = (arr >> 24) & 0xFF
    return rgba


def decode_webp_lossless(payload: bytes,
                         pixel_budget: int | None = VP8L_PIXEL_BUDGET,
                         ) -> np.ndarray:
    """Decode a RIFF/WEBP container holding a VP8L chunk. Lossy VP8 (and
    VP8X-wrapped streams) still refuse — only the lossless bitstream is
    self-contained enough to decode without a codec library.

    r12 revisit of the lossy-VP8 question (VERDICT r11 item 4,
    "attempt only with high confidence"): the bool-coder, intra
    predictors, and WHT/IDCT are spec-STRUCTURED, but VP8 key-frame
    coefficient decoding hinges on the default token probability table
    (RFC 6386 §13.5 — 4x8x3x11 = 1056 tabulated bytes) plus the
    probability-update tables, none of which are derivable. Recalling
    ~1.3k magic bytes wrong and pairing them with a same-table in-repo
    encoder would mirror-bug nonconformance invisibly — the exact
    failure mode the arithmetic-JPEG / Layer III policy exists for.
    Decision: the stub stays honest; triage routes lossy WebP out with
    dimensions from the probe (mediameta._probe_image)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("malformed WebP: not a RIFF/WEBP container")
    kind = payload[12:16]
    if kind != b"VP8L":
        raise NotImplementedError(
            f"WebP {kind!r} pixels need a codec library; only VP8L "
            "(lossless) decodes without one"
        )
    (clen,) = struct.unpack_from("<I", payload, 16)
    chunk = payload[20 : 20 + clen]
    if len(chunk) < clen:
        raise ValueError("malformed WebP: truncated VP8L chunk")
    return decode_vp8l(chunk, pixel_budget=pixel_budget)
