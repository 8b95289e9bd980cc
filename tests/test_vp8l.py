"""VP8L (lossless WebP) decoder, byte-exact against an independent
in-repo encoder (operators/vp8l.py; mirrors the PNG/JPEG test strategy:
the encoder below is written from the spec, not from the decoder).

Covers: literal-only streams, LZ77 backrefs through both the linear
(>120) and 2D-map distance codes, the color cache, all four transforms
(subtract-green, palette incl. sub-byte bundling, predictor across all
14 modes, color transform), meta prefix groups, the RIFF container
path, quarantine routing through decode_image, and the pixel budget."""

from __future__ import annotations

import heapq
import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import multimodal, vp8l

ORDER = vp8l.CODE_LENGTH_ORDER


# ------------------------------------------------------------ encoder

class _BW:
    """LSB-first bit writer (the spec's ReadBits mirror)."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int):
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def to_bytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _huff_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Code lengths via a plain Huffman heap (stable tie-breaks)."""
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, sym, (sym,)) for sym, f in sorted(freqs.items())]
    heapq.heapify(heap)
    lengths = dict.fromkeys(freqs, 0)
    while len(heap) > 1:
        f1, s1, m1 = heapq.heappop(heap)
        f2, s2, m2 = heapq.heappop(heap)
        for s in m1 + m2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, min(s1, s2), m1 + m2))
    return lengths


def _canon(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{sym: (len, code)} canonical assignment (increasing length, then
    symbol)."""
    out = {}
    code = 0
    prev_len = 0
    for ln, sym in sorted((ln, s) for s, ln in lengths.items() if ln):
        code <<= ln - prev_len
        out[sym] = (ln, code)
        code += 1
        prev_len = ln
    return out


def _put_code(bw: _BW, codes, sym):
    ln, code = codes[sym]
    for i in range(ln - 1, -1, -1):  # MSB-first within the code
        bw.put((code >> i) & 1, 1)


def _write_tree(bw: _BW, freqs: dict[int, int], alphabet_size: int):
    """Write one prefix code; returns {sym: (len, code)} for emission."""
    syms = sorted(freqs)
    if len(syms) <= 2 and all(s <= 255 for s in syms):
        bw.put(1, 1)  # simple
        bw.put(len(syms) - 1, 1)
        bw.put(1, 1)  # 8-bit first symbol
        bw.put(syms[0], 8)
        if len(syms) == 2:
            bw.put(syms[1], 8)
            return {syms[0]: (1, 0), syms[1]: (1, 1)}
        return {syms[0]: (0, 0)}
    bw.put(0, 1)  # code-length coded
    lengths = _huff_lengths(freqs)
    seq = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_freqs: dict[int, int] = {}
    for v in seq:
        cl_freqs[v] = cl_freqs.get(v, 0) + 1
    cl_lengths = _huff_lengths(cl_freqs)
    assert max(cl_lengths.values()) <= 7, "cl code must fit 3 bits"
    bw.put(19 - 4, 4)
    for i in range(19):
        bw.put(cl_lengths.get(ORDER[i], 0), 3)
    bw.put(0, 1)  # no max_symbol shortcut
    cl_codes = _canon(cl_lengths)
    for v in seq:
        _put_code(bw, cl_codes, v)
    return _canon(lengths)


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """(prefix_symbol, extra_value, extra_bits) for a length/distance."""
    if v <= 4:
        return v - 1, 0, 0
    prefix = 4
    while True:
        extra = (prefix - 2) >> 1
        offset = (2 + (prefix & 1)) << extra
        if offset + 1 <= v <= offset + (1 << extra):
            return prefix, v - offset - 1, extra
        prefix += 1


def _cache_key(px: int, bits: int) -> int:
    return (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - bits)


def _tokenize(pixels: list[int], copies=(), cache_bits=0):
    """Literal tokens, with optional ('copy', at, length, dist) spans
    replacing literals, and cache hits auto-substituted when enabled.
    ``copies`` entries must reference already-emitted data."""
    copy_at = {at: (length, dist) for at, length, dist in copies}
    cache = [None] * (1 << cache_bits) if cache_bits else None
    toks = []
    pos = 0
    while pos < len(pixels):
        if pos in copy_at:
            length, dist = copy_at[pos]
            for k in range(length):
                assert pixels[pos + k] == pixels[pos + k - dist]
                if cache is not None:
                    cache[_cache_key(pixels[pos + k], cache_bits)] = \
                        pixels[pos + k]
            toks.append(("copy", length, dist))
            pos += length
            continue
        px = pixels[pos]
        if cache is not None:
            key = _cache_key(px, cache_bits)
            if cache[key] == px:
                toks.append(("cache", key))
                pos += 1
                continue
            cache[key] = px
        toks.append(("lit", px))
        pos += 1
    return toks


def _encode_image(bw: _BW, pixels: list[int], w: int, *, level0: bool,
                  cache_bits=0, copies=(), meta=None):
    """Write one spatially-coded image. ``meta``: (bits, group_index_map,
    n_groups) to exercise meta prefix codes — groups share one token
    stream here but are written as distinct trees."""
    toks = _tokenize(pixels, copies, cache_bits)
    bw.put(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.put(cache_bits, 4)
    if level0:
        if meta is None:
            bw.put(0, 1)
        else:
            bits, gmap, n_groups = meta
            bw.put(1, 1)
            bw.put(bits - 2, 3)
            # entropy image: group index in (r<<8)|g -> green byte
            _encode_image(bw, [0xFF000000 | (g << 8) for g in gmap],
                          len(gmap), level0=False)
    green_f: dict[int, int] = {}
    red_f: dict[int, int] = {}
    blue_f: dict[int, int] = {}
    alpha_f: dict[int, int] = {}
    dist_f: dict[int, int] = {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t in toks:
        if t[0] == "lit":
            px = t[1]
            bump(green_f, (px >> 8) & 0xFF)
            bump(red_f, (px >> 16) & 0xFF)
            bump(blue_f, px & 0xFF)
            bump(alpha_f, (px >> 24) & 0xFF)
        elif t[0] == "copy":
            lp, _, _ = _prefix_encode(t[1])
            bump(green_f, 256 + lp)
            dp, _, _ = _prefix_encode(t[2] + 120)  # linear dist codes
            bump(dist_f, dp)
        else:
            bump(green_f, 280 + t[1])
    for d in (red_f, blue_f, alpha_f):
        if not d:
            d[0] = 1
    if not dist_f:
        dist_f[0] = 1
    n_groups = meta[2] if (level0 and meta is not None) else 1
    trees = []
    for _ in range(n_groups):
        g = _write_tree(bw, green_f,
                        256 + 24 + ((1 << cache_bits) if cache_bits else 0))
        r = _write_tree(bw, red_f, 256)
        b = _write_tree(bw, blue_f, 256)
        a = _write_tree(bw, alpha_f, 256)
        di = _write_tree(bw, dist_f, 40)
        trees.append((g, r, b, a, di))
    # emission: group chosen per the decoder's pixel-position rule
    if level0 and meta is not None:
        bits, gmap, _ = meta
        mw = (w + (1 << bits) - 1) >> bits

        def group_at(pos):
            return trees[gmap[((pos // w) >> bits) * mw
                              + ((pos % w) >> bits)]]
    else:
        def group_at(pos):
            return trees[0]
    pos = 0
    for t in toks:
        g_c, r_c, b_c, a_c, d_c = group_at(pos)
        if t[0] == "lit":
            px = t[1]
            _put_code(bw, g_c, (px >> 8) & 0xFF)
            _put_code(bw, r_c, (px >> 16) & 0xFF)
            _put_code(bw, b_c, px & 0xFF)
            _put_code(bw, a_c, (px >> 24) & 0xFF)
            pos += 1
        elif t[0] == "copy":
            lp, lx, lb = _prefix_encode(t[1])
            _put_code(bw, g_c, 256 + lp)
            bw.put(lx, lb)
            dp, dx, db = _prefix_encode(t[2] + 120)
            _put_code(bw, d_c, dp)
            bw.put(dx, db)
            pos += t[1]
        else:
            _put_code(bw, g_c, 280 + t[1])
            pos += 1


def _encode_vp8l(pixels_rgba, *, cache_bits=0, copies=(), meta=None,
                 subtract_green=False, palette=False, predictor=None,
                 color_transform=None, riff=True, palette_first=False):
    """Full VP8L stream from an (h, w, 4) RGBA array. Transforms are
    applied forward here and must be inverted by the decoder.
    ``predictor``: (bits, mode_map); ``color_transform``: (bits,
    cte_map) with cte pixels packed (r2b<<16)|(g2b<<8)|g2r."""
    arr = np.asarray(pixels_rgba, dtype=np.int64)
    h, w = arr.shape[:2]
    px = [
        (int(a) << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b, a in arr.reshape(-1, 4)
    ]
    bw = _BW()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(1, 1)  # alpha hint
    bw.put(0, 3)  # version

    cur_w = w
    if color_transform is not None:
        bits, cte = color_transform
        mw = (w + (1 << bits) - 1) >> bits
        out = []
        for i, p in enumerate(px):
            t = cte[((i // w) >> bits) * mw + ((i % w) >> bits)]
            g = (p >> 8) & 0xFF
            r = (p >> 16) & 0xFF
            b = p & 0xFF
            r_e = (r - vp8l._ct_delta(t & 0xFF, g)) & 0xFF
            b_e = (b - vp8l._ct_delta((t >> 8) & 0xFF, g)
                   - vp8l._ct_delta((t >> 16) & 0xFF, r)) & 0xFF
            out.append((p & 0xFF00FF00) | (r_e << 16) | b_e)
        px = out
        bw.put(1, 1)
        bw.put(1, 2)
        bw.put(bits - 2, 3)
        mh = (h + (1 << bits) - 1) >> bits
        _encode_image(bw, [0xFF000000 | c for c in cte], mw, level0=False)
        assert len(cte) == mw * mh
    if subtract_green:
        out = []
        for p in px:
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        px = out
        bw.put(1, 1)
        bw.put(2, 2)
    def _apply_palette():
        nonlocal px, cur_w
        pal = sorted(set(px))
        assert len(pal) <= 256
        wb = vp8l._palette_width_bits(len(pal))
        idx = {p: i for i, p in enumerate(pal)}
        if wb:
            per = 1 << wb
            ib = 8 >> wb
            pw = (w + per - 1) // per
            packed = []
            for y in range(h):
                for bx in range(pw):
                    g = 0
                    for k in range(per):
                        x = bx * per + k
                        if x < w:
                            g |= idx[px[y * w + x]] << (k * ib)
                    packed.append(0xFF000000 | (g << 8))
            px = packed
            cur_w = pw
        else:
            px = [0xFF000000 | (idx[p] << 8) for p in px]
        bw.put(1, 1)
        bw.put(3, 2)
        bw.put(len(pal) - 1, 8)
        deltas = []
        prev = 0
        for p in pal:
            d = 0
            for sh in (24, 16, 8, 0):
                d |= ((((p >> sh) & 0xFF) - ((prev >> sh) & 0xFF))
                      & 0xFF) << sh
            deltas.append(d)
            prev = p
        _encode_image(bw, deltas, len(pal), level0=False)

    if palette and palette_first:
        _apply_palette()
    if predictor is not None:
        bits, modes = predictor
        mw = (cur_w + (1 << bits) - 1) >> bits
        out = []
        for i, p in enumerate(px):
            y, x = divmod(i, cur_w)
            if i == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - cur_w]
            else:
                mode = modes[(y >> bits) * mw + (x >> bits)]
                pred = vp8l._predict(
                    mode, px[i - 1], px[i - cur_w], px[i - cur_w - 1],
                    px[i - cur_w + 1],
                )
            res = 0
            for sh in (24, 16, 8, 0):
                res |= ((((p >> sh) & 0xFF) - ((pred >> sh) & 0xFF))
                        & 0xFF) << sh
            out.append(res)
        px = out
        bw.put(1, 1)
        bw.put(0, 2)
        bw.put(bits - 2, 3)
        _encode_image(bw, [0xFF000000 | (m << 8) for m in modes], mw,
                      level0=False)
    if palette and not palette_first:
        _apply_palette()
    bw.put(0, 1)  # end of transforms

    _encode_image(bw, px, cur_w, level0=True, cache_bits=cache_bits,
                  copies=copies, meta=meta)
    chunk = bytes([0x2F]) + bw.to_bytes()
    if not riff:
        return chunk
    body = chunk + (b"\x00" if len(chunk) & 1 else b"")
    payload = b"WEBP" + b"VP8L" + struct.pack("<I", len(chunk)) + body
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _rgba(h, w, seed=0):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (h, w, 4), dtype=np.int64)
    a[:, :, 3] = 255
    return a


# -------------------------------------------------------------- tests

def test_literals_roundtrip():
    img = _rgba(3, 4, seed=1)
    out = vp8l.decode_webp_lossless(_encode_vp8l(img))
    assert (out == img).all()


def test_backref_linear_distance():
    # rows 1..3 copy row 0: one literal row + one long copy
    row = _rgba(1, 6, seed=2)
    img = np.tile(row, (4, 1, 1))
    payload = _encode_vp8l(img, copies=((6, 18, 6),))
    assert (vp8l.decode_webp_lossless(payload) == img).all()


def test_distance_map_2d_codes():
    """Planted stream: width 4, two rows; second row = row above (map
    code 1 = (0,1)), then the same last pixel repeated via map code 2 =
    (1,0) on a third row... kept minimal: 4 literals + copy(4, code 1)."""
    row = _rgba(1, 4, seed=3)
    img = np.tile(row, (2, 1, 1))
    arr = np.asarray(img, dtype=np.int64)
    px = [(int(a) << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
          for r, g, b, a in arr.reshape(-1, 4)]
    bw = _BW()
    bw.put(3, 14)
    bw.put(1, 14)
    bw.put(1, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # no meta
    lp, lx, lb = _prefix_encode(4)
    green_f: dict[int, int] = {256 + lp: 1}
    red_f: dict[int, int] = {}
    blue_f: dict[int, int] = {}
    alpha_f: dict[int, int] = {}
    for p in px[:4]:
        for d, sh in ((green_f, 8), (red_f, 16), (blue_f, 0),
                      (alpha_f, 24)):
            v = (p >> sh) & 0xFF
            d[v] = d.get(v, 0) + 1
    dist_f = {0: 1}
    g_c = _write_tree(bw, green_f, 256 + 24)
    r_c = _write_tree(bw, red_f, 256)
    b_c = _write_tree(bw, blue_f, 256)
    a_c = _write_tree(bw, alpha_f, 256)
    d_c = _write_tree(bw, dist_f, 40)
    for p in px[:4]:
        _put_code(bw, g_c, (p >> 8) & 0xFF)
        _put_code(bw, r_c, (p >> 16) & 0xFF)
        _put_code(bw, b_c, p & 0xFF)
        _put_code(bw, a_c, (p >> 24) & 0xFF)
    _put_code(bw, g_c, 256 + lp)
    bw.put(lx, lb)
    _put_code(bw, d_c, 0)  # prefix 0 -> dist value 1 -> map (0,1) = width
    chunk = bytes([0x2F]) + bw.to_bytes()
    out = vp8l.decode_vp8l(chunk)
    assert (out == img).all()


def test_color_cache_roundtrip():
    # few distinct colors, many repeats -> cache hits exercised
    base = _rgba(1, 3, seed=4)
    img = np.tile(base, (5, 2, 1))
    payload = _encode_vp8l(img, cache_bits=6)
    assert (vp8l.decode_webp_lossless(payload) == img).all()
    # sanity: the tokenizer actually produced cache tokens
    arr = np.asarray(img, dtype=np.int64)
    px = [(int(a) << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
          for r, g, b, a in arr.reshape(-1, 4)]
    assert any(t[0] == "cache" for t in _tokenize(px, (), 6))


def test_subtract_green_roundtrip():
    img = _rgba(4, 5, seed=5)
    payload = _encode_vp8l(img, subtract_green=True)
    assert (vp8l.decode_webp_lossless(payload) == img).all()


def test_palette_bundled_and_wide():
    # 3 colors -> 2-bit indices, 4 px/byte, width NOT a bundle multiple
    colors = [(250, 10, 5, 255), (0, 200, 30, 255), (9, 9, 9, 255)]
    idx = np.array([[0, 1, 2, 1, 0], [2, 2, 0, 1, 1],
                    [1, 0, 1, 2, 0]])
    img = np.array([[colors[i] for i in row] for row in idx],
                   dtype=np.int64)
    payload = _encode_vp8l(img, palette=True)
    assert (vp8l.decode_webp_lossless(payload) == img).all()
    # 20 colors -> no bundling (index = green byte)
    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, (20, 4), dtype=np.int64)
    pal[:, 3] = 255
    ii = rng.integers(0, 20, (4, 7))
    img2 = pal[ii]
    payload2 = _encode_vp8l(img2, palette=True)
    assert (vp8l.decode_webp_lossless(payload2) == img2).all()


def test_predictor_all_modes():
    """4x4 blocks, one mode per block, every mode 0..13 across two
    images — byte-exact reconstruction."""
    for seed, mode_set in ((7, list(range(7))), (8, list(range(7, 14)))):
        img = _rgba(8, 4 * len(mode_set), seed=seed)
        bits = 2
        mw = (img.shape[1] + 3) >> bits
        mh = (img.shape[0] + 3) >> bits
        modes = [mode_set[i % len(mode_set)] for i in range(mw * mh)]
        payload = _encode_vp8l(img, predictor=(bits, modes))
        assert (vp8l.decode_webp_lossless(payload) == img).all(), \
            f"modes {mode_set}"


def test_color_transform_roundtrip():
    img = _rgba(6, 6, seed=9)
    bits = 2
    # two cte blocks per axis with distinct signed multipliers
    cte = [(0x10 << 16) | (0xF0 << 8) | 0x33,
           (0xE0 << 16) | (0x22 << 8) | 0x99,
           (0x00 << 16) | (0x41 << 8) | 0xC5,
           (0x7F << 16) | (0x80 << 8) | 0x01]
    payload = _encode_vp8l(img, color_transform=(bits, cte))
    assert (vp8l.decode_webp_lossless(payload) == img).all()


def test_stacked_transforms():
    """subtract-green + predictor together (read order preserved,
    inverse applied in reverse)."""
    img = _rgba(5, 9, seed=10)
    bits = 2
    mw = (9 + 3) >> bits
    mh = (5 + 3) >> bits
    modes = [(i * 5) % 14 for i in range(mw * mh)]
    payload = _encode_vp8l(img, subtract_green=True,
                           predictor=(bits, modes))
    assert (vp8l.decode_webp_lossless(payload) == img).all()


def test_palette_before_predictor_ordering():
    """Spec-legal transform order COLOR_INDEXING -> PREDICTOR: the
    predictor then operates on the width-PACKED image, so its inverse
    must run at the packed width, not the canvas width (r10 ADVICE —
    the inverter used to misindex and quarantine a valid image)."""
    rng = np.random.default_rng(77)
    # <=16 colors forces width packing (2 px/byte at 8 colors -> wb=1)
    pal = _rgba(1, 8, seed=3).reshape(8, 4)
    idx = rng.integers(0, 8, size=(6, 13))
    img = pal[idx]
    bits = 2
    pw = (13 + 1) >> 1  # packed width at wb=1
    mw = (pw + 3) >> bits
    mh = (6 + 3) >> bits
    modes = [(i * 3) % 14 for i in range(mw * mh)]
    payload = _encode_vp8l(img, palette=True, palette_first=True,
                           predictor=(bits, modes))
    assert (vp8l.decode_webp_lossless(payload) == img).all()


def test_meta_prefix_groups():
    img = _rgba(4, 8, seed=11)
    bits = 2  # 4-px tiles -> 2x1 meta image
    gmap = [0, 1]
    payload = _encode_vp8l(img, meta=(bits, gmap, 2))
    assert (vp8l.decode_webp_lossless(payload) == img).all()


def test_container_and_refusals():
    img = _rgba(2, 2, seed=12)
    payload = _encode_vp8l(img)
    with pytest.raises(NotImplementedError, match="codec library"):
        vp8l.decode_webp_lossless(
            payload[:12] + b"VP8 " + payload[16:]
        )
    with pytest.raises(ValueError, match="not a RIFF"):
        vp8l.decode_webp_lossless(b"JUNK" + payload[4:])
    with pytest.raises(ValueError, match="truncated VP8L chunk"):
        vp8l.decode_webp_lossless(payload[:-5])
    with pytest.raises(ValueError, match="bitstream exhausted|invalid"):
        chunk = _encode_vp8l(img, riff=False)
        vp8l.decode_vp8l(chunk[:6])
    with pytest.raises(NotImplementedError, match="pixel budget"):
        vp8l.decode_vp8l(_encode_vp8l(img, riff=False), pixel_budget=3)


def test_decode_rgb_routes_vp8l_and_quarantine(spark):
    """multimodal._decode_rgb dispatches VP8L WebP to the real decoder;
    lossy VP8 stays quarantine 'unsupported'."""
    img = _rgba(3, 5, seed=13)
    payload = _encode_vp8l(img)
    fmt, rgb = multimodal._decode_rgb(payload)
    assert fmt == "webp"
    assert (rgb == np.asarray(img, dtype=np.uint8)[:, :, :3]).all()

    lossy = payload[:12] + b"VP8 " + payload[16:]
    blobs = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(lossy))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.decode_image(
        blobs
    ).collect()}
    assert rows[1].format == "webp" and rows[1].error is None
    assert (rows[1].width, rows[1].height) == (5, 3)
    assert rows[2].error_kind == "unsupported"


def test_distance_map_table_invariants():
    """The 120-entry 2D distance map is a transcribed spec constant; pin
    the two structural properties that catch transcription errors: its
    membership is EXACTLY the near-neighborhood {dy=0, dx 1..8} ∪
    {dy 1..7, dx -7..8} (8 + 7×16 = 120 cells), and entries are ordered
    by non-decreasing Euclidean distance."""
    m = vp8l._DIST_MAP
    assert len(m) == 120 and len(set(m)) == 120
    want = {(dx, 0) for dx in range(1, 9)} | {
        (dx, dy) for dy in range(1, 8) for dx in range(-7, 9)
    }
    assert set(m) == want
    d2 = [dx * dx + dy * dy for dx, dy in m]
    assert all(a <= b for a, b in zip(d2, d2[1:]))
