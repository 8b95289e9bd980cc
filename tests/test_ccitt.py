"""CCITT T.4/T.6 decoder (operators/ccitt.py) against an INDEPENDENT
in-test encoder written from the spec prose (coding-decision procedure
of T.6 §2.2 / T.4 §4): pixel-scan b1/b2/a1 derivation here vs the
decoder's transition-list bisect machinery — a mirrored misreading
would have to happen twice in different representations.

Also machine-verifies the transcribed code tables' STRUCTURE: each
color space prefix-free with Kraft sum 4081/4096 (the reserved EOL
region — identical deficits for both colors is a property of the
published tables, not of any single entry), mode space 127/128."""

from __future__ import annotations

import random

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import ccitt as C


# ---------------------------------------------------------------------------
# independent encoder (spec-prose implementation, pixel scans)
# ---------------------------------------------------------------------------

class _W:
    def __init__(self):
        self.bits: list[str] = []

    def put(self, code: str):
        self.bits.append(code)

    def bytes(self) -> bytes:
        s = "".join(self.bits)
        s += "0" * (-len(s) % 8)
        return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def _encode_run(w: _W, run: int, color: int):
    term = (C.WHITE_TERM, C.BLACK_TERM)[color]
    makeup = (C.WHITE_MAKEUP, C.BLACK_MAKEUP)[color]
    while run >= 2624:
        w.put(C.EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        m = (run // 64) * 64
        w.put(C.EXT_MAKEUP[m] if m >= 1792 else makeup[m])
        run -= m
    w.put(term[run])


def _px(line, i):
    """Pixel with the imaginary white left border."""
    if i < 0:
        return 0
    if i >= len(line):
        # pixels past the end never exist; changes are not found there
        raise IndexError
    return line[i]


def _next_change(line, start, columns):
    """First position > start where the color changes (imaginary white
    pixel before position 0); columns when none."""
    i = max(start, -1) + 1
    while i < columns:
        prev = 0 if i == 0 else line[i - 1]
        if line[i] != prev:
            return i
        i += 1
    return columns


def _next_change_color(line, start, columns, want):
    """First changing element > start whose new color == want."""
    i = start
    while True:
        i = _next_change(line, i, columns)
        if i >= columns:
            return columns
        if line[i] == want:
            return i


def _encode_g4(img: np.ndarray, *, eofb: bool = True) -> bytes:
    rows, columns = img.shape
    w = _W()
    ref = np.zeros(columns, dtype=np.uint8)
    for r in range(rows):
        line = img[r]
        a0, color = -1, 0
        while a0 < columns:
            b1 = _next_change_color(ref, a0, columns, 1 - color)
            b2 = _next_change(ref, b1, columns)
            a1 = _next_change(line, a0, columns)
            if b2 < a1:
                w.put("0001")  # pass
                a0 = b2
            elif abs(a1 - b1) <= 3:
                w.put({0: "1", 1: "011", 2: "000011", 3: "0000011",
                       -1: "010", -2: "000010", -3: "0000010"}
                      [a1 - b1])
                a0 = a1
                color ^= 1
            else:
                a2 = _next_change(line, a1, columns)
                w.put("001")  # horizontal
                start = a0 if a0 > 0 else 0
                _encode_run(w, a1 - start, color)
                _encode_run(w, a2 - a1, 1 - color)
                a0 = a2
        ref = line
    if eofb:
        w.put(C.EOL + C.EOL)
    return w.bytes()


def _encode_mh(img: np.ndarray, *, byte_align: bool = False) -> bytes:
    rows, columns = img.shape
    w = _W()
    for r in range(rows):
        if byte_align:
            s = "".join(w.bits)
            w.bits = [s + "0" * (-len(s) % 8)]
        line = img[r]
        pos, color = 0, 0
        while pos < columns:
            run = 0
            while pos + run < columns and line[pos + run] == color:
                run += 1
            _encode_run(w, run, color)
            pos += run
            color ^= 1
    return w.bytes()


def _rand_img(rng, rows, columns):
    """Structured random bilevel image: run-lengths drawn from a mix of
    short and long runs so every mode (pass/vertical/horizontal, makeup
    codes) gets exercised."""
    img = np.zeros((rows, columns), dtype=np.uint8)
    for r in range(rows):
        if r > 0 and rng.random() < 0.3:
            img[r] = img[r - 1]  # V0-heavy line
            if rng.random() < 0.5 and columns > 4:
                i = rng.randrange(columns - 1)
                img[r, i] ^= 1
            continue
        pos, color = 0, rng.randrange(2)
        while pos < columns:
            run = rng.choice((1, 2, 3, 5, 8, 17, 40, 70, 200))
            img[r, pos:pos + run] = color
            pos += run
            color ^= 1
    return img


# ---------------------------------------------------------------------------
# table structure
# ---------------------------------------------------------------------------

def test_tables_prefix_free_and_kraft():
    from fractions import Fraction

    def space(term, makeup):
        return (list(term.values()) + list(makeup.values())
                + list(C.EXT_MAKEUP.values()) + [C.EOL])

    for codes in (space(C.WHITE_TERM, C.WHITE_MAKEUP),
                  space(C.BLACK_TERM, C.BLACK_MAKEUP)):
        assert len(set(codes)) == len(codes)
        by_len = sorted(codes, key=len)
        for i, a in enumerate(by_len):
            for b in by_len[i + 1:]:
                assert not b.startswith(a), (a, b)
        assert sum(Fraction(1, 2 ** len(c)) for c in codes) \
            == Fraction(4081, 4096)
    modes = list(C._MODE_CODES)
    assert sum(Fraction(1, 2 ** len(c)) for c in modes) \
        == Fraction(127, 128)
    for i, a in enumerate(sorted(modes, key=len)):
        for b in sorted(modes, key=len)[i + 1:]:
            assert not b.startswith(a), (a, b)
    assert len(C.WHITE_TERM) == len(C.BLACK_TERM) == 64
    assert len(C.WHITE_MAKEUP) == len(C.BLACK_MAKEUP) == 27
    assert len(C.EXT_MAKEUP) == 13


def test_known_spot_codes():
    """The handful of codes every fax text quotes — anchors beyond the
    structural checks."""
    assert C.WHITE_TERM[0] == "00110101"
    assert C.WHITE_TERM[1] == "000111"
    assert C.WHITE_TERM[2] == "0111"
    assert C.BLACK_TERM[0] == "0000110111"
    assert C.BLACK_TERM[1] == "010"
    assert C.BLACK_TERM[2] == "11"
    assert C.BLACK_TERM[3] == "10"
    assert C.WHITE_MAKEUP[64] == "11011"
    assert C.WHITE_MAKEUP[1728] == "010011011"
    assert C.BLACK_MAKEUP[64] == "0000001111"
    assert C.EOL == "000000000001"


# ---------------------------------------------------------------------------
# G4 round-trips
# ---------------------------------------------------------------------------

def test_g4_hand_cases():
    cases = [
        np.zeros((3, 8), dtype=np.uint8),                # all white
        np.ones((3, 8), dtype=np.uint8),                 # all black
        np.array([[0, 1] * 8] * 4, dtype=np.uint8),      # checkerboard cols
        np.array([[0] * 16, [1] * 16, [0] * 16], dtype=np.uint8),
        np.eye(7, dtype=np.uint8),                       # diagonal (V modes)
        np.array([[1] + [0] * 15], dtype=np.uint8),      # black at col 0
    ]
    for img in cases:
        data = _encode_g4(img)
        out = C.decode_g4(data, img.shape[1], img.shape[0])
        assert np.array_equal(out, img), img

    # pass mode: a black run on the reference line that the coding line
    # skips entirely
    img = np.array([
        [0, 0, 1, 1, 0, 0, 1, 1, 0, 0],
        [0, 0, 0, 0, 0, 0, 1, 1, 0, 0],
    ], dtype=np.uint8)
    data = _encode_g4(img)
    assert np.array_equal(C.decode_g4(data, 10, 2), img)


def test_g4_random_differential():
    rng = random.Random(1313)
    for trial in range(40):
        rows = rng.randint(1, 24)
        columns = rng.choice((1, 2, 7, 8, 63, 64, 100, 321))
        img = _rand_img(rng, rows, columns)
        data = _encode_g4(img)
        out = C.decode_g4(data, columns, rows)
        assert np.array_equal(out, img), (trial, rows, columns)


def test_g4_wide_runs_hit_makeup_chains():
    rng = random.Random(7)
    img = np.zeros((3, 6000), dtype=np.uint8)
    img[0, 5800:] = 1              # white 5800 (2560+2560+640+40) run
    img[1, :3000] = 1              # black 3000 run
    img[2, ::2] = rng.randrange(2)
    data = _encode_g4(img)
    assert np.array_equal(C.decode_g4(data, 6000, 3), img)


def test_g4_eofb_termination_without_row_count():
    img = np.array([[0, 1, 1, 0], [1, 1, 0, 0]], dtype=np.uint8)
    data = _encode_g4(img, eofb=True)
    out = C.decode_g4(data, 4, None)
    assert np.array_equal(out, img)


def test_g4_malformed_and_refusals():
    img = np.ones((4, 16), dtype=np.uint8)
    data = _encode_g4(img)
    with pytest.raises(ValueError, match="ends"):
        C.decode_g4(data[:2], 16, 4)      # truncated mid-code
    with pytest.raises(NotImplementedError, match="uncompressed"):
        # EXT mode escape: 0000001 as the first mode code
        C.decode_g4(bytes([0b00000010]), 16, 1)
    with pytest.raises(ValueError, match="columns"):
        C.decode_g4(b"", 0, 1)


# ---------------------------------------------------------------------------
# MH (G3 1D) round-trips
# ---------------------------------------------------------------------------

def test_mh_round_trip_and_byte_align():
    rng = random.Random(99)
    for trial in range(20):
        rows = rng.randint(1, 12)
        columns = rng.choice((1, 5, 64, 173))
        img = _rand_img(rng, rows, columns)
        for align in (False, True):
            data = _encode_mh(img, byte_align=align)
            out = C.decode_mh(data, columns, rows, byte_align=align)
            assert np.array_equal(out, img), (trial, align)


def test_mh_leading_black_needs_zero_white_run():
    img = np.array([[1, 1, 0, 1]], dtype=np.uint8)
    data = _encode_mh(img)
    assert np.array_equal(C.decode_mh(data, 4, 1), img)


def test_mh_overrun_is_malformed():
    # encode a 10-wide line, decode as 8 columns -> run overruns
    img = np.zeros((1, 10), dtype=np.uint8)
    data = _encode_mh(img)
    with pytest.raises(ValueError, match="overrun"):
        C.decode_mh(data, 8, 1)


# ---------------------------------------------------------------------------
# TIFF integration (compression 2/3/4)
# ---------------------------------------------------------------------------

def _tiff_ccitt(img: np.ndarray, *, compression=4, photometric=0,
                rows_per_strip=None, t_options=None,
                fill_order=None) -> bytes:
    """Minimal little-endian bilevel TIFF around independently encoded
    CCITT strips (this file's spec-prose encoders)."""
    import struct

    h, w = img.shape
    rps = rows_per_strip or h
    strips = []
    for y0 in range(0, h, rps):
        chunk = img[y0: y0 + rps]
        if compression == 4:
            strips.append(_encode_g4(chunk, eofb=False))
        elif compression == 2:
            strips.append(_encode_mh(chunk, byte_align=True))
        else:  # 3: EOL-prefixed 1D
            wtr = _W()
            for r in range(chunk.shape[0]):
                wtr.put(C.EOL)
                line = chunk[r]
                pos, color = 0, 0
                while pos < w:
                    run = 0
                    while pos + run < w and line[pos + run] == color:
                        run += 1
                    _encode_run(wtr, run, color)
                    pos += run
                    color ^= 1
            strips.append(wtr.bytes())

    entries = [
        (256, 4, 1, [w]), (257, 4, 1, [h]), (258, 3, 1, [1]),
        (259, 3, 1, [compression]), (262, 3, 1, [photometric]),
        (277, 3, 1, [1]), (278, 4, 1, [rps]),
    ]
    if fill_order is not None:
        entries.append((266, 3, 1, [fill_order]))
    if t_options is not None:
        entries.append((292 if compression == 3 else 293, 4, 1,
                        [t_options]))
    n_entries = len(entries) + 2
    ifd0 = 8
    ifd_size = 2 + 12 * n_entries + 4
    data_at = ifd0 + ifd_size
    # overflow only for multi-strip offset/count arrays
    n_strips = len(strips)
    arr_bytes = 4 * n_strips if n_strips > 1 else 0
    strips_at = data_at + 2 * arr_bytes
    offsets, at = [], strips_at
    for s in strips:
        offsets.append(at)
        at += len(s)
    counts = [len(s) for s in strips]

    overflow = b""

    def entry(tag, ftype, count, values):
        nonlocal overflow
        fmt = {3: "H", 4: "I"}[ftype]
        vb = b"".join(struct.pack("<" + fmt, v) for v in values)
        if len(vb) <= 4:
            return struct.pack("<HHI", tag, ftype, count) + \
                vb.ljust(4, b"\x00")
        off = data_at + len(overflow)
        overflow += vb
        return struct.pack("<HHI", tag, ftype, count) + \
            struct.pack("<I", off)

    all_entries = entries + [(273, 4, n_strips, offsets),
                             (279, 4, n_strips, counts)]
    all_entries.sort(key=lambda e: e[0])
    ifd = struct.pack("<H", n_entries)
    for tag, ftype, count, values in all_entries:
        ifd += entry(tag, ftype, count, values)
    ifd += struct.pack("<I", 0)
    head = b"II*\x00" + struct.pack("<I", ifd0)
    return head + ifd + overflow + b"".join(strips)


def test_tiff_g4_decodes():
    from youtube_api_data_etl_automation_spark.operators import tiff

    rng = random.Random(5)
    img = _rand_img(rng, 20, 37)
    out = tiff.decode_tiff(_tiff_ccitt(img, compression=4))
    # photometric 0 (WhiteIsZero): black sample (1) -> visual 0
    expect = np.repeat(((1 - img) * 255).astype(np.uint8)[:, :, None],
                       3, axis=2)
    assert np.array_equal(out, expect)
    # multi-strip: each strip restarts the reference line
    out2 = tiff.decode_tiff(_tiff_ccitt(img, compression=4,
                                        rows_per_strip=7))
    assert np.array_equal(out2, expect)
    # declared BlackIsZero is honored, not second-guessed
    out3 = tiff.decode_tiff(_tiff_ccitt(img, compression=4,
                                        photometric=1))
    assert np.array_equal(
        out3, np.repeat((img * 255).astype(np.uint8)[:, :, None],
                        3, axis=2))


def test_tiff_mh_and_g3_decode():
    from youtube_api_data_etl_automation_spark.operators import tiff

    rng = random.Random(6)
    img = _rand_img(rng, 9, 64)
    expect = np.repeat(((1 - img) * 255).astype(np.uint8)[:, :, None],
                       3, axis=2)
    for comp in (2, 3):
        out = tiff.decode_tiff(_tiff_ccitt(img, compression=comp))
        assert np.array_equal(out, expect), comp


def test_tiff_ccitt_refusals():
    from youtube_api_data_etl_automation_spark.operators import tiff

    img = np.zeros((4, 16), dtype=np.uint8)
    with pytest.raises(NotImplementedError, match="uncompressed"):
        tiff.decode_tiff(_tiff_ccitt(img, compression=4, t_options=2))
    # G3 2D (T4Options bit 0) DECODES since r13 — see
    # test_tiff_g3_2d_and_pdf_k_positive; the uncompressed option
    # stays refused
    with pytest.raises(NotImplementedError, match="uncompressed"):
        tiff.decode_tiff(_tiff_ccitt(img, compression=3, t_options=2))
    with pytest.raises(ValueError, match="FillOrder"):
        tiff.decode_tiff(_tiff_ccitt(img, compression=4, fill_order=3))


def test_tiff_ccitt_fillorder2():
    """r13: FillOrder 2 TIFFs (LSB-first bit fill) decode via the
    derived per-byte bit reversal — built here by reversing the
    independently encoded strips."""
    from youtube_api_data_etl_automation_spark.operators import tiff

    rng = random.Random(23)
    img = _rand_img(rng, 7, 29)
    normal = _tiff_ccitt(img, compression=4)
    rev_strip = bytes(
        sum(((b >> i) & 1) << (7 - i) for i in range(8))
        for b in _encode_g4(img, eofb=False))
    # rebuild with the reversed strip and FillOrder tag
    flipped = _tiff_ccitt_raw_strip(img.shape, rev_strip,
                                    compression=4,
                                    extra=[(266, 3, 1, [2])])
    out = tiff.decode_tiff(flipped)
    assert np.array_equal(out, tiff.decode_tiff(normal))


def _tiff_ccitt_raw_strip(shape, strip, *, compression, extra=()):
    """Single-strip CCITT TIFF around pre-built strip bytes; ``extra``
    appends (tag, type, count, values) entries — the ONE in-test IFD
    writer for pre-encoded strips (r13 review consolidation)."""
    import struct

    h, w = shape
    entries = [
        (256, 4, 1, [w]), (257, 4, 1, [h]), (258, 3, 1, [1]),
        (259, 3, 1, [compression]), (262, 3, 1, [0]),
        (277, 3, 1, [1]), (278, 4, 1, [h]),
    ] + list(extra)
    n_entries = len(entries) + 2
    ifd0 = 8
    ifd_size = 2 + 12 * n_entries + 4
    strips_at = ifd0 + ifd_size
    all_entries = entries + [(273, 4, 1, [strips_at]),
                             (279, 4, 1, [len(strip)])]
    all_entries.sort(key=lambda e: e[0])
    ifd = struct.pack("<H", n_entries)
    for tag, ftype, count, values in all_entries:
        fmt = {3: "H", 4: "I"}[ftype]
        vb = b"".join(struct.pack("<" + fmt, v) for v in values)
        ifd += struct.pack("<HHI", tag, ftype, count) +             vb.ljust(4, b"\x00")
    ifd += struct.pack("<I", 0)
    return b"II*\x00" + struct.pack("<I", ifd0) + ifd + strip


def test_g4_byte_align_and_zero_fill_tail():
    """r13 review fixes: EncodedByteAlign-style per-line alignment
    decodes (it was silently ignored for G4), and a zero-padded tail
    without EOFB terminates rows=None decoding instead of misparsing
    fill bits as the EXT escape."""
    rng = random.Random(17)
    img = _rand_img(rng, 6, 21)
    # aligned independent encoder: same coding-decision procedure as
    # _encode_g4, with each line's first code starting on a byte
    # boundary (the reference line still carries across lines)
    w = _W()
    ref = np.zeros(21, dtype=np.uint8)
    for r in range(6):
        s = "".join(w.bits)
        w.bits = [s + "0" * (-len(s) % 8)]
        line = img[r]
        a0, color = -1, 0
        while a0 < 21:
            b1 = _next_change_color(ref, a0, 21, 1 - color)
            b2 = _next_change(ref, b1, 21)
            a1 = _next_change(line, a0, 21)
            if b2 < a1:
                w.put("0001")
                a0 = b2
            elif abs(a1 - b1) <= 3:
                w.put({0: "1", 1: "011", 2: "000011", 3: "0000011",
                       -1: "010", -2: "000010", -3: "0000010"}
                      [a1 - b1])
                a0 = a1
                color ^= 1
            else:
                a2 = _next_change(line, a1, 21)
                w.put("001")
                start = a0 if a0 > 0 else 0
                _encode_run(w, a1 - start, color)
                _encode_run(w, a2 - a1, 1 - color)
                a0 = a2
        ref = line
    aligned = w.bytes()
    out = C.decode_g4(aligned, 21, 6, byte_align=True)
    assert np.array_equal(out, img)

    # zero-fill tail, no EOFB, rows=None: clean termination
    plain = _encode_g4(img, eofb=False) + b"\x00\x00"
    out2 = C.decode_g4(plain, 21, None)
    assert np.array_equal(out2, img)


def test_g4_vertical_regression_is_malformed():
    """r13 review fix: a VL mode landing LEFT of a0 must refuse (it
    would make the next reference line unsorted -> silent garbage)."""
    # craft: line of 16, ref transitions from row 1 at [4, 6]; then a
    # stream whose second row does V0 (a1=4), then VL3 against b1=6
    # -> a1 = 3 < a0 = 4
    w = _W()
    # row 1: white 4, black 2, white 10  (H + runs, then V0 x fill)
    w.put("001")                      # H
    _encode_run(w, 4, 0)
    _encode_run(w, 2, 1)
    # a0=6 white; b1=16 (none) -> V0 lands 16: line done
    w.put("1")
    # row 2: V0 (a1=4, color black), then VL3 on b1=6 -> a1=3 < 4
    w.put("1")
    w.put("0000010")
    data = w.bytes()
    with pytest.raises(ValueError, match="regresses"):
        C.decode_g4(data, 16, 2)


def test_mh_fill_bits_terminate_rows_none():
    """r13 review fix: byte padding leaves 1-7 zero fill bits; all of
    them must terminate rows=None decoding cleanly (the old '<4 bits'
    test missed 4-7)."""
    for columns in (29, 30, 31, 33, 37):
        img = np.zeros((1, columns), dtype=np.uint8)
        img[0, 3:7] = 1
        data = _encode_mh(img)
        out = C.decode_mh(data, columns, None)
        assert np.array_equal(out, img), columns


# ---------------------------------------------------------------------------
# G3 mixed 1D/2D (T.4 §4.2 — TIFF compression 3 + T4Options bit 0,
# PDF K>0)
# ---------------------------------------------------------------------------

def _encode_g3(img: np.ndarray, *, k: int = 2, fill_to_byte=False,
               rtc=False) -> bytes:
    """Independent T.4 2D encoder: EOL + tag per line; every k-th line
    1D (the K-parameter discipline real encoders follow), others 2D
    against the line above; optional zero fill before each EOL.
    ``rtc``: False, True/'tagged' ((EOL+1) x 6, the libtiff form),
    'tagless' (bare EOL x 6), or 'fill' (byte-fill before each RTC
    EOL)."""
    rows, columns = img.shape
    w = _W()
    ref = np.zeros(columns, dtype=np.uint8)
    for r in range(rows):
        if fill_to_byte:
            n = len("".join(w.bits)) + len(C.EOL) + 1
            w.put("0" * (-n % 8))
        w.put(C.EOL)
        one_d = (r % k == 0)
        w.put("1" if one_d else "0")
        line = img[r]
        if one_d:
            pos, color = 0, 0
            while pos < columns:
                run = 0
                while pos + run < columns and line[pos + run] == color:
                    run += 1
                _encode_run(w, run, color)
                pos += run
                color ^= 1
        else:
            a0, color = -1, 0
            while a0 < columns:
                b1 = _next_change_color(ref, a0, columns, 1 - color)
                b2 = _next_change(ref, b1, columns)
                a1 = _next_change(line, a0, columns)
                if b2 < a1:
                    w.put("0001")
                    a0 = b2
                elif abs(a1 - b1) <= 3:
                    w.put({0: "1", 1: "011", 2: "000011",
                           3: "0000011", -1: "010", -2: "000010",
                           -3: "0000010"}[a1 - b1])
                    a0 = a1
                    color ^= 1
                else:
                    a2 = _next_change(line, a1, columns)
                    w.put("001")
                    start = a0 if a0 > 0 else 0
                    _encode_run(w, a1 - start, color)
                    _encode_run(w, a2 - a1, 1 - color)
                    a0 = a2
        ref = line
    if rtc:
        if rtc == "tagless":
            w.put(C.EOL * 6)
        elif rtc == "fill":
            for _ in range(6):
                w.put("0" * (-len("".join(w.bits)) % 8))
                w.put(C.EOL + "1")
        else:
            # standard T.4 2D RTC: (EOL + tag-bit 1) x 6 — what
            # libtiff writes (r13 review fix: the old decoder probe
            # matched only the tagless form)
            w.put((C.EOL + "1") * 6)
    return w.bytes()


def test_g3_mixed_round_trip():
    rng = random.Random(31)
    for trial in range(12):
        rows = rng.randint(1, 16)
        columns = rng.choice((1, 8, 64, 129))
        img = _rand_img(rng, rows, columns)
        for fill in (False, True):
            data = _encode_g3(img, k=rng.choice((1, 2, 4)),
                              fill_to_byte=fill)
            out = C.decode_g3(data, columns, rows)
            assert np.array_equal(out, img), (trial, fill)


def test_g3_rtc_and_rows_none():
    rng = random.Random(32)
    img = _rand_img(rng, 5, 40)
    # standard tagged RTC ((EOL+1) x 6, the libtiff form)
    data = _encode_g3(img, rtc=True)
    out = C.decode_g3(data, 40, None)
    assert np.array_equal(out, img)
    # tagless EOLx6 (non-standard but seen in the wild) ends too
    out2 = C.decode_g3(_encode_g3(img, rtc="tagless"), 40, None)
    assert np.array_equal(out2, img)
    # fill-padded RTC: zero fill before each RTC EOL is absorbed
    out3 = C.decode_g3(_encode_g3(img, rtc="fill"), 40, None)
    assert np.array_equal(out3, img)
    # first line tagged 2D is malformed
    bad = _W()
    bad.put(C.EOL + "0" + "1")
    with pytest.raises(ValueError, match="first G3 line"):
        C.decode_g3(bad.bytes(), 8, 1)


def test_tiff_g3_2d_and_pdf_k_positive():
    from youtube_api_data_etl_automation_spark.operators import tiff

    rng = random.Random(33)
    img = _rand_img(rng, 8, 33)
    # TIFF compression 3 + T4Options bit 0 (+ fill bit set: absorbed)
    for opts in (1, 5):
        strip = _encode_g3(img, fill_to_byte=bool(opts & 4))
        payload = _tiff_ccitt_raw_strip(
            img.shape, strip, compression=3,
            extra=[(292, 4, 1, [opts])])
        out = tiff.decode_tiff(payload)
        expect = np.repeat(((1 - img) * 255).astype(np.uint8)
                           [:, :, None], 3, axis=2)
        assert np.array_equal(out, expect), opts


def test_pdf_ccitt_k_positive_decodes():
    from tests.test_pdf_images import img_obj, pdf_with_images
    from youtube_api_data_etl_automation_spark.operators import pdf as P

    rng = random.Random(34)
    img = _rand_img(rng, 6, 24)
    data = _encode_g3(img, k=2)
    doc = pdf_with_images([(b"G3", img_obj(
        b"/Width 24 /Height 6 /BitsPerComponent 1 "
        b"/Filter /CCITTFaxDecode "
        b"/DecodeParms << /K 2 /Columns 24 >> ", data))])
    (r,) = P.extract_pdf_images(doc)
    assert r["error"] is None
    dark = ((1 - img) * 255).astype(np.uint8).tobytes()
    assert r["payload"] == b"P5\n24 6\n255\n" + dark


def _multi_page_tiff(pages):
    """N-page LE TIFF, one strip per page. ``pages`` is a list of
    ``(strip_bytes, compression, (h, w), bits, photometric)`` — mixed
    per-page compressions/sample layouts are the point (the fixture's
    mixed-codec multi-page contract)."""
    import struct

    def ifd(entries, next_off):
        out = struct.pack("<H", len(entries))
        for tag, ftype, count, values in sorted(entries):
            fmt = {3: "H", 4: "I"}[ftype]
            vb = b"".join(struct.pack("<" + fmt, v) for v in values)
            out += struct.pack("<HHI", tag, ftype, count) + \
                vb.ljust(4, b"\x00")
        return out + struct.pack("<I", next_off)

    n_entries = 9
    ifd_size = 2 + 12 * n_entries + 4
    first_at = 8
    data_at = first_at + len(pages) * ifd_size
    offs, at = [], data_at
    for strip, *_ in pages:
        offs.append(at)
        at += len(strip)

    def entries(i):
        strip, comp, (h, w), bits, photometric = pages[i]
        return [
            (256, 4, 1, [w]), (257, 4, 1, [h]), (258, 3, 1, [bits]),
            (259, 3, 1, [comp]), (262, 3, 1, [photometric]),
            (273, 4, 1, [offs[i]]), (277, 3, 1, [1]),
            (278, 4, 1, [h]), (279, 4, 1, [len(strip)]),
        ]

    out = b"II*\x00" + struct.pack("<I", first_at)
    for i in range(len(pages)):
        nxt = first_at + (i + 1) * ifd_size if i + 1 < len(pages) else 0
        out += ifd(entries(i), nxt)
    return out + b"".join(strip for strip, *_ in pages)


def _two_page_tiff(img0, img1):
    """Two-page LE TIFF: page 0 G4, page 1 MH."""
    return _multi_page_tiff([
        (_encode_g4(img0, eofb=False), 4, img0.shape, 1, 0),
        (_encode_mh(img1, byte_align=True), 2, img1.shape, 1, 0),
    ])


def test_multipage_tiff_pages_decode_independently():
    """r13: multi-page TIFF (the normal fax/scan container) — the IFD
    chain enumerates and each page decodes with its own strips (here:
    page 0 G4, page 1 MH, different bitmaps)."""
    import struct

    from youtube_api_data_etl_automation_spark.operators import tiff

    rng = random.Random(41)
    img0 = _rand_img(rng, 6, 17)
    img1 = _rand_img(rng, 4, 17)
    payload = _two_page_tiff(img0, img1)

    assert len(tiff.extract_tiff_pages(payload)) == 2
    for page, img in ((0, img0), (1, img1)):
        out = tiff.decode_tiff(payload, page=page)
        expect = np.repeat(((1 - img) * 255).astype(np.uint8)
                           [:, :, None], 3, axis=2)
        assert np.array_equal(out, expect), page
    # default stays page 0 (existing behavior)
    assert np.array_equal(tiff.decode_tiff(payload),
                          tiff.decode_tiff(payload, page=0))
    with pytest.raises(ValueError, match="page 2 of a 2-page"):
        tiff.decode_tiff(payload, page=2)
    # IFD chain loop refuses: splice the first IFD's next pointer back
    # to itself
    n_entries = 9
    ifd_size = 2 + 12 * n_entries + 4
    nxt_at = 8 + ifd_size - 4
    looped = bytearray(payload)
    looped[nxt_at:nxt_at + 4] = struct.pack("<I", 8)
    with pytest.raises(ValueError, match="loop"):
        tiff.extract_tiff_pages(bytes(looped))


def test_tiff_page_images_bridge(spark):
    """r13: the multi-page corpus bridge — one P6 PPM row per page,
    container/page quarantine levels, payloads decodable by the image
    pipeline, stable payload-table ids."""
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        decode_image,
    )
    from youtube_api_data_etl_automation_spark.operators.tiff import (
        tiff_page_images,
    )

    rng = random.Random(51)
    img0 = _rand_img(rng, 5, 13)
    img1 = _rand_img(rng, 3, 13)
    blobs = spark.createDataFrame(
        [(1, bytearray(_two_page_tiff(img0, img1))),
         (2, bytearray(b"II*\x00junk"))],
        "doc_id long, payload binary")
    pages = tiff_page_images(blobs)
    rows = pages.collect()
    good = sorted((r["page_idx"] for r in rows if r["error"] is None))
    assert good == [0, 1]
    bad = [r for r in rows if r["doc_id"] == 2]
    assert len(bad) == 1 and bad[0]["page_idx"] is None
    assert bad[0]["error_kind"] == "corrupt"
    by_page = {r["page_idx"]: r for r in rows if r["doc_id"] == 1}
    for page, img in ((0, img0), (1, img1)):
        grey = ((1 - img) * 255).astype(np.uint8)
        expect = np.repeat(grey[:, :, None], 3, axis=2).tobytes()
        head = b"P6\n%d %d\n255\n" % (img.shape[1], img.shape[0])
        assert bytes(by_page[page]["payload"]) == head + expect

    # the page payloads feed decode_image directly
    decoded = decode_image(
        pages.filter("payload IS NOT NULL").select("doc_id", "payload")
    ).collect()
    assert len(decoded) == 2
    assert all(r["error"] is None and r["format"] == "ppm"
               for r in decoded)


def test_three_page_mixed_corrupt_middle():
    """r14 (VERDICT r13 item 5): the golden-fixture shape — mixed
    per-page compressions with a corrupt middle page that quarantines
    alone while both siblings decode."""
    from youtube_api_data_etl_automation_spark.operators import tiff

    rng = random.Random(61)
    img0 = _rand_img(rng, 6, 19)
    grey = np.arange(5 * 19, dtype=np.uint8).reshape(5, 19) * 2
    payload = _multi_page_tiff([
        (_encode_g4(img0, eofb=False), 4, img0.shape, 1, 0),
        (b"\x12\x34\x56", 4, (4, 19), 1, 0),   # garbage G4 strip
        (grey.tobytes(), 1, grey.shape, 8, 1),  # uncompressed grey
    ])
    rows = tiff.extract_tiff_pages(payload)
    assert [r["page_idx"] for r in rows] == [0, 1, 2]
    assert rows[1]["error_kind"] == "corrupt"
    assert rows[1]["payload"] is None
    g4 = np.repeat(((1 - img0) * 255).astype(np.uint8)[:, :, None],
                   3, axis=2)
    assert bytes(rows[0]["payload"]) == \
        b"P6\n19 6\n255\n" + g4.tobytes()
    assert bytes(rows[2]["payload"]) == \
        b"P6\n19 5\n255\n" + np.repeat(grey[:, :, None], 3,
                                       axis=2).tobytes()
