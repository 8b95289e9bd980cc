"""GIF decoder tests (operators/gif.py).

Fixtures come from a self-contained GIF ENCODER below with a real LZW
compressor (dictionary growth, width bumps, deferred clear, optional
mid-stream CLEAR codes) written independently of the decoder, so exact
round-trips on noise images — the regime that exercises the code-width
state machine hardest — are evidence, not circularity."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import gif, multimodal


class _BitsLSB:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, width: int):
        self.acc |= value << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self):
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0


def _lzw_encode(indices, min_code_size, clear_every=None):
    """Reference GIF LZW compressor: emits CLEAR, dictionary-compresses,
    bumps the code width when the next free code crosses 2^width
    (encoder-side rule derived from the decoder's deferred bump; the
    round-trip tests pin the synchronization), defers clears at 4096
    unless ``clear_every`` forces periodic resets."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _BitsLSB()

    def fresh():
        return {(i,): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, width = fresh()
    bw.put(clear, width)
    current = ()
    emitted = 0
    for px in indices:
        cand = current + (int(px),)
        if cand in table:
            current = cand
            continue
        bw.put(table[current], width)
        emitted += 1
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        current = (int(px),)
        if clear_every and emitted % clear_every == 0:
            bw.put(clear, width)
            table, next_code, width = fresh()
    if current:
        bw.put(table[current], width)
    bw.put(eoi, width)
    bw.flush()
    return bytes(bw.out)


def _gif(idx_rows, palette, min_code_size=None, interlace=False,
         extensions=False, local_palette=None, clear_every=None,
         trailer=True):
    """Build a byte-exact GIF89a: global palette (padded to a power of
    two), optional extensions before the image, optional local color
    table, optional interlaced row order, LZW-compressed sub-blocks."""
    arr = np.asarray(idx_rows, dtype=np.uint8)
    h, w = arr.shape

    def pal_block(pal):
        n = max(2, 1 << (len(pal) - 1).bit_length())
        padded = list(pal) + [(0, 0, 0)] * (n - len(pal))
        s = n.bit_length() - 2  # n = 2 << s
        return bytes(c for rgb in padded for c in rgb), s

    gct, gs = pal_block(palette)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | gs, 0, 0])  # GCT flag + size, bg, aspect
    out += gct
    if extensions:
        # graphic control + a comment — both must be skipped cleanly
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        out += b"\x21\xfe" + bytes([5]) + b"hello" + b"\x00"
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    ipacked = 0x40 if interlace else 0x00
    lct = b""
    if local_palette is not None:
        lbytes, ls = pal_block(local_palette)
        ipacked |= 0x80 | ls
        lct = lbytes
    out += bytes([ipacked]) + lct
    mcs = min_code_size
    if mcs is None:
        mcs = max(2, (len(palette) - 1).bit_length())
    rows = arr
    if interlace:
        order = [y for y0, dy in gif._INTERLACE_PASSES
                 for y in range(y0, h, dy)]
        rows = arr[order]
    data = _lzw_encode(rows.reshape(-1), mcs, clear_every=clear_every)
    out += bytes([mcs])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    if trailer:
        out += b"\x3b"
    return bytes(out)


PAL4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]


def _expected(idx_rows, palette):
    return np.array(
        [[palette[i] for i in row] for row in idx_rows], dtype=np.uint8
    )


def test_gif_small_exact_and_extensions_skipped():
    idx = [[0, 1], [2, 3]]
    got = gif.decode_gif(_gif(idx, PAL4, extensions=True))
    assert np.array_equal(got, _expected(idx, PAL4))


def test_gif_noise_roundtrip_exercises_width_bumps():
    """40x30 16-color noise: the dictionary grows past several width
    bumps; an encoder/decoder width desync would corrupt everything
    after the first bump."""
    rng = np.random.default_rng(5)
    pal = [tuple(int(v) for v in rng.integers(0, 256, 3)) for _ in range(16)]
    idx = rng.integers(0, 16, (30, 40)).tolist()
    got = gif.decode_gif(_gif(idx, pal))
    assert np.array_equal(got, _expected(idx, pal))


def test_gif_deferred_clear_past_4096_codes():
    """120x120 4-color noise fills the 4096-entry table; the encoder
    then defers clears (no more inserts) and the decoder must track the
    frozen table at width 12."""
    rng = np.random.default_rng(6)
    idx = rng.integers(0, 4, (120, 120)).tolist()
    got = gif.decode_gif(_gif(idx, PAL4))
    assert np.array_equal(got, _expected(idx, PAL4))


def test_gif_midstream_clear_resets():
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 4, (25, 25)).tolist()
    got = gif.decode_gif(_gif(idx, PAL4, clear_every=40))
    assert np.array_equal(got, _expected(idx, PAL4))


def test_gif_interlaced_reassembles():
    rng = np.random.default_rng(8)
    idx = rng.integers(0, 4, (17, 9)).tolist()  # odd dims, all 4 passes
    got = gif.decode_gif(_gif(idx, PAL4, interlace=True))
    assert np.array_equal(got, _expected(idx, PAL4))


def test_gif_local_palette_overrides_global():
    lpal = [(1, 2, 3), (4, 5, 6)]
    idx = [[0, 1], [1, 0]]
    got = gif.decode_gif(_gif(idx, PAL4, local_palette=lpal))
    assert np.array_equal(got, _expected(idx, lpal))


def test_gif_malformed_and_budget():
    idx = [[0, 1], [2, 3]]
    good = _gif(idx, PAL4)
    with pytest.raises(ValueError, match="signature"):
        gif.decode_gif(b"NOTGIF" + good[6:])
    with pytest.raises(ValueError, match="sub-block|ended"):
        gif.decode_gif(good[:-6])  # truncated mid-data
    with pytest.raises(ValueError, match="no image"):
        gif.decode_gif(good[:13] + good[13 : 13 + 12] + b"\x3b")
    # palette index beyond the declared table: min_code 3 admits
    # literals 0..7 but the 4-entry palette stops at 3
    bad_idx = [[0, 5], [1, 2]]
    with pytest.raises(ValueError, match="palette index"):
        gif.decode_gif(_gif(bad_idx, PAL4, min_code_size=3))
    rng = np.random.default_rng(9)
    big = rng.integers(0, 4, (40, 40)).tolist()
    with pytest.raises(NotImplementedError, match="pixel budget"):
        gif.decode_gif(_gif(big, PAL4), pixel_budget=100)


def test_gif_through_decode_image_and_quarantine(spark):
    idx = [[0, 0], [1, 1]]
    pal = [(10, 20, 30), (50, 70, 90)]
    good = _gif(idx, pal)
    blobs = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:20]))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.decode_image(
        blobs
    ).collect()}
    assert rows[1].format == "gif" and rows[1].error is None
    assert (rows[1].mean_r, rows[1].mean_g, rows[1].mean_b) == (30.0, 45.0, 60.0)
    assert rows[2].error_kind == "corrupt"


# ------------------------------------------------- property round-trips

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    n_colors=st.integers(2, 16),
    interlace=st.booleans(),
    clear_every=st.one_of(st.none(), st.integers(5, 60)),
    seed=st.integers(0, 2**31),
)
def test_gif_lzw_roundtrip_property(w, h, n_colors, interlace,
                                    clear_every, seed):
    """Any palette image of any shape must round-trip byte-exactly
    through the independent compressor and the decoder — hypothesis
    sweeps the LZW width/clear/interlace state space."""
    rng = np.random.default_rng(seed)
    pal = [tuple(int(v) for v in rng.integers(0, 256, 3))
           for _ in range(n_colors)]
    idx = rng.integers(0, n_colors, (h, w)).tolist()
    got = gif.decode_gif(
        _gif(idx, pal, interlace=interlace, clear_every=clear_every)
    )
    assert np.array_equal(got, _expected(idx, pal))
