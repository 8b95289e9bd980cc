"""BMP palette/RLE8/32-bit and PGM/PBM decode tests (r11 widening of
the image matrix in operators/multimodal.py), against independent
test-side encoders."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import (
    mediameta,
    multimodal,
)


def _bmp_headers(w, h, bpp, comp, data_len, n_quads, clr_used=0):
    off = 14 + 40 + 4 * n_quads
    hdr = b"BM" + struct.pack("<IHHI", off + data_len, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                      data_len, 2835, 2835, clr_used, 0)
    return hdr + dib


def _quads(palette):
    return b"".join(bytes((b_, g, r, 0)) for (r, g, b_) in palette)


def _bmp_pal(idx, palette, bpp=8, clr_used=0, top_down=False):
    """Uncompressed palette BMP from an (h, w) index array."""
    idx = np.asarray(idx, dtype=np.uint8)
    h, w = idx.shape
    per = 8 // bpp
    stride = ((w * bpp + 31) // 32) * 4
    rows = idx if top_down else idx[::-1]
    data = bytearray()
    for row in rows:
        rb = bytearray()
        for x0 in range(0, w, per):
            byte = 0
            for k in range(per):
                v = int(row[x0 + k]) if x0 + k < w else 0
                byte |= v << (8 - bpp * (k + 1))
            rb.append(byte)
        data += rb + b"\x00" * (stride - len(rb))
    n_quads = clr_used or len(palette)
    hh = -h if top_down else h
    return _bmp_headers(w, hh, bpp, 0, len(data), n_quads,
                        clr_used or n_quads) \
        + _quads(palette[:n_quads]) + bytes(data)


def _rle8_encode(idx):
    """Greedy per-row RLE8: repeat runs, EOL after each row, EOB."""
    out = bytearray()
    for row in idx[::-1]:  # file order is bottom-up
        x, w = 0, len(row)
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            out += bytes((run, int(row[x])))
            x += run
        out += b"\x00\x00"
    out += b"\x00\x01"
    return bytes(out)


def _bmp_rle8(idx, palette):
    idx = np.asarray(idx, dtype=np.uint8)
    h, w = idx.shape
    data = _rle8_encode(idx)
    return _bmp_headers(w, h, 8, 1, len(data), len(palette),
                        len(palette)) + _quads(palette) + data


def _bmp32(pixels):
    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    data = bytearray()
    for row in arr[::-1]:
        for (r, g, b_) in row:
            data += bytes((b_, g, r, 0xCC))
    return _bmp_headers(w, h, 32, 0, len(data), 0) + bytes(data)


def _pal(n, seed=0):
    rng = np.random.default_rng(seed)
    return [tuple(int(v) for v in c)
            for c in rng.integers(0, 256, size=(n, 3))]


def test_palette8_roundtrip_and_topdown():
    pal = _pal(256, seed=1)
    rng = np.random.default_rng(2)
    idx = rng.integers(0, 256, size=(5, 7)).astype(np.uint8)
    for top_down in (False, True):
        fmt, rgb = multimodal._decode_rgb(
            _bmp_pal(idx, pal, top_down=top_down))
        assert fmt == "bmp"
        assert (rgb == np.array(pal, dtype=np.uint8)[idx]).all()


def test_palette_subbyte_1_and_4_bit():
    pal4 = _pal(16, seed=3)
    idx4 = (np.arange(6 * 9).reshape(6, 9) % 16).astype(np.uint8)
    fmt, rgb = multimodal._decode_rgb(_bmp_pal(idx4, pal4, bpp=4))
    assert (rgb == np.array(pal4, dtype=np.uint8)[idx4]).all()
    pal1 = [(250, 10, 30), (5, 200, 100)]
    idx1 = ((np.arange(4 * 11).reshape(4, 11) // 3) % 2).astype(np.uint8)
    fmt, rgb = multimodal._decode_rgb(_bmp_pal(idx1, pal1, bpp=1))
    assert (rgb == np.array(pal1, dtype=np.uint8)[idx1]).all()


def test_rle8_roundtrip_and_escapes():
    pal = _pal(8, seed=4)
    idx = np.repeat((np.arange(6 * 5).reshape(6, 5) % 8), 2,
                    axis=1).astype(np.uint8)
    fmt, rgb = multimodal._decode_rgb(_bmp_rle8(idx, pal))
    assert (rgb == np.array(pal, dtype=np.uint8)[idx]).all()
    # hand-crafted stream: absolute run + delta skip + EOB; skipped
    # pixels decode as index 0 (deterministic choice for the spec's
    # undefined pixels)
    data = (bytes((0, 3, 5, 6, 7, 0))  # absolute: 3 literals + pad
            + b"\x00\x00"              # end of line -> row 1, x=0
            + bytes((0, 2, 1, 0))      # delta dx=1 dy=0 (skip x=0)
            + bytes((2, 4))            # run of 2 x idx 4
            + b"\x00\x01")             # end of bitmap
    payload = _bmp_headers(4, 2, 8, 1, len(data), 8, 8) \
        + _quads(pal) + data
    fmt, rgb = multimodal._decode_rgb(payload)
    palarr = np.array(pal, dtype=np.uint8)
    # file row 0 (= bottom = output row 1): absolute 5,6,7 + unset 0;
    # file row 1 (= top = output row 0): delta-skipped 0, run 4,4, 0
    assert (rgb[1] == palarr[np.array([5, 6, 7, 0])]).all()
    assert (rgb[0] == palarr[np.array([0, 4, 4, 0])]).all()


def test_bmp32_and_refusals():
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(3, 4, 3)).astype(np.uint8)
    fmt, rgb = multimodal._decode_rgb(_bmp32(px))
    assert fmt == "bmp" and (rgb == px).all()
    # 16-bpp still refuses as unsupported
    bad = bytearray(_bmp32(px))
    struct.pack_into("<H", bad, 28, 16)
    with pytest.raises(NotImplementedError, match="bpp=16"):
        multimodal._decode_rgb(bytes(bad))
    # index beyond a short color table refuses as corrupt
    pal = _pal(4, seed=6)
    idx = np.full((2, 2), 7, dtype=np.uint8)
    with pytest.raises(ValueError, match="beyond the color table"):
        multimodal._decode_rgb(_bmp_pal(idx, pal, clr_used=4))
    # RLE8 run past the row edge refuses
    data = bytes((9, 1)) + b"\x00\x01"
    payload = _bmp_headers(4, 2, 8, 1, len(data), 8, 8) \
        + _quads(_pal(8)) + data
    with pytest.raises(ValueError, match="RLE8 run exceeds"):
        multimodal._decode_rgb(payload)


def test_pgm_pbm_roundtrip_and_probe():
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, size=(5, 9)).astype(np.uint8)
    pgm = b"P5\n9 5\n255\n" + g.tobytes()
    fmt, rgb = multimodal._decode_rgb(pgm)
    assert fmt == "pgm" and (rgb == np.repeat(g[:, :, None], 3,
                                              axis=2)).all()
    bits = (np.arange(3 * 10).reshape(3, 10) % 2).astype(np.uint8)
    packed = np.packbits(bits, axis=1).tobytes()
    pbm = b"P4\n10 3\n" + packed
    fmt, rgb = multimodal._decode_rgb(pbm)
    want = np.where(bits == 1, 0, 255).astype(np.uint8)
    assert fmt == "pbm" and (rgb[:, :, 0] == want).all()
    assert mediameta._probe_image(pgm) == ("pgm", 9, 5)
    assert mediameta._probe_image(pbm) == ("pbm", 10, 3)
    with pytest.raises(NotImplementedError, match="16-bit PGM"):
        multimodal._decode_rgb(b"P5\n2 2\n65535\n" + b"\x00" * 8)


def test_decode_image_operator_new_formats(spark):
    pal = _pal(16, seed=8)
    idx = (np.arange(4 * 6).reshape(4, 6) % 16).astype(np.uint8)
    rows = [
        (1, bytearray(_bmp_pal(idx, pal, bpp=4))),
        (2, bytearray(_bmp_rle8(idx, pal))),
        (3, bytearray(b"P5\n3 2\n255\n" + bytes(range(6)))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.decode_image(
        df).collect()}
    palarr = np.array(pal, dtype=np.float64)
    want_means = palarr[idx].reshape(-1, 3).mean(axis=0)
    for doc in (1, 2):
        r = out[doc]
        assert r["format"] == "bmp" and (r["width"], r["height"]) == (6, 4)
        assert r["mean_r"] == pytest.approx(want_means[0])
        assert r["mean_b"] == pytest.approx(want_means[2])
    assert out[3]["format"] == "pgm"
    assert out[3]["mean_g"] == pytest.approx(2.5)


def test_bmp_pixel_budget_bounds_header_bombs():
    """A forged huge-dimension header must refuse (budget), not
    allocate — the RLE8 output buffer is sized from the header alone
    (r11 fuzz finding: mutated headers reached 35 GB RSS)."""
    pal = _pal(8, seed=9)
    idx = np.zeros((2, 2), dtype=np.uint8)
    bomb = bytearray(_bmp_rle8(idx, pal))
    struct.pack_into("<ii", bomb, 18, 1 << 16, 1 << 16)  # 4 Gpx
    with pytest.raises(NotImplementedError, match="pixel"):
        multimodal._decode_rgb(bytes(bomb))


def test_triage_routes_pnm_to_decode(spark):
    """PGM/PBM joined DECODABLE_IMAGE_FORMATS in r11 — the triage
    router must decode them rather than route 'undecodable'."""
    df = spark.createDataFrame(
        [(1, bytearray(b"P5\n3 2\n255\n" + bytes(range(6))))],
        "doc_id long, payload binary")
    r = mediameta.triage_decode_images(df).collect()[0]
    assert r["route"] == "decoded" and r["format"] == "pgm"
    assert r["mean_g"] == pytest.approx(2.5)
