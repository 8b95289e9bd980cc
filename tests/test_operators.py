"""Operator-level tests: multimodal plumbing, SimHash, dedup family,
similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators import multimodal
from youtube_api_data_etl_automation_spark.operators.dedup import (
    exact_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from youtube_api_data_etl_automation_spark.operators.simhash import simhash, simhash_pairs
from youtube_api_data_etl_automation_spark.operators.similarity import brute_force_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_multimodal_attach_and_features(spark):
    docs = _docs(spark, [(1, "hello"), (2, ""), (3, "ab")])
    blobs = multimodal.attach_binary(docs)
    assert [f.name for f in blobs.schema.fields] == ["doc_id", "payload", "meta"]
    feats = {r.doc_id: r for r in
             multimodal.frame_features(blobs, frame_bytes=1024).collect()}
    assert feats[1].frame_len == 5 and feats[1].first_byte == ord("h") and feats[1].last_byte == ord("o")
    assert feats[3].frame_len == 2 and feats[3].last_byte == ord("b")
    assert 2 not in feats  # an empty payload has no frames


def test_multimodal_frame_sample(spark):
    docs = _docs(spark, [(1, "x" * 33), (2, "y" * 16), (3, "")])
    frames = multimodal.frame_features(multimodal.attach_binary(docs), frame_bytes=16).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_len))
    assert sorted(by_doc[1]) == [(0, 16), (1, 16), (2, 1)]
    assert sorted(by_doc[2]) == [(0, 16)]
    assert 3 not in by_doc


def _bmp24(pixels):
    """Build a byte-exact 24-bit BI_RGB BMP (bottom-up rows, 4-byte row
    padding, BGR order) from [[(r,g,b), ...], ...] top-to-bottom rows."""
    import struct

    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) & ~3
    data = b""
    for row in reversed(pixels):
        rb = b"".join(bytes((b_, g, r)) for (r, g, b_) in row)
        data += rb + b"\x00" * (stride - len(rb))
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return hdr + dib + data


def _ppm6(pixels, comment=False):
    h, w = len(pixels), len(pixels[0])
    head = b"P6\n" + (b"# a header comment\n" if comment else b"")
    head += f"{w} {h}\n255\n".encode()
    return head + b"".join(bytes(p) for row in pixels for p in row)


def _blob_df(spark, payload):
    return spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )


def test_decode_bmp_byte_exact(spark):
    """Real BMP decode (r6): planted 3x2 24-bit image with row padding —
    dimensions, channel order (BGR->RGB), bottom-up flip, and exact
    per-channel means must all come out byte-exact."""
    pixels = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    r = multimodal.decode_image(_blob_df(spark, _bmp24(pixels))).collect()[0]
    assert (r.format, r.width, r.height) == ("bmp", 3, 2)
    n = 6.0
    assert r.mean_r == (255 + 0 + 0 + 10 + 40 + 70) / n
    assert r.mean_g == (0 + 255 + 0 + 20 + 50 + 80) / n
    assert r.mean_b == (0 + 0 + 255 + 30 + 60 + 90) / n


def test_decode_ppm_with_header_comment(spark):
    pixels = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
    r = multimodal.decode_image(
        _blob_df(spark, _ppm6(pixels, comment=True))
    ).collect()[0]
    assert (r.format, r.width, r.height) == ("ppm", 2, 2)
    assert (r.mean_r, r.mean_g, r.mean_b) == (5.5, 6.5, 7.5)


def _png(pixels, color_type=2, filters=None, interlace=0, depth=8,
         split_idat=False, palette=None, plte_override=None):
    """Build a byte-exact PNG across the whole variant matrix: any legal
    (color_type, depth) pair, optional PLTE, sub-byte bit packing,
    16-bit samples (big-endian), Adam7 interlacing (per-pass forward
    filtering), multi-IDAT splits. ``filters`` gives per-scanline filter
    types, cycled per pass for interlaced images. Forward-filters with
    the spec predictors so the decoder's unfilter path is exercised."""
    import struct
    import zlib

    import numpy as np

    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    arr = np.array(
        [[px if isinstance(px, (tuple, list)) else (px,) for px in row]
         for row in pixels],
        dtype=np.int64,
    )
    h, w = arr.shape[:2]
    bpp_bits = depth * ch
    bpp = max(1, bpp_bits // 8)

    def stride_of(pw):
        return (pw * bpp_bits + 7) // 8

    def pack_row(vals):
        """(pw, ch) sample values -> list of scanline bytes."""
        flat = [int(v) for v in vals.reshape(-1)]
        if depth == 8:
            return [v & 0xFF for v in flat]
        if depth == 16:
            out = []
            for v in flat:
                out += [(v >> 8) & 0xFF, v & 0xFF]
            return out
        bits = []
        for v in flat:
            for i in range(depth - 1, -1, -1):
                bits.append((v >> i) & 1)
        while len(bits) % 8:
            bits.append(0)
        return [
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        ]

    fi = [0]
    filters = filters if filters is not None else [0]

    def next_filter():
        ft = filters[fi[0] % len(filters)]
        fi[0] += 1
        return ft

    raw = bytearray()

    def emit_pass(sub):
        ph, pw = sub.shape[:2]
        prev = [0] * stride_of(pw)
        for y in range(ph):
            flat = pack_row(sub[y])
            ft = next_filter()
            raw.append(ft)
            for x in range(len(flat)):
                a = flat[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw.append((flat[x] - pred) & 0xFF)
            prev = flat

    if interlace == 0:
        emit_pass(arr)
    else:
        for (x0, y0, dx, dy) in [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                                 (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                                 (0, 1, 1, 2)]:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                emit_pass(sub)

    def chunk(t, body):
        return (
            struct.pack(">I", len(body)) + t + body
            + struct.pack(">I", zlib.crc32(t + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte_override is not None:
        out += chunk(b"PLTE", plte_override)
    elif palette is not None:
        out += chunk(b"PLTE", bytes(c for rgb in palette for c in rgb))
    z = zlib.compress(bytes(raw))
    if split_idat:
        mid = len(z) // 2
        out += chunk(b"IDAT", z[:mid]) + chunk(b"IDAT", z[mid:])
    else:
        out += chunk(b"IDAT", z)
    return out + chunk(b"IEND", b"")


def test_decode_png_rgb_all_filters_byte_exact():
    """Real PNG decode (r7): a 3x5 RGB image filtered with every spec
    filter type (None/Sub/Up/Average/Paeth, one per row) must reconstruct
    the exact pixel bytes."""
    import numpy as np

    rng = [
        [(10, 200, 30), (250, 5, 90), (0, 0, 0)],
        [(1, 2, 3), (130, 129, 128), (255, 255, 255)],
        [(17, 34, 51), (68, 85, 102), (119, 136, 153)],
        [(200, 100, 50), (25, 250, 125), (7, 77, 177)],
        [(0, 128, 255), (255, 128, 0), (64, 64, 64)],
    ]
    fmt, rgb = multimodal._decode_rgb(_png(rng, filters=[0, 1, 2, 3, 4]))
    assert fmt == "png" and rgb.shape == (5, 3, 3)
    assert np.array_equal(rgb, np.array(rng, dtype=np.uint8))


def test_decode_png_rgba_and_split_idat(spark):
    """8-bit RGBA decodes (alpha reported structure, RGB means over the
    stored channels) and a stream split across two IDAT chunks is
    spec-legal — exercised end-to-end through the Spark action."""
    pixels = [
        [(255, 0, 0, 255), (0, 255, 0, 128)],
        [(0, 0, 255, 0), (30, 60, 90, 255)],
    ]
    payload = _png(pixels, color_type=6, filters=[4, 2], split_idat=True)
    r = multimodal.decode_image(_blob_df(spark, payload)).collect()[0]
    assert (r.format, r.width, r.height) == ("png", 2, 2)
    assert r.mean_r == (255 + 0 + 0 + 30) / 4.0
    assert r.mean_g == (0 + 255 + 0 + 60) / 4.0
    assert r.mean_b == (0 + 0 + 255 + 90) / 4.0


def test_decode_png_greyscale_broadcasts_channels():
    pixels = [[10, 20], [30, 40]]
    fmt, rgb = multimodal._decode_rgb(_png(pixels, color_type=0, filters=[1, 2]))
    assert fmt == "png" and rgb.shape == (2, 2, 3)
    assert (rgb[:, :, 0] == rgb[:, :, 1]).all()
    assert float(rgb.mean()) == 25.0


def test_decode_png_palette_and_subbyte_depths():
    """r9: palette images decode through the PLTE lookup at every legal
    bit depth (8-bit and the packed 1/2/4-bit forms), byte-exact."""
    import numpy as np

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 77, 177)]
    idx = [[0, 1, 2], [3, 2, 1], [1, 1, 0]]
    want = np.array([[pal[i] for i in row] for row in idx], dtype=np.uint8)
    for depth in (8, 4, 2):
        fmt, rgb = multimodal._decode_rgb(
            _png(idx, color_type=3, depth=depth, palette=pal,
                 filters=[0, 1, 2])
        )
        assert fmt == "png" and np.array_equal(rgb, want), depth
    # 1-bit palette: indices 0/1 only, 11 pixels wide (padding bits)
    idx1 = [[(i % 2) for i in range(11)]] * 2
    fmt, rgb = multimodal._decode_rgb(
        _png(idx1, color_type=3, depth=1, palette=pal[:2])
    )
    assert np.array_equal(
        rgb, np.array([[pal[i % 2] for i in range(11)]] * 2, dtype=np.uint8)
    )


def test_decode_png_16bit_and_grey_alpha():
    """r9: 16-bit samples keep the high byte (values v*257 round-trip
    exactly); grey+alpha (color 4) reports the grey channel."""
    import numpy as np

    px16 = [[(10 * 257, 200 * 257, 30 * 257), (250 * 257, 5 * 257, 90 * 257)],
            [(1 * 257, 2 * 257, 3 * 257), (130 * 257, 129 * 257, 128 * 257)]]
    fmt, rgb = multimodal._decode_rgb(
        _png(px16, depth=16, filters=[0, 4])
    )
    want = (np.array(px16) // 257).astype(np.uint8)
    assert fmt == "png" and np.array_equal(rgb, want)
    # greyscale 16-bit
    g16 = [[77 * 257, 200 * 257], [0, 65535]]
    fmt, rgb = multimodal._decode_rgb(
        _png(g16, color_type=0, depth=16, filters=[2, 3])
    )
    assert np.array_equal(rgb[:, :, 0], np.array([[77, 200], [0, 255]]))
    # grey+alpha: alpha is structure, means are over the grey channel
    ga = [[(10, 255), (20, 0)], [(30, 128), (40, 64)]]
    fmt, rgb = multimodal._decode_rgb(
        _png(ga, color_type=4, filters=[1, 4])
    )
    assert np.array_equal(rgb[:, :, 1], np.array([[10, 20], [30, 40]]))
    # sub-byte greyscale scales to full range: 2-bit 0..3 -> 0/85/170/255
    g2 = [[0, 1], [2, 3]]
    fmt, rgb = multimodal._decode_rgb(_png(g2, color_type=0, depth=2))
    assert np.array_equal(rgb[:, :, 0], np.array([[0, 85], [170, 255]]))


def test_decode_png_adam7_interlaced():
    """r9: Adam7 images reassemble from the seven per-pass sub-images
    byte-exactly — checked on a 9x10 RGB (every pass non-empty, odd
    dims exercise the per-pass ceil sizing) and a small palette image
    (passes 1-2 empty at w<5... still spec-legal)."""
    import numpy as np

    rng = np.random.default_rng(11)
    px = [[tuple(int(v) for v in rng.integers(0, 256, 3))
           for _ in range(10)] for _ in range(9)]
    fmt, rgb = multimodal._decode_rgb(
        _png(px, interlace=1, filters=[0, 1, 2, 3, 4])
    )
    assert fmt == "png" and np.array_equal(rgb, np.array(px, dtype=np.uint8))
    pal = [(9, 8, 7), (1, 2, 3)]
    idx = [[0, 1], [1, 0], [0, 0]]
    fmt, rgb = multimodal._decode_rgb(
        _png(idx, color_type=3, depth=4, palette=pal, interlace=1)
    )
    assert np.array_equal(
        rgb, np.array([[pal[i] for i in row] for row in idx], dtype=np.uint8)
    )


def test_decode_png_malformed_refuses_with_valueerror():
    """Structurally broken files — truncated IDAT, wrong stream length,
    spec-ILLEGAL depth/color combos, out-of-range palette index, missing
    PLTE — refuse with ValueError (corrupt, not 'unsupported'): there is
    no legal PNG the decoder refuses anymore."""
    import struct
    import zlib

    ok = _png([[(1, 2, 3), (4, 5, 6)]] * 3)
    idat_at = ok.index(b"IDAT")
    truncated = ok[: idat_at + 8]  # IDAT declared but bytes missing
    with pytest.raises(ValueError, match="truncated|IHDR"):
        multimodal._decode_rgb(truncated)
    # valid zlib stream of the WRONG length for the declared dimensions
    bad_body = zlib.compress(b"\x00\x01\x02")
    bad = ok[:idat_at - 4] + struct.pack(">I", len(bad_body)) + b"IDAT" \
        + bad_body + struct.pack(">I", zlib.crc32(b"IDAT" + bad_body)) \
        + ok[ok.index(b"IEND") - 4:]
    with pytest.raises(ValueError, match="expected"):
        multimodal._decode_rgb(bad)
    # spec-illegal combos are malformed, not unsupported
    with pytest.raises(ValueError, match="illegal depth/color"):
        multimodal._decode_rgb(_png([[(1, 2, 3)]], depth=4))  # RGB depth 4
    with pytest.raises(ValueError, match="illegal depth/color"):
        multimodal._decode_rgb(
            _png([[0]], color_type=3, depth=16, palette=[(1, 2, 3)])
        )
    # palette index beyond the PLTE
    with pytest.raises(ValueError, match="palette index"):
        multimodal._decode_rgb(
            _png([[3]], color_type=3, depth=8, palette=[(1, 2, 3)])
        )
    # palette image without PLTE
    with pytest.raises(ValueError, match="PLTE"):
        multimodal._decode_rgb(
            _png([[0]], color_type=3, depth=8, plte_override=b"")
        )


def test_decode_png_checks_sizes_before_allocating():
    """A header that declares 2^31 rows over a few IDAT bytes, and a small
    deflate bomb behind a 4x3 header, are both refused with a DECODE_ERRORS
    class without allocating the declared size: the inflate is capped one
    byte past the header's size, and the pixel buffer is allocated only
    after the inflated length matches. Every other image decoder refuses
    its oversized header the same way: BMP, PPM and TIFF declare 2^31
    rows, GIF and both JPEG flavors 65535x65535 (16-bit dimensions), VP8L
    its 14-bit maximum of 16384x16384 — the JPEG pair asked numpy for a
    32 GiB plane / coefficient array before the frame-size check at SOF.
    The decoder modules are imported up front: the first import of
    mediameta (which the TIFF IFD walk loads lazily) allocates ~5 MB of
    module state, once per process, not per payload."""
    import struct
    import tracemalloc
    import zlib

    from youtube_api_data_etl_automation_spark.operators import (  # noqa: F401
        gif, jpeg, mediameta, tiff, vp8l,
    )

    ok = _png([[(1, 2, 3)] * 4] * 3)
    ihdr_at = ok.index(b"IHDR")
    idat_at = ok.index(b"IDAT")

    def with_chunk(png, at, ctype, body):
        # replace the chunk whose type starts at ``at`` (keeps the rest)
        (length,) = struct.unpack(">I", png[at - 4:at])
        chunk = struct.pack(">I", len(body)) + ctype + body \
            + struct.pack(">I", zlib.crc32(ctype + body))
        return png[:at - 4] + chunk + png[at + 8 + length:]

    ihdr = bytearray(ok[ihdr_at + 4:ihdr_at + 17])
    ihdr[4:8] = struct.pack(">I", 1 << 31)
    tall = with_chunk(ok, ihdr_at, b"IHDR", bytes(ihdr))
    bomb = with_chunk(ok, idat_at, b"IDAT",
                      zlib.compress(b"\x00" * (64 << 20), 9))
    assert len(bomb) < 100_000

    bmp = b"BM" + struct.pack("<IHHI", 70, 0, 0, 54) + struct.pack(
        "<IiIHHIIiiII", 40, 1, 1 << 31, 1, 24, 0, 16, 0, 0, 0, 0) \
        + b"\x00" * 16
    ppm = b"P6\n1 2147483648\n255\n" + b"\x00" * 16
    gif_ = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0x80, 0, 0) \
        + b"\x00\x00\x00\xff\xff\xff" \
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0) \
        + b"\x02\x02\x4c\x01\x00\x3b"
    # width 1, 2^31 rows, one uncompressed 8-bit grey strip
    tags = [(256, 4, 1), (257, 4, 1 << 31), (258, 3, 8), (259, 3, 1),
            (262, 3, 1), (273, 4, 8), (277, 3, 1), (279, 4, 8)]
    ifd = struct.pack("<H", len(tags)) + b"".join(
        struct.pack("<HHII" if ft == 4 else "<HHIHH", tag, ft, 1,
                    *((v,) if ft == 4 else (v, 0)))
        for tag, ft, v in tags) + struct.pack("<I", 0)
    tif = b"II*\x00" + struct.pack("<I", 16) + b"\x00" * 8 + ifd
    chunk = b"\x2f" + struct.pack("<I", 16383 | 16383 << 14) + b"\x00" * 8
    webp = b"RIFF" + struct.pack("<I", 12 + len(chunk)) + b"WEBPVP8L" \
        + struct.pack("<I", len(chunk)) + chunk

    def jpeg_(sof, spectral_end):
        def seg(marker, body):
            return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) \
                + body
        dht = b"".join(seg(0xC4, bytes((tc,)) + bytes([1] + [0] * 15)
                           + b"\x00") for tc in (0x00, 0x10))
        return b"\xff\xd8" + seg(0xDB, b"\x00" + bytes([1] * 64)) \
            + seg(sof, struct.pack(">BHHB", 8, 65535, 65535, 1)
                  + b"\x01\x11\x00") + dht \
            + seg(0xDA, b"\x01\x01\x00\x00" + bytes((spectral_end, 0))) \
            + b"\x00" * 8 + b"\xff\xd9"

    cases = [
        (tall, "expected"), (bomb, "expected"),
        (bmp, "BMP 1x2147483648 exceeds"),
        (ppm, "buffer is smaller"),
        (gif_, "GIF exceeds the pixel budget"),
        (tif, "TIFF 1x2147483648 exceeds"),
        (webp, "VP8L 16384x16384 exceeds"),
        (jpeg_(0xC0, 63), "JPEG 65535x65535 exceeds"),
        (jpeg_(0xC2, 0), "JPEG 65535x65535 exceeds"),
    ]
    for payload, match in cases:
        tracemalloc.start()
        try:
            with pytest.raises(multimodal.DECODE_ERRORS, match=match):
                multimodal._decode_rgb(payload)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 4 << 20, (match, peak)


def test_decode_png_slow_filter_budget(spark):
    """The Average/Paeth recurrence is the one pure-Python loop in PNG
    decode; a wide wall-to-wall-Paeth image must (a) still decode
    byte-exactly under the default 2 MB budget in bounded time, (b)
    refuse with NotImplementedError when it exceeds a caller budget, and
    (c) land in quarantine as error_kind='unsupported' (recoverable — a
    codec library would decode it), not 'corrupt'."""
    import time

    import numpy as np

    w, h = 160, 120  # 57,600 Paeth bytes — under the default budget
    rng = np.random.default_rng(7)
    pixels = [[tuple(int(v) for v in rng.integers(0, 256, 3))
               for _ in range(w)] for _ in range(h)]
    payload = _png(pixels, filters=[4] * h)

    t0 = time.perf_counter()
    fmt, rgb = multimodal._decode_rgb(payload)
    elapsed = time.perf_counter() - t0
    assert fmt == "png"
    assert np.array_equal(rgb, np.array(pixels, dtype=np.uint8))
    # ~0.3 µs/byte puts 57.6 kB of Paeth around 20 ms; 5 s is the loose
    # "did not fall off a cliff" bound, not a throughput claim
    assert elapsed < 5.0

    # budget exceeded -> honest refusal naming the knob
    with pytest.raises(NotImplementedError, match="byte budget"):
        multimodal._decode_rgb(payload, slow_filter_budget=1000)
    # budget disabled -> decodes regardless
    fmt2, rgb2 = multimodal._decode_rgb(payload, slow_filter_budget=None)
    assert np.array_equal(rgb2, rgb)
    # None/Sub/Up rows never charge the budget
    cheap = _png(pixels[:2], filters=[1, 2])
    fmt3, _ = multimodal._decode_rgb(cheap, slow_filter_budget=1)
    assert fmt3 == "png"

    # quarantine routing: unsupported (budget), not corrupt
    rows = multimodal.decode_image(
        _blob_df(spark, payload), slow_filter_budget=1000
    ).collect()
    assert rows[0].error_kind == "unsupported"
    assert "byte budget" in rows[0].error


def test_decode_compressed_formats_still_stubbed(spark):
    """Lossy-VP8 WebP / JPEG 2000 / ... still need a codec library
    (absent here) — the decoder raises the honest NotImplementedError,
    which the Spark action returns as an 'unsupported' quarantine row.
    (Baseline JPEG and first-frame GIF decode since r9, VP8L WebP since
    r10 — see tests/test_vp8l.py.)"""
    webp_magic = b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 24
    jp2_magic = b"\x00\x00\x00\x0cjP  \r\n\x87\n" + b"\x00" * 16
    rows = {r.doc_id: r for r in multimodal.decode_image(
        spark.createDataFrame(
            [(1, bytearray(webp_magic)), (2, bytearray(jp2_magic))],
            "doc_id long, payload binary")).collect()}
    assert rows[1].error_kind == "unsupported"
    assert "pixels need a codec library" in rows[1].error
    assert rows[2].error_kind == "unsupported"
    assert rows[2].error.startswith("compressed/unknown image format")
    assert "PIL" in rows[2].error
    assert rows[1].format is None and rows[2].width is None


def _wav(rate, frames, bits=16, fmt_code=1, pre_data_chunk=None,
         block_align=None, raw_data=None, fact=None):
    """Build a byte-exact RIFF/WAVE file: frames is [(ch0, ch1, ...), ...]
    (8-bit values given raw-unsigned; fmt_code=3 takes floats; 24/32-bit
    take native ints). ``pre_data_chunk`` injects an extra (id, body)
    chunk between fmt and data to exercise the chunk walk; ``raw_data``
    supplies a pre-built data payload (ADPCM); ``fact`` adds a fact
    chunk."""
    import struct

    n_ch = len(frames[0]) if frames else 1
    width = bits // 8
    if raw_data is not None:
        data = raw_data
    elif fmt_code == 3:
        f = "f" if bits == 32 else "d"
        data = b"".join(struct.pack(f"<{n_ch}{f}", *fr) for fr in frames)
    elif bits == 8:
        data = b"".join(bytes(f) for f in frames)
    elif bits == 16:
        data = b"".join(struct.pack(f"<{n_ch}h", *f) for f in frames)
    elif bits == 24:
        data = b"".join(
            (v & 0xFFFFFF).to_bytes(3, "little") for f in frames for v in f
        )
    else:  # 32
        data = b"".join(struct.pack(f"<{n_ch}i", *f) for f in frames)
    ba = block_align if block_align is not None else n_ch * width
    fmt = struct.pack(
        "<HHIIHH", fmt_code, n_ch, rate, rate * ba, ba, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    if pre_data_chunk is not None:
        cid, body = pre_data_chunk
        chunks += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"  # RIFF even-padding
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


_IMA_STEPS_T = None


def _ima_encode(ch_samples, block_align):
    """Reference IMA ADPCM encoder (independent of the module): returns
    (data bytes, expected decoded per-channel samples). Expected samples
    are the encoder's own reconstruction — the integer recurrence any
    conforming decoder must reproduce byte-exactly."""
    import struct

    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
    )

    n_ch = len(ch_samples)
    spb = (block_align - 4 * n_ch) * 2 // n_ch + 1  # samples per block
    data = bytearray()
    expected = [[] for _ in range(n_ch)]
    n = len(ch_samples[0])
    off = 0
    while off < n:
        block = [cs[off : off + spb] for cs in ch_samples]
        pred = [b[0] for b in block]
        idx = [0] * n_ch
        for c in range(n_ch):
            data += struct.pack("<hBB", pred[c], idx[c], 0)
            expected[c].append(pred[c])
        nibbles = [[] for _ in range(n_ch)]
        for c in range(n_ch):
            p, i = pred[c], idx[c]
            for v in block[c][1:]:
                step = _IMA_STEPS[i]
                diff = v - p
                nib = 8 if diff < 0 else 0
                if diff < 0:
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                # reconstruct exactly as the decoder will
                rd = step >> 3
                if nib & 1:
                    rd += step >> 2
                if nib & 2:
                    rd += step >> 1
                if nib & 4:
                    rd += step
                p = p - rd if nib & 8 else p + rd
                p = max(-32768, min(32767, p))
                i = max(0, min(88, i + _IMA_INDEX[nib & 7]))
                nibbles[c].append(nib)
                expected[c].append(p)
            # pad the block's nibble stream to full 4-byte groups
            while len(nibbles[c]) % 8:
                nibbles[c].append(0)
        groups = len(nibbles[0]) // 8
        for g in range(groups):
            for c in range(n_ch):
                for k in range(4):
                    lo = nibbles[c][8 * g + 2 * k]
                    hi = nibbles[c][8 * g + 2 * k + 1]
                    data.append(lo | (hi << 4))
        off += spb
    return bytes(data), expected


def test_decode_wav_16bit_stereo_exact(spark):
    """Real WAV decode: planted 16-bit stereo PCM — layout and the exact
    int64-sum peak/RMS must come out byte-exact."""
    frames = [(1000, -1000), (2000, -2000), (0, 32767)]
    r = multimodal.decode_audio(
        _blob_df(spark, _wav(8000, frames))
    ).collect()[0]
    assert (r.format, r.sample_rate, r.n_channels, r.n_frames) == (
        "wav", 8000, 2, 3,
    )
    assert r.duration_sec == 3 / 8000
    assert r.peak == 32767
    sq = 1000**2 * 2 + 2000**2 * 2 + 0 + 32767**2
    assert r.rms == (sq / 6) ** 0.5


def test_decode_wav_8bit_and_chunk_walk(spark):
    """8-bit WAV is unsigned centered at 128; an odd-length LIST chunk
    before data must be skipped via the even-padding rule."""
    frames = [(128,), (138,), (118,)]
    payload = _wav(4000, frames, bits=8, pre_data_chunk=(b"LIST", b"INFOx"))
    r = multimodal.decode_audio(_blob_df(spark, payload)).collect()[0]
    assert (r.n_channels, r.n_frames, r.peak) == (1, 3, 10)
    assert r.rms == (200 / 3) ** 0.5


def test_decode_wav_24_and_32bit_exact(spark):
    """r9: 24-bit (3-byte LE two's-complement) and 32-bit integer PCM
    decode with exact big-int square sums — (s*s).sum() in int64 would
    silently wrap at these widths; the expected RMS here is computed
    with Python bignums."""
    frames24 = [(-8388608,), (8388607,), (1,), (-2,)]
    r = multimodal.decode_audio(
        _blob_df(spark, _wav(8000, frames24, bits=24))
    ).collect()[0]
    assert (r.n_channels, r.n_frames, r.peak) == (1, 4, 8388608)
    sq = sum(v * v for (v,) in frames24)
    assert r.rms == (sq / 4) ** 0.5

    frames32 = [(2**31 - 1, -(2**31)), (123456789, -987654321)]
    r = multimodal.decode_audio(
        _blob_df(spark, _wav(8000, frames32, bits=32))
    ).collect()[0]
    assert (r.n_channels, r.n_frames) == (2, 2)
    assert r.peak == 2**31
    sq = sum(v * v for f in frames32 for v in f)
    assert r.rms == (sq / 4) ** 0.5


def test_exact_sumsq_matches_bignum_and_detects_wrap():
    """_exact_sumsq == Python-bignum ground truth on wide samples where
    the naive int64 product-sum provably wraps."""
    import numpy as np

    s = np.full(300_000, 2**31 - 1, dtype=np.int64)
    want = 300_000 * (2**31 - 1) ** 2
    assert multimodal._exact_sumsq(s) == want
    assert int((s * s).sum()) != want  # the naive path really wraps here
    rng = np.random.default_rng(3)
    r = rng.integers(-(2**23), 2**23, 50_000).astype(np.int64)
    assert multimodal._exact_sumsq(r) == sum(int(v) ** 2 for v in r)
    assert multimodal._exact_sumsq(np.array([], dtype=np.int64)) == 0


def test_decode_wav_float_pcm_scaled(spark):
    """r9: IEEE-float WAV decodes with samples scaled to the int16 grid
    (nominal ±1.0 -> ±32768) so peak/RMS are comparable with integer
    files; 32- and 64-bit."""
    frames = [(0.5, -1.0), (0.25, 0.0)]
    for bits in (32, 64):
        r = multimodal.decode_audio(
            _blob_df(spark, _wav(8000, frames, bits=bits, fmt_code=3))
        ).collect()[0]
        assert (r.format, r.n_channels, r.n_frames) == ("wav", 2, 2)
        assert r.peak == 32768
        sq = (0.5**2 + 1.0**2 + 0.25**2) * 32768.0**2
        assert abs(r.rms - (sq / 4) ** 0.5) < 1e-6


def test_decode_wav_ima_adpcm_exact(spark):
    """r9: IMA ADPCM decodes byte-exactly against an independent
    reference encoder's reconstruction — mono multi-block and stereo
    interleave; the fact chunk trims block padding; an oversized payload
    refuses on the sample budget."""
    import math

    # mono: 2 blocks of 9 samples (8 nibbles/block — no padding)
    wave = [int(3000 * math.sin(i / 3)) for i in range(18)]
    data, expected = _ima_encode([wave], block_align=8)
    payload = _wav(8000, [(0,)], fmt_code=0x11, bits=4, block_align=8,
                   raw_data=data)
    rate, s = multimodal._decode_pcm(payload)
    assert rate == 8000 and s.shape == (18, 1)
    assert [int(v) for v in s[:, 0]] == expected[0]

    # stereo: one block of 9 frames, channels decode independently
    left = [int(2000 * math.sin(i / 2)) for i in range(9)]
    right = [int(-1500 * math.cos(i / 2)) for i in range(9)]
    data, expected = _ima_encode([left, right], block_align=16)
    payload = _wav(8000, [(0, 0)], fmt_code=0x11, bits=4, block_align=16,
                   raw_data=data)
    rate, s = multimodal._decode_pcm(payload)
    assert s.shape == (9, 2)
    assert [int(v) for v in s[:, 0]] == expected[0]
    assert [int(v) for v in s[:, 1]] == expected[1]

    # fact trims padding nibbles: 5 real samples in an 8-nibble block
    data, expected = _ima_encode([wave[:5]], block_align=8)
    payload = _wav(8000, [(0,)], fmt_code=0x11, bits=4, block_align=8,
                   raw_data=data, fact=5)
    r = multimodal.decode_audio(_blob_df(spark, payload)).collect()[0]
    assert r.n_frames == 5
    sq = sum(v * v for v in expected[0][:5])
    assert r.rms == (sq / 5) ** 0.5

    # budget refusal is recoverable 'unsupported'
    with pytest.raises(NotImplementedError, match="sample budget"):
        multimodal._decode_pcm(payload, adpcm_sample_budget=3)
    # malformed block geometry is corrupt
    with pytest.raises(ValueError, match="block_align"):
        multimodal._decode_pcm(
            _wav(8000, [(0,)], fmt_code=0x11, bits=4, block_align=6,
                 raw_data=b"\x00" * 12)
        )


def test_decode_wav_corrupt_payloads_raise_typed_errors(spark):
    """Corrupt-but-well-framed WAVs must fail with the module's documented
    error classes, not raw ZeroDivisionError/struct.error (which would
    kill the task instead of becoming a 'corrupt' quarantine row) — and a
    truncated data chunk must refuse rather than report level stats over
    the fragment."""
    import struct

    ok = _wav(8000, [(1, 2)])
    # declared data size far beyond the actual bytes (truncated transfer)
    idx = ok.rindex(b"data")
    truncated = ok[: idx + 4] + struct.pack("<I", 100000) + ok[idx + 8 :]
    # sample_rate = 0
    zero_rate = _wav(8000, [(1, 2)])
    fidx = zero_rate.index(b"fmt ")
    zero_rate = (
        zero_rate[: fidx + 12] + struct.pack("<I", 0) + zero_rate[fidx + 16 :]
    )
    # fmt chunk shorter than the 16-byte PCM header
    short_fmt = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + struct.pack("<I", 0)
    )
    rows = {r.doc_id: r for r in multimodal.decode_audio(
        spark.createDataFrame(
            [(1, bytearray(truncated)), (2, bytearray(zero_rate)),
             (3, bytearray(short_fmt))],
            "doc_id long, payload binary")).collect()}
    assert {r.error_kind for r in rows.values()} == {"corrupt"}
    assert rows[1].error == ("malformed WAVE: chunk b'data' declares "
                             "100000 bytes but only 4 remain (truncated "
                             "payload)")
    assert rows[2].error == "malformed WAVE: sample_rate=0"
    assert rows[3].error == "malformed WAVE: fmt chunk is 4 bytes (<16)"
    assert all(r.sample_rate is None and r.rms is None
               for r in rows.values())


def test_decode_quarantine_mode_yields_rows_not_task_failures(spark):
    """One corrupt blob in a batch becomes a row with the decoder's own
    error message (features NULL) while good payloads decode normally —
    the 100 TB posture where a task failure on row N of 10^12 is not
    acceptable."""
    pixels = [[(1, 2, 3), (4, 5, 6)]]
    good_png = _png(pixels)
    blobs = spark.createDataFrame(
        [(1, bytearray(good_png)),
         (2, bytearray(b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 8)),
         (3, None), (4, bytearray(_bmp24(pixels)))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in
            multimodal.decode_image(blobs).collect()}
    assert rows[1].format == "png" and rows[1].error is None
    assert rows[4].format == "bmp" and rows[4].error is None
    assert rows[2].format is None and "codec library" in rows[2].error
    assert rows[3].format is None and "empty/NULL" in rows[3].error
    assert rows[2].width is None and rows[2].mean_r is None
    # error_kind routes the two failure populations without message
    # parsing: lossy-VP8 WebP (a codec library would decode it) is
    # 'unsupported'; a NULL blob is 'corrupt' data; successes carry NULL.
    assert rows[2].error_kind == "unsupported"
    assert rows[3].error_kind == "corrupt"
    assert rows[1].error_kind is None and rows[4].error_kind is None

    wav = _wav(8000, [(100, -100)])
    ablobs = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"ID3\x04" + b"\x00" * 16))],
        "doc_id long, payload binary",
    )
    arows = {r.doc_id: r for r in
             multimodal.decode_audio(ablobs).collect()}
    assert arows[1].format == "wav" and arows[1].error is None
    assert arows[1].peak == 100 and arows[1].error_kind is None
    assert arows[2].format is None and "codec" in arows[2].error
    assert arows[2].error_kind == "unsupported"


def test_decode_empty_payloads_raise_distinct_error():
    """A NULL/empty blob is a data-quality problem, not a missing codec:
    both decoders raise a distinct ValueError naming the real cause
    instead of the misleading 'unknown format (magic b"")'."""
    with pytest.raises(ValueError, match="empty/NULL audio payload"):
        multimodal._decode_pcm(b"")
    with pytest.raises(ValueError, match="empty/NULL image payload"):
        multimodal._decode_rgb(b"")


def test_decode_wav_duplicate_chunks_refused():
    """A malformed WAV with two fmt/data chunks must refuse rather than
    silently decode only the last one (stats over a fragment)."""
    import struct

    ok = _wav(8000, [(1, 2), (3, 4)])
    extra_data = b"data" + struct.pack("<I", 4) + b"\x01\x00\x02\x00"
    dup_data = ok + extra_data
    dup_data = dup_data[:4] + struct.pack("<I", len(dup_data) - 8) + dup_data[8:]
    with pytest.raises(ValueError, match="duplicate 'data'"):
        multimodal._decode_pcm(dup_data)
    fidx = ok.index(b"fmt ")
    fmt_chunk = ok[fidx : fidx + 8 + 16]
    dup_fmt = ok[: fidx + 24] + fmt_chunk + ok[fidx + 24 :]
    dup_fmt = dup_fmt[:4] + struct.pack("<I", len(dup_fmt) - 8) + dup_fmt[8:]
    with pytest.raises(ValueError, match="duplicate 'fmt '"):
        multimodal._decode_pcm(dup_fmt)


def test_decode_wav_g711_ulaw_alaw_exact():
    """r9: G.711 mu-law / A-law expand via the 256-entry LUT —
    spot-checked against hand-computed CCITT reference values and the
    structural invariants (full-scale magnitudes, zero codes, sign
    conventions — A-law's sign bit means POSITIVE, mu-law's negative)."""
    import numpy as np

    ulaw = multimodal._g711_lut(alaw=False)
    alaw = multimodal._g711_lut(alaw=True)
    # mu-law: code 0x00 complements to max exp/mant -> full-scale
    # negative -32124; 0x80 its positive mirror; 0xFF/0x7F are the zero
    # codes
    assert ulaw[0x00] == -32124 and ulaw[0x80] == 32124
    assert ulaw[0xFF] == 0 and ulaw[0x7F] == 0
    assert int(np.abs(ulaw).max()) == 32124  # the G.711 full scale
    # A-law: code 0x55 (xor -> 0) is the smallest NEGATIVE step -8;
    # 0xD5 its positive mirror; full scale 32256
    assert alaw[0x55] == -8 and alaw[0xD5] == 8
    assert int(np.abs(alaw).max()) == 32256
    # both tables are odd-symmetric under their sign bit
    for b in range(128):
        assert ulaw[b] == -ulaw[b ^ 0x80]
        assert alaw[b] == -alaw[b ^ 0x80]

    # end-to-end: a mu-law WAV (format 7) and an A-law WAV (format 6)
    frames = bytes([0x00, 0xFF, 0x80, 0x9A])
    payload = _wav(8000, [(0,)], fmt_code=7, bits=8, raw_data=frames)
    rate, s = multimodal._decode_pcm(payload)
    assert rate == 8000 and s.shape == (4, 1)
    assert [int(v) for v in s[:, 0]] == [int(ulaw[b]) for b in frames]
    payload = _wav(8000, [(0,)], fmt_code=6, bits=8, raw_data=frames)
    _, s = multimodal._decode_pcm(payload)
    assert [int(v) for v in s[:, 0]] == [int(alaw[b]) for b in frames]


def test_decode_wav_compressed_still_stubbed(spark):
    """MP3-in-WAV / bare MPEG payloads need a codec library (absent
    here) — the honest NotImplementedError comes back from the Spark
    action as an 'unsupported' quarantine row. (Float PCM, 24/32-bit,
    G.711, IMA and MS ADPCM really decode since r9 — see the tests
    above.)"""
    mp3_wav = _wav(8000, [(1, 1)], fmt_code=85, bits=16)
    rows = {r.doc_id: r for r in multimodal.decode_audio(
        spark.createDataFrame(
            [(1, bytearray(mp3_wav)),
             (2, bytearray(b"ID3\x04" + b"\x00" * 32))],
            "doc_id long, payload binary")).collect()}
    assert {r.error_kind for r in rows.values()} == {"unsupported"}
    assert rows[1].error.startswith("WAVE variant not supported (format=85")
    assert "Layer II/III need a codec library" in rows[2].error
    assert rows[1].format is None and rows[2].n_frames is None


def test_exact_duplicates_groups_copies(spark):
    docs = _docs(spark, [(1, "Same  Text"), (2, "same text"), (3, "other")])
    out = {r.canonical_id: r.n_copies for r in exact_duplicates(docs).collect()}
    # normalization: case + whitespace collapse → 1 and 2 are identical
    assert out == {1: 2, 3: 1}


def test_ngram_jaccard_identical_docs(spark):
    docs = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")])
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, k=3).collect()}
    assert pairs == {(1, 2): 1.0}


def test_ngram_jaccard_stop_shingle_cap(spark):
    """Skew guard: one ultra-common shingle must NOT produce O(n²) candidate
    pairs. With the boilerplate shingle shared by every doc dropped at the
    cap, only the genuinely-similar pair survives; uncapped, the stop
    shingle alone makes every doc pair a candidate."""
    common = "the quick brown"  # one k=3 shingle present in every doc
    rows = [(i, f"{common} unique{i} token{i} word{i}") for i in range(20)]
    rows += [(100, f"{common} same same same"), (101, f"{common} same same same")]
    docs = _docs(spark, rows)
    capped = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_shingle_df=10)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    assert got == {(100, 101): 1.0}
    # Uncapped, every pair shares the stop shingle → n(n-1)/2 candidates
    # (the threshold filters them later, but the join already paid the
    # quadratic cost — that's exactly what the cap prevents).
    uncapped_cand = ngram_jaccard_pairs(docs, k=3, threshold=0.0, max_shingle_df=None)
    assert uncapped_cand.count() == (22 * 21) // 2


def test_incremental_dedup_against_committed_index(spark):
    """Continuous-ingest dedup: a new batch checked against a committed
    corpus index (fingerprints + MinHash signatures) without touching
    corpus text. Verdicts: exact duplicate of a committed doc, near-dup
    (band collision, scored >= threshold, best-match tie-broken to the
    smallest corpus id), short-doc exact dup (no shingles — fingerprint
    only), and kept."""
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        corpus_dedup_index,
        dedup_against_index,
    )

    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "hi"),  # shorter than the shingle width: no signature
            (4, "alpha beta gamma delta epsilon zeta"),  # committed twin of 1
        ],
    )
    idx = corpus_dedup_index(corpus)
    # short doc carries a fingerprint but NULL signature components
    short = {r.doc_id: r.m0 for r in idx.collect()}
    assert short[3] is None and short[1] is not None

    new = _docs(
        spark,
        [
            (10, "Alpha  beta GAMMA delta epsilon zeta"),  # exact dup (normalized) of 1 and 4
            (11, "one two three four five six SEVEN extra"),  # near-dup of 2
            (12, "hi"),  # exact dup of the short committed doc
            (13, "totally novel content with fresh words"),  # kept
        ],
    )
    out = {
        r.doc_id: (r.verdict, r.dup_of, r.est_jaccard)
        for r in dedup_against_index(new, idx, threshold=0.25).collect()
    }
    assert set(out) == {10, 11, 12, 13}
    # exact beats near; dup_of = smallest matching corpus id; est NULL
    assert out[10] == ("exact_dup", 1, None)
    assert out[12] == ("exact_dup", 3, None)
    assert out[13] == ("kept", None, None)
    verdict, dup_of, est = out[11]
    assert verdict == "near_dup" and dup_of == 2 and est >= 0.25


def test_incremental_dedup_index_never_shuffles(spark):
    """Scale pin: every join broadcasts a delta-derived relation — the
    committed index streams map-side, with no index-keyed exchange and no
    nested-loop join."""
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        corpus_dedup_index,
        dedup_against_index,
    )

    corpus = _docs(spark, [(i, f"w{i} x{i} y{i} z{i} common tail") for i in range(30)])
    new = _docs(spark, [(100, "w1 x1 y1 z1 common tail")])
    out = dedup_against_index(new, corpus_dedup_index(corpus), threshold=0.25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    out.collect()


def test_minhash_signature_identical_for_identical_docs(spark):
    docs = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v")])
    sigs = {r.doc_id: tuple(r[f"m{i}"] for i in range(8)) for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_properties(spark):
    docs = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta eps zeta")])
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    assert 0 <= sh[1] < 2**16
    pairs = simhash_pairs(docs, max_hamming=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_simhash_pairs_match_brute_force(spark):
    """Without an oracle: on the sf0.001 documents the band join returns
    exactly the pairs a < b that share the low or the high byte of their
    signatures and differ in at most 4 bits, each pair once."""
    from youtube_api_data_etl_automation_spark.sources.tables import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sig = sorted((r.doc_id, r.simhash) for r in simhash(docs).collect())
    want, bands = set(), set()
    for i, (a, x) in enumerate(sig):
        for b, y in sig[i + 1:]:
            d = (x ^ y).bit_count()
            lo, hi = x % 256 == y % 256, x // 256 == y // 256
            if (lo or hi) and d <= 4:
                want.add((a, b, d))
                bands.add((lo, hi))
    got = [(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(docs, max_hamming=4).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want
    # The data has pairs found by only the low band, only the high band,
    # and by both (identical signatures, which distinct must keep once).
    assert bands == {(True, False), (False, True), (True, True)}


def test_brute_force_topk_finds_identical_vector(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.9, 0.1, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), top_k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(1, 1), (3, 2)]
    assert out[0].cosine == 1.0


def test_kmeans_deterministic_and_total(spark):
    """kmeans_embeddings is rows-only in the driver gate, so pin its real
    properties here: every vector is assigned (counts sum to corpus size)
    and two independent runs produce identical output (decimal-exact
    centroid updates make the iteration run-deterministic)."""
    from youtube_api_data_etl_automation_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    a = {r["cluster_id"]: (r["n_vecs"], r["avg_cos_to_centroid"])
         for r in QUERIES["kmeans_embeddings"](spark, sf).collect()}
    b = {r["cluster_id"]: (r["n_vecs"], r["avg_cos_to_centroid"])
         for r in QUERIES["kmeans_embeddings"](spark, sf).collect()}
    assert a == b
    import duckdb
    n_total = duckdb.sql(
        f"select count(*) from '{sf}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(n for n, _ in a.values()) == n_total


def test_variant_path_matches_from_json(spark):
    """Spark 4 VARIANT is the schema-on-read path for semi-structured
    payloads (no StructType declared up front — the 100 TB-friendly choice
    when event schemas drift). Pin that parse_json + variant_get extracts
    the same values as the registered from_json plan (json_props_extract),
    including the missing-field → NULL behavior."""
    from pyspark.sql import functions as F

    from youtube_api_data_etl_automation_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    both = ev.select(
        "event_id",
        F.from_json("props", "k long, missing long").alias("s"),
        F.parse_json("props").alias("v"),
    ).select(
        "event_id",
        F.col("s.k").alias("k_struct"),
        F.try_variant_get("v", "$.k", "long").alias("k_variant"),
        F.col("s.missing").alias("m_struct"),
        F.try_variant_get("v", "$.missing", "long").alias("m_variant"),
    )
    bad = both.filter(
        ~(
            F.col("k_struct").eqNullSafe(F.col("k_variant"))
            & F.col("m_struct").eqNullSafe(F.col("m_variant"))
        )
    )
    assert bad.count() == 0
    assert both.count() > 0


def test_connected_components_string_ids(spark):
    """r6: non-numeric node ids take the same path as numeric ones (the
    solver ranks ids by sort order, so only comparisons touch them); the
    minimum id labels a >2-hop chain lexicographically."""
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [("x1", "x2"), ("x2", "x3"), ("x3", "x4"), ("x4", "x5"),
         ("y1", "y2")],
        "doc_a string, doc_b string",
    )
    got = {r.doc_id: r.canonical_id for r in connected_components(pairs).collect()}
    assert got == {f"x{i}": "x1" for i in range(1, 6)} | {"y1": "y1", "y2": "y1"}


def _cc(pairs):
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        connected_components,
    )

    return {r.doc_id: r.canonical_id
            for r in connected_components(pairs).collect()}


def test_connected_components_numeric_chain(spark):
    """A 30-node chain (diameter 29): every node ends on label 1, and a
    separate pair keeps its own component."""
    rows = [(i, i + 1) for i in range(1, 30)] + [(100, 101)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    assert _cc(pairs) == {i: 1 for i in range(1, 31)} | {100: 100, 101: 100}


def test_connected_components_empty_pairs(spark):
    """No pairs: an empty frame, and the observed edge count may not leave
    Observation.get waiting for metrics that never come."""
    import threading

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {}
    t = threading.Thread(target=lambda: out.setdefault("cc", _cc(pairs)), daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "connected_components hung on empty pairs"
    assert out["cc"] == {}


@pytest.mark.parametrize("n", [40, 43, 60, 100, 10_000])
def test_connected_components_long_chain(spark, n):
    """Exact at any diameter: a chain of n nodes, its edges in shuffled
    order and orientation, is one component labelled 1 (40 to 100 nodes
    straddle the 40-hop reach of a 20-round two-hop label propagation)."""
    import random

    rng = random.Random(n)
    rows = [(i, i + 1) if rng.random() < 0.5 else (i + 1, i) for i in range(1, n)]
    rng.shuffle(rows)
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    assert _cc(pairs) == {i: 1 for i in range(1, n + 1)}


def test_connected_components_many_rounds_match_union_find(spark, monkeypatch):
    """With the edges-per-task budget patched low, a random graph runs
    through several halving rounds (one mapInArrow per round in the plan)
    and still equals a plain union-find, self-loops included."""
    import random

    from youtube_api_data_etl_automation_spark.operators import dedup

    rng = random.Random(11)
    rows = [(rng.randrange(2500), rng.randrange(2500)) for _ in range(2000)]
    rows += [(9000, 9000), (9001, 9001), (9001, 9002)]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    monkeypatch.setattr(dedup, "_EDGES_PER_TASK", 200)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        cc = dedup.connected_components(
            spark.createDataFrame(rows, "doc_a long, doc_b long"))
    finally:
        spark.conf.set(key, prev)
    rounds = cc._jdf.queryExecution().analyzed().toString().count("MapInArrow")
    assert rounds == 5  # 11 -> 6 -> 3 -> 2 -> 1 partitions
    assert {r.doc_id: r.canonical_id for r in cc.collect()} == want


def test_connected_components_drops_null_ended_pairs(spark):
    """NULL is not a doc id: a pair with a NULL end is dropped, so it
    neither adds a NULL node nor joins its other end to anything."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4), (None, None)],
        "doc_a long, doc_b long",
    )
    assert _cc(pairs) == {1: 1, 2: 1, 3: 3, 4: 3}


@pytest.mark.parametrize("n", [5, 10_000])
def test_connected_components_construction_is_one_job(spark, n):
    """Building the lazy result runs exactly one Spark job, the eager
    edges checkpoint whose observed count sizes the rounds; the rounds
    themselves run inside the caller's action. Counted from a job group
    with AQE on (the session default)."""
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        connected_components,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)] + [(n + 10, n + 11)],
        "doc_a long, doc_b long",
    )
    sc = spark.sparkContext
    group = f"cc_pin_{n}"
    sc.setJobGroup(group, "connected_components job-count pin")
    try:
        cc = connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {r.doc_id: r.canonical_id for r in cc.collect()} == (
        {i: 1 for i in range(1, n + 1)} | {n + 10: n + 10, n + 11: n + 10}
    )
    assert n_jobs == 1


def test_quantize_int8_nan_element_does_not_crash(spark):
    """r6: a NaN element quantizes as 0 instead of killing the job with an
    ANSI CAST_OVERFLOW (NaN orders above every number, poisoning amax)."""
    from youtube_api_data_etl_automation_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [([1.0, float("nan"), -2.0],)], "v array<double>"
    )
    out = df.select(
        dequantize_int8(quantize_int8("v")).alias("dq")
    ).first()["dq"]
    assert abs(out[0] - 1.0) < 0.02 and out[1] == 0.0 and abs(out[2] + 2.0) < 0.02


def test_minhash_band_size_must_divide(spark):
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(docs, num_hashes=8, band_size=3)


def test_bpe_merge_preserves_null_tokens(spark):
    """r6: a NULL array element is held and flushed like any token (the
    old fold conflated 'holding NULL' with 'nothing held' and dropped
    it), and never participates in a merge."""
    from youtube_api_data_etl_automation_spark.operators.bpe import (
        SEP,
        apply_merge_t,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a", None, "b", "a", "b"],)], "tok array<string>"
    )
    out = df.select(apply_merge_t("tok", "a", "b").alias("m")).first()["m"]
    assert out == ["a", None, "b", f"a{SEP}b"]


def test_dedup_lines_cross_doc_boilerplate(spark):
    """Line-level exact dedup (the C4/RefinedWeb scrub): a trimmed line
    appearing in >= min_docs distinct documents is removed everywhere
    except its global (doc_id, line_idx)-first occurrence; short lines
    and within-one-doc repeats survive; NULL text passes through."""
    from youtube_api_data_etl_automation_spark.operators.dedup import dedup_lines

    banner = "accept cookies to continue"  # 26 chars, in 3 docs
    rows = [
        (1, f"{banner}\nunique first body line\nshort ln"),
        (2, f"second doc opening line\n {banner} \nsecond doc closing line"),
        (3, f"{banner}\nthird doc body text here\nthird doc body text here"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines(docs, min_line_chars=10).collect()}

    # doc 1 holds the global first occurrence -> untouched
    assert out[1].text == rows[0][1]
    assert (out[1].n_lines, out[1].n_removed) == (3, 0)
    # doc 2's padded copy trims to the same line -> removed
    assert out[2].text == "second doc opening line\nsecond doc closing line"
    assert (out[2].n_lines, out[2].n_removed) == (3, 1)
    # doc 3 loses the banner but keeps BOTH copies of its within-doc
    # repeat (min_docs counts distinct documents, not occurrences)
    assert out[3].text == "third doc body text here\nthird doc body text here"
    assert (out[3].n_lines, out[3].n_removed) == (3, 1)
    assert out[4].text is None
    assert (out[4].n_lines, out[4].n_removed) == (0, 0)

    # keep='none' drops every occurrence, including the global first
    none_out = {
        r.doc_id: r
        for r in dedup_lines(docs, min_line_chars=10, keep="none").collect()
    }
    assert none_out[1].text == "unique first body line\nshort ln"
    assert none_out[1].n_removed == 1

    # 'short ln' (8 chars) repeated across docs would still survive
    docs2 = spark.createDataFrame(
        [(1, "short ln\nlong enough line one"), (2, "short ln\nlong enough line two")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r.n_removed for r in dedup_lines(docs2, min_line_chars=10).collect()}
    assert out2 == {1: 0, 2: 0}


def test_dedup_lines_passthrough_columns_and_validation(spark):
    from youtube_api_data_etl_automation_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "duplicated banner line\nbody a", "en"), (2, "duplicated banner line\nbody b", "fr")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in dedup_lines(docs).collect()}
    assert out[1].lang == "en" and out[2].lang == "fr"
    assert out[1].text.startswith("duplicated banner line") and out[2].text == "body b"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        dedup_lines(docs, keep="last")


def test_png_matrix_roundtrip_property():
    """Property sweep over the PNG variant matrix: random legal
    (color_type, depth, interlace, per-row filters) combinations must
    reconstruct byte-exactly (greyscale modulo the documented sub-byte
    scaling and 16-bit high-byte rules, checked via the same independent
    model used by the unit tests)."""
    import numpy as np

    rng = np.random.default_rng(123)
    legal = [(0, d) for d in (1, 2, 4, 8, 16)] + \
        [(2, d) for d in (8, 16)] + [(3, d) for d in (1, 2, 4, 8)] + \
        [(4, d) for d in (8, 16)] + [(6, d) for d in (8, 16)]
    for trial in range(40):
        color, depth = legal[int(rng.integers(0, len(legal)))]
        h = int(rng.integers(1, 14))
        w = int(rng.integers(1, 14))
        interlace = int(rng.integers(0, 2))
        filters = [int(f) for f in rng.integers(0, 5, 64)]
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        maxv = (1 << depth) - 1 if depth < 16 else 65535
        if color == 3:
            pal = [tuple(int(v) for v in rng.integers(0, 256, 3))
                   for _ in range(min(maxv + 1, 16))]
            vals = rng.integers(0, len(pal), (h, w))
            pixels = vals.tolist()
            want = np.array([[pal[i] for i in row] for row in pixels],
                            dtype=np.uint8)
            payload = _png(pixels, color_type=3, depth=depth,
                           palette=pal, filters=filters,
                           interlace=interlace)
        else:
            vals = rng.integers(0, maxv + 1, (h, w, ch))
            pixels = [[tuple(int(v) for v in vals[y, x]) if ch > 1
                       else int(vals[y, x, 0]) for x in range(w)]
                      for y in range(h)]
            payload = _png(pixels, color_type=color, depth=depth,
                           filters=filters, interlace=interlace)
            if depth == 16:
                first = (vals >> 8).astype(np.uint8)
            elif depth < 8:
                first = (vals.astype(np.uint16)
                         * (255 // maxv)).astype(np.uint8)
            else:
                first = vals.astype(np.uint8)
            if color in (0, 4):
                want = np.repeat(first[:, :, :1], 3, axis=2)
            else:
                want = first[:, :, :3]
        fmt, rgb = multimodal._decode_rgb(payload)
        assert fmt == "png" and np.array_equal(rgb, want), (
            color, depth, interlace, h, w
        )


def _ms_adpcm_encode(ch_samples, block_align, pred_idx=0):
    """Reference MS-ADPCM encoder (independent of the module): standard
    quantize-to-nibble + decoder-mirror reconstruction; returns (data,
    expected decoded per-channel samples)."""
    import struct

    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        _MS_ADAPT,
        _MS_COEFS,
    )

    n_ch = len(ch_samples)
    spb = (block_align - 7 * n_ch) * 2 // n_ch + 2
    c1, c2 = _MS_COEFS[pred_idx]
    data = bytearray()
    expected = [[] for _ in range(n_ch)]
    n = len(ch_samples[0])
    off = 0
    while off < n:
        block = [cs[off : off + spb] for cs in ch_samples]
        s2 = [b[0] for b in block]
        s1 = [b[1] if len(b) > 1 else b[0] for b in block]
        delta = [16] * n_ch
        data += bytes([pred_idx] * n_ch)
        for c in range(n_ch):
            data += struct.pack("<h", delta[c])
        for c in range(n_ch):
            data += struct.pack("<h", s1[c])
        for c in range(n_ch):
            data += struct.pack("<h", s2[c])
        for c in range(n_ch):
            expected[c] += [s2[c], s1[c]]
        nibbles: list[int] = []
        for i in range(2, spb):
            for c in range(n_ch):
                v = block[c][i] if i < len(block[c]) else 0
                pred = (s1[c] * c1 + s2[c] * c2) >> 8
                nib_s = max(-8, min(7, round((v - pred) / delta[c])))
                nib = nib_s & 0x0F
                samp = max(-32768, min(32767, pred + nib_s * delta[c]))
                s2[c], s1[c] = s1[c], samp
                delta[c] = max(16, (_MS_ADAPT[nib] * delta[c]) >> 8)
                nibbles.append(nib)
                expected[c].append(samp)
        if len(nibbles) % 2:
            nibbles.append(0)
        for i in range(0, len(nibbles), 2):
            data.append((nibbles[i] << 4) | nibbles[i + 1])
        off += spb
    return bytes(data), expected


def test_decode_wav_ms_adpcm_exact(spark):
    """r9: Microsoft ADPCM (format 2) decodes byte-exactly against an
    independent reference encoder — mono multi-block and stereo
    high-nibble-first interleave; malformed geometry refuses."""
    import math

    # mono: block_align 11 -> 10 samples/block; 20 samples = 2 blocks
    wave = [int(5000 * math.sin(i / 2.5)) for i in range(20)]
    data, expected = _ms_adpcm_encode([wave], block_align=11)
    payload = _wav(8000, [(0,)], fmt_code=2, bits=4, block_align=11,
                   raw_data=data)
    rate, s = multimodal._decode_pcm(payload)
    assert rate == 8000 and s.shape == (20, 1)
    assert [int(v) for v in s[:, 0]] == expected[0]

    # stereo: one block of 10 frames, per-frame byte = (ch0<<4)|ch1
    left = [int(3000 * math.sin(i / 2)) for i in range(10)]
    right = [int(-2000 * math.cos(i / 3)) for i in range(10)]
    data, expected = _ms_adpcm_encode([left, right], block_align=22,
                                      pred_idx=4)
    payload = _wav(8000, [(0, 0)], fmt_code=2, bits=4, block_align=22,
                   raw_data=data)
    _, s = multimodal._decode_pcm(payload)
    assert s.shape == (10, 2)
    assert [int(v) for v in s[:, 0]] == expected[0]
    assert [int(v) for v in s[:, 1]] == expected[1]

    with pytest.raises(ValueError, match="block_align"):
        multimodal._decode_pcm(
            _wav(8000, [(0,)], fmt_code=2, bits=4, block_align=5,
                 raw_data=b"\x00" * 10)
        )
    with pytest.raises(NotImplementedError, match="sample budget"):
        multimodal._decode_pcm(payload, adpcm_sample_budget=2)
