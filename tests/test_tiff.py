"""Baseline TIFF decoder (operators/tiff.py), byte-exact against an
independent test-side encoder: grey/RGB, WhiteIsZero inversion, both
byte orders, multi-strip layouts, PackBits, refusals, probe/EXIF/triage
integration."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import (
    mediameta,
    multimodal,
    tiff,
)


def _packbits(row: bytes) -> bytes:
    """Reference PackBits encoder: greedy literal/repeat runs."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit = i
        while i < n and (i - lit) < 128 and not (
            i + 1 < n and row[i + 1] == row[i]
        ):
            i += 1
        out += bytes([i - lit - 1]) + row[lit:i]
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """Independent TIFF-LZW encoder (TIFF 6.0 §13): MSB-first bit
    packing, 9->12-bit codes with the EARLY width change (the width of
    the next emitted code grows as soon as the next code to assign
    reaches 2^width - 1 — one code earlier than GIF), Clear well before
    the 12-bit table fills."""
    CLEAR, EOI = 256, 257
    bits: list[tuple[int, int]] = []
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9

    def emit(code):
        bits.append((code, width))

    def reset():
        nonlocal table, next_code, width
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9

    emit(CLEAR)
    run = b""
    for b in data:
        nxt = run + bytes([b])
        if nxt in table:
            run = nxt
            continue
        emit(table[run])
        table[nxt] = next_code
        next_code += 1
        # early change: GIF's encoder bumps at next_code == 2^width + 1
        # (just-assigned code == 2^width); TIFF is one code earlier
        if next_code == (1 << width) and width < 12:
            width += 1
        run = bytes([b])
        if next_code >= 4094:  # stay clear of 12-bit boundary semantics
            emit(CLEAR)
            reset()
    if run:
        emit(table[run])
        # the decoder appends a (never-referenced) entry after EVERY
        # data code, including this final one, and checks the width
        # right after — mirror that phantom append or the EOI (and any
        # trailing strip bytes) desyncs when the table size crosses
        # 2^width - 1 exactly at stream end (libtiff's LZWPostEncode
        # bumps free_ent the same way)
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(EOI)
    out = bytearray()
    acc = nbits = 0
    for code, wd in bits:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_image(pixels, *, photometric=None, order="<", packbits=False,
                lzw=False, deflate=False, predictor=1,
                rows_per_strip=None, extra_tags=(), spp=None,
                palette=None, tiles=None, jpeg_chunks=None,
                jpeg_tables=None):
    """Independent baseline-TIFF encoder. ``pixels``: (h, w) grey or
    (h, w, 3/4) arrays. ``jpeg_chunks``: pre-encoded JPEG streams, one
    per strip/tile (compression 7); ``jpeg_tables`` adds tag 347."""
    arr = np.asarray(pixels, dtype=np.uint8)
    grey = arr.ndim == 2
    h, w = arr.shape[:2]
    n_samples = spp if spp is not None else (1 if grey else arr.shape[2])
    if photometric is None:
        photometric = 3 if palette is not None else (1 if grey else 2)
    rps = rows_per_strip or h
    lt = order

    def squash(chunk_arr):
        if predictor == 2:
            diff = chunk_arr.astype(np.int16)
            diff[:, 1:] -= diff[:, :-1].copy()
            chunk_arr = (diff & 0xFF).astype(np.uint8)
        chunk = chunk_arr.tobytes()
        if packbits:
            return _packbits(chunk)
        if lzw:
            return _lzw_encode(chunk)
        if deflate:
            import zlib
            return zlib.compress(chunk)
        return chunk

    full = arr.reshape(h, w, -1)
    strips = []
    if jpeg_chunks is not None:
        strips = list(jpeg_chunks)
    elif tiles is not None:
        tw, th = tiles
        padded = np.zeros((((h + th - 1) // th) * th,
                           ((w + tw - 1) // tw) * tw,
                           full.shape[2]), dtype=np.uint8)
        padded[:h, :w] = full
        for y0 in range(0, padded.shape[0], th):
            for x0 in range(0, padded.shape[1], tw):
                strips.append(squash(
                    padded[y0 : y0 + th, x0 : x0 + tw].copy()))
    else:
        for y0 in range(0, h, rps):
            strips.append(squash(full[y0 : min(y0 + rps, h)].copy()))

    entries = [
        (256, 4, 1, w), (257, 4, 1, h),
        (258, 3, n_samples, [8] * n_samples),
        (259, 3, 1, 7 if jpeg_chunks is not None else
            (32773 if packbits else
             (5 if lzw else (8 if deflate else 1)))),
        (262, 3, 1, photometric),
        (277, 3, 1, n_samples),
    ]
    if tiles is not None:
        entries += [(322, 4, 1, tiles[0]), (323, 4, 1, tiles[1])]
    else:
        entries.append((278, 4, 1, rps))
    if predictor != 1:
        entries.append((317, 3, 1, predictor))
    if palette is not None:
        pal = np.zeros((256, 3), dtype=np.uint16)
        pal[: len(palette)] = np.asarray(palette, dtype=np.uint16)
        cm = (pal * 257).T.reshape(-1).tolist()  # 8->16 bit, R/G/B planes
        entries.append((320, 3, 768, cm))
    if jpeg_tables is not None:
        entries.append((347, 7, len(jpeg_tables), jpeg_tables))
    entries += list(extra_tags)
    # StripOffsets/ByteCounts appended after layout below
    n_entries = len(entries) + 2
    ifd0 = 8
    ifd_size = 2 + 12 * n_entries + 4
    data_at = ifd0 + ifd_size

    overflow = b""

    def value_bytes(ftype, values):
        fmt = {1: "B", 2: "s", 3: "H", 4: "I", 7: "s"}[ftype]
        if ftype in (2, 7):
            return values  # bytes already
        return b"".join(struct.pack(lt + fmt, v) for v in values)

    def entry(tag, ftype, count, values):
        nonlocal overflow
        vb = value_bytes(ftype, values if isinstance(values, (list, bytes))
                         else [values])
        if len(vb) <= 4:
            return struct.pack(lt + "HHI", tag, ftype, count) \
                + vb.ljust(4, b"\x00")
        off = data_at + len(overflow)
        overflow += vb
        return struct.pack(lt + "HHI", tag, ftype, count) \
            + struct.pack(lt + "I", off)

    off_tag, cnt_tag = (324, 325) if tiles is not None else (273, 279)
    # first pass to size the overflow area before strip data
    tmp_overflow = 0
    for tag, ftype, count, values in entries + [
        (off_tag, 4, len(strips), [0] * len(strips)),
        (cnt_tag, 4, len(strips), [0] * len(strips)),
    ]:
        vb_len = {1: 1, 2: 1, 3: 2, 4: 4, 7: 1}[ftype] * count
        if vb_len > 4:
            tmp_overflow += vb_len
    strips_at = data_at + tmp_overflow
    offsets = []
    at = strips_at
    for s in strips:
        offsets.append(at)
        at += len(s)
    counts = [len(s) for s in strips]

    all_entries = entries + [(off_tag, 4, len(strips), offsets),
                             (cnt_tag, 4, len(strips), counts)]
    all_entries.sort(key=lambda e: e[0])
    body = struct.pack(lt + "H", n_entries)
    for tag, ftype, count, values in all_entries:
        body += entry(tag, ftype, count, values)
    body += struct.pack(lt + "I", 0)
    assert len(overflow) == tmp_overflow
    hdr = (b"II" if lt == "<" else b"MM") + struct.pack(lt + "HI", 42, 8)
    return hdr + body + overflow + b"".join(strips)


def _img(h, w, seed=0, grey=False):
    rng = np.random.default_rng(seed)
    shape = (h, w) if grey else (h, w, 3)
    return rng.integers(0, 256, shape, dtype=np.uint8)


def test_grey_rgb_and_byte_orders():
    g = _img(5, 7, seed=1, grey=True)
    for order in ("<", ">"):
        out = tiff.decode_tiff(_tiff_image(g, order=order))
        assert (out == np.repeat(g[:, :, None], 3, axis=2)).all()
    rgb = _img(4, 6, seed=2)
    for order in ("<", ">"):
        out = tiff.decode_tiff(_tiff_image(rgb, order=order))
        assert (out == rgb).all()


def test_white_is_zero_inverts():
    g = _img(3, 3, seed=3, grey=True)
    out = tiff.decode_tiff(_tiff_image(g, photometric=0))
    assert (out == np.repeat((255 - g)[:, :, None], 3, axis=2)).all()


def test_multi_strip_and_packbits():
    rgb = np.repeat(_img(2, 9, seed=4), 5, axis=0)  # RLE-friendly rows
    for packbits in (False, True):
        payload = _tiff_image(rgb, packbits=packbits, rows_per_strip=3)
        out = tiff.decode_tiff(payload)
        assert (out == rgb).all(), f"packbits={packbits}"
    # RGBA: alpha dropped structurally (like the PNG decoder)
    rgba = np.dstack([_img(3, 4, seed=5), np.full((3, 4), 200, np.uint8)])
    out = tiff.decode_tiff(_tiff_image(rgba))
    assert (out == rgba[:, :, :3]).all()


def test_refusals_and_malformed(monkeypatch):
    g = _img(4, 4, seed=6, grey=True)
    # rewrite compression tag to old-style JPEG (6, withdrawn by TIFF
    # Tech Note 2): unsupported, not corrupt (LZW 5 / deflate 8/32946
    # decode since r11; new-style JPEG 7 since late r11; CCITT 2/3-1D/4
    # since r13 — see tests/test_ccitt.py)
    fax_payload = _tiff_image(g)
    i = fax_payload.index(struct.pack("<HHI", 259, 3, 1))
    fax_payload = fax_payload[: i + 8] + struct.pack("<I", 6) \
        + fax_payload[i + 12 :]
    with pytest.raises(NotImplementedError, match="compression 6"):
        tiff.decode_tiff(fax_payload)
    with pytest.raises(ValueError, match="bad magic"):
        tiff.decode_tiff(b"II+\x00" + b"\x00" * 16)
    with pytest.raises(ValueError, match="strip out of bounds|short strip"):
        tiff.decode_tiff(_tiff_image(g)[:-6])
    with monkeypatch.context() as m:
        m.setattr(tiff, "DECODE_PIXEL_BUDGET", 8)
        with pytest.raises(NotImplementedError, match="pixel budget"):
            tiff.decode_tiff(_tiff_image(g))
    # truncated PackBits refuses as corrupt
    pb = _tiff_image(np.repeat(_img(1, 9, seed=7), 4, axis=0),
                     packbits=True)
    with pytest.raises(ValueError, match="PackBits|out of bounds|short"):
        tiff.decode_tiff(pb[:-3])


def test_lzw_roundtrip_grey_rgb_and_orders():
    g = _img(23, 31, seed=4, grey=True)
    rgb = _img(17, 29, seed=5)
    for img in (g, rgb):
        for order in ("<", ">"):
            payload = _tiff_image(img, lzw=True, order=order)
            out = tiff.decode_tiff(payload)
            want = np.repeat(img[:, :, None], 3, axis=2) \
                if img.ndim == 2 else img
            assert (out == want).all()


def test_lzw_width_bump_and_clear():
    """Random data forces a fresh table entry nearly every code, pushing
    the table past the 511/1023 early-change boundaries; a long run also
    crosses the encoder's mid-strip Clear. Any width-timing mismatch
    between encoder and decoder desyncs within a few codes."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(40, 120, 3)).astype(np.uint8)
    payload = _tiff_image(img, lzw=True)
    assert (tiff.decode_tiff(payload) == img).all()
    # highly-repetitive data exercises long matches instead
    rep = np.tile(np.arange(8, dtype=np.uint8), (64, 32 * 3 // 8))
    rep = rep.reshape(64, 32, 3)
    payload = _tiff_image(rep, lzw=True)
    assert (tiff.decode_tiff(payload) == rep).all()


def test_lzw_horizontal_predictor():
    """Predictor 2 (horizontal differencing) — the combination real
    LZW scans carry — over grey, RGB and multi-strip layouts."""
    g = _img(12, 33, seed=6, grey=True)
    payload = _tiff_image(g, lzw=True, predictor=2)
    assert (tiff.decode_tiff(payload)[:, :, 0] == g).all()
    rgb = _img(21, 19, seed=7)
    payload = _tiff_image(rgb, lzw=True, predictor=2, rows_per_strip=5)
    assert (tiff.decode_tiff(payload) == rgb).all()
    # predictor without LZW is legal too
    payload = _tiff_image(rgb, predictor=2)
    assert (tiff.decode_tiff(payload) == rgb).all()


def test_lzw_refusals():
    img = _img(9, 9, seed=8)
    good = _tiff_image(img, lzw=True)
    # truncate the (single) strip: LZW must refuse, not loop/misreport
    with pytest.raises(ValueError, match="LZW|short strip|out of bounds"):
        tiff.decode_tiff(good[:-10])
    # an unassigned code: strip of just Clear then code 300 (9-bit codes
    # 100101100 -> MSB-first bytes)
    import struct as st
    bits = (256 << 9) | 300
    raw = (bits << 6).to_bytes(3, "big")  # 18 bits left-aligned, 6 pad
    bad = _tiff_image(_img(2, 2, seed=1, grey=True), lzw=True)
    # splice: rebuild a 2x2 grey with our crafted strip
    payload = _tiff_image(np.zeros((2, 2), np.uint8), lzw=True)
    at = payload.rindex(_lzw_encode(bytes(4)))
    crafted = payload[:at] + raw
    n = st.unpack_from("<H", crafted, 8)[0]
    for i in range(n):
        e = 10 + 12 * i
        if st.unpack_from("<H", crafted, e)[0] == 279:
            crafted = crafted[:e + 8] + st.pack("<I", len(raw)) \
                + crafted[e + 12:]
    with pytest.raises(ValueError, match="LZW code 300 out of range"):
        tiff.decode_tiff(crafted)
    # floating-point predictor refuses as unsupported
    with pytest.raises(NotImplementedError, match="predictor 3"):
        tiff.decode_tiff(_tiff_image(img, extra_tags=[(317, 3, 1, 3)]))


def test_missing_bits_per_sample_defaults_bilevel():
    """TIFF 6.0 defaults BitsPerSample to 1 when tag 258 is absent; a
    tagless bilevel file must route 'unsupported', not misread as an
    8-bit short strip (r10 ADVICE). Retags entry 258 to a private tag
    in place, so the layout (and every offset) stays valid."""
    import struct as st
    payload = bytearray(_tiff_image(_img(4, 5, grey=True)))
    n = st.unpack_from("<H", payload, 8)[0]
    hit = 0
    for i in range(n):
        at = 10 + 12 * i
        if st.unpack_from("<H", payload, at)[0] == 258:
            st.pack_into("<H", payload, at, 32995)  # private, ignored
            hit += 1
    assert hit == 1
    with pytest.raises(NotImplementedError, match=r"bits-per-sample \[1\]"):
        tiff.decode_tiff(bytes(payload))


def test_probe_exif_and_triage_integration(spark):
    rgb = _img(6, 8, seed=8)
    payload = _tiff_image(rgb, order=">")
    assert mediameta._probe_image(payload) == ("tiff", 8, 6)
    fmt, out = multimodal._decode_rgb(payload)
    assert fmt == "tiff" and (out == rgb).all()
    # a TIFF file is its own Exif structure: the orientation tag
    # (0x0112 = 274) reads directly off IFD0
    with_orient = _tiff_image(rgb, extra_tags=[(274, 3, 1, 6)])
    ex = mediameta._parse_exif(with_orient)
    assert ex["orientation"] == 6
    blobs = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    row = mediameta.triage_decode_images(blobs).collect()[0]
    assert row.route == "decoded" and row.format == "tiff"
    assert (row.width, row.height) == (8, 6)


def test_deflate_strips_and_predictor():
    rgb = _img(14, 23, seed=9)
    payload = _tiff_image(rgb, deflate=True)
    assert (tiff.decode_tiff(payload) == rgb).all()
    payload = _tiff_image(rgb, deflate=True, predictor=2,
                          rows_per_strip=4)
    assert (tiff.decode_tiff(payload) == rgb).all()
    # old-style deflate code 32946 decodes identically
    import struct as st
    old = bytearray(_tiff_image(rgb, deflate=True))
    n = st.unpack_from("<H", old, 8)[0]
    for i in range(n):
        at = 10 + 12 * i
        if st.unpack_from("<H", old, at)[0] == 259:
            st.pack_into("<I", old, at + 8, 32946)
    assert (tiff.decode_tiff(bytes(old)) == rgb).all()
    # corrupt deflate stream refuses
    bad = bytearray(_tiff_image(rgb, deflate=True))
    bad[-8] ^= 0xFF
    with pytest.raises(ValueError, match="deflate|strip"):
        tiff.decode_tiff(bytes(bad))


def test_palette_colormap():
    rng = np.random.default_rng(12)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(9, 11)).astype(np.uint8)
    payload = _tiff_image(idx, palette=pal)
    out = tiff.decode_tiff(payload)
    assert (out == pal[idx]).all()
    # palette + LZW, big-endian
    payload = _tiff_image(idx, palette=pal, lzw=True, order=">")
    assert (tiff.decode_tiff(payload) == pal[idx]).all()
    # palette without ColorMap refuses as corrupt
    import struct as st
    noem = bytearray(_tiff_image(idx, palette=pal))
    n = st.unpack_from("<H", noem, 8)[0]
    for i in range(n):
        at = 10 + 12 * i
        if st.unpack_from("<H", noem, at)[0] == 320:
            st.pack_into("<H", noem, at, 32995)
    with pytest.raises(ValueError, match="without ColorMap"):
        tiff.decode_tiff(bytes(noem))


def test_tiled_layout_all_codecs():
    """TIFF 6.0 §15 tiles: full-size padded edge tiles crop away;
    compression and the per-tile predictor restart compose."""
    rgb = _img(37, 45, seed=10)
    for kw in ({}, {"lzw": True}, {"deflate": True}, {"packbits": True},
               {"lzw": True, "predictor": 2}):
        payload = _tiff_image(rgb, tiles=(16, 16), **kw)
        assert (tiff.decode_tiff(payload) == rgb).all(), kw
    g = _img(16, 16, seed=11, grey=True)  # exactly one tile
    payload = _tiff_image(g, tiles=(16, 16), deflate=True, predictor=2)
    assert (tiff.decode_tiff(payload)[:, :, 0] == g).all()
    # refusals: non-multiple-of-16 size, wrong grid count
    bad = _tiff_image(rgb, tiles=(16, 16))
    import struct as st
    b = bytearray(bad)
    n = st.unpack_from("<H", b, 8)[0]
    for i in range(n):
        at = 10 + 12 * i
        if st.unpack_from("<H", b, at)[0] == 322:
            st.pack_into("<I", b, at + 8, 20)
    with pytest.raises(ValueError, match="multiple of 16"):
        tiff.decode_tiff(bytes(b))
    b = bytearray(bad)
    for i in range(n):
        at = 10 + 12 * i
        if st.unpack_from("<H", b, at)[0] == 257:
            st.pack_into("<I", b, at + 8, 200)  # grid no longer matches
    with pytest.raises(ValueError, match="tiles for a"):
        tiff.decode_tiff(bytes(b))


# ---------------------------------------------------------------------------
# new-style JPEG-in-TIFF (compression 7)
# ---------------------------------------------------------------------------

def _split_jpeg_tables(payload: bytes) -> tuple[bytes, bytes]:
    """Split a JPEG interchange stream into (tables stream, abbreviated
    image stream): DQT/DHT segments move to a SOI..EOI tables-only
    stream (the tag-347 shape), everything else stays."""
    assert payload[:2] == b"\xff\xd8"
    pos = 2
    tables = bytearray(b"\xff\xd8")
    rest = bytearray(b"\xff\xd8")
    while pos + 4 <= len(payload):
        assert payload[pos] == 0xFF, hex(payload[pos])
        marker = payload[pos + 1]
        if marker == 0xDA:  # SOS: entropy data runs to EOI
            rest += payload[pos:]
            return bytes(tables + b"\xff\xd9"), bytes(rest)
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos : pos + 2 + seglen]
        if marker in (0xDB, 0xC4):
            tables += seg
        else:
            rest += seg
        pos += 2 + seglen
    raise AssertionError("no SOS found")


def test_jpeg_in_tiff_single_strip():
    from tests.test_jpeg import _encode_jpeg, _rng_image

    img = _rng_image(16, 16, seed=81, grey=True)
    stream = _encode_jpeg(img)[0]
    from youtube_api_data_etl_automation_spark.operators.jpeg import (
        decode_baseline_jpeg,
    )

    want = decode_baseline_jpeg(stream)
    payload = _tiff_image(np.zeros((16, 16), dtype=np.uint8),
                          photometric=1, jpeg_chunks=[stream])
    got = tiff.decode_tiff(payload)
    assert np.array_equal(got, want)


def test_jpeg_in_tiff_multi_strip_self_contained():
    """Strip placement with different content: each strip a full
    interchange stream (compression 7 without tag 347 is spec-valid)."""
    from tests.test_jpeg import _encode_jpeg, _rng_image
    from youtube_api_data_etl_automation_spark.operators.jpeg import (
        decode_baseline_jpeg,
    )

    s_top = _encode_jpeg(_rng_image(8, 24, seed=82))[0]
    s_bot = _encode_jpeg(_rng_image(8, 24, seed=83))[0]
    payload = _tiff_image(
        np.zeros((16, 24, 3), dtype=np.uint8), photometric=6,
        rows_per_strip=8, jpeg_chunks=[s_top, s_bot])
    got = tiff.decode_tiff(payload)
    want = np.vstack([decode_baseline_jpeg(s_top),
                      decode_baseline_jpeg(s_bot)])
    assert np.array_equal(got, want)


def test_jpeg_in_tiff_strips_with_shared_tables():
    """The tag-347 splice: strips are ABBREVIATED streams (no DQT/DHT),
    tables arrive once via JPEGTables. The test encoder derives tables
    from the data, so the two strips carry identical pixels — what is
    under test is that the tables reach the entropy decoder."""
    from tests.test_jpeg import _encode_jpeg, _rng_image
    from youtube_api_data_etl_automation_spark.operators.jpeg import (
        decode_baseline_jpeg,
    )

    strip = _rng_image(8, 24, seed=82)
    stream = _encode_jpeg(strip)[0]
    tables, abbr = _split_jpeg_tables(stream)
    # the abbreviated stream really lacks tables (starts at SOF)
    assert abbr[2:4] == b"\xff\xc0"
    payload = _tiff_image(
        np.zeros((16, 24, 3), dtype=np.uint8), photometric=6,
        rows_per_strip=8, jpeg_chunks=[abbr, abbr],
        jpeg_tables=tables)
    got = tiff.decode_tiff(payload)
    one = decode_baseline_jpeg(stream)
    assert np.array_equal(got, np.vstack([one, one]))
    # without the tables tag the abbreviated strip must NOT decode
    broken = _tiff_image(
        np.zeros((16, 24, 3), dtype=np.uint8), photometric=6,
        rows_per_strip=8, jpeg_chunks=[abbr, abbr])
    with pytest.raises(ValueError):
        tiff.decode_tiff(broken)


def test_jpeg_in_tiff_tiled():
    from tests.test_jpeg import _encode_jpeg, _rng_image
    from youtube_api_data_etl_automation_spark.operators.jpeg import (
        decode_baseline_jpeg,
    )

    # 20x35 image in 16x16 tiles -> 2x3 grid, edge tiles padded;
    # self-contained per-tile streams (tables derive from each tile's
    # data, so sharing via tag 347 would mismatch — covered by the
    # shared-tables strip test instead)
    full = _rng_image(20, 35, seed=84, grey=True)
    padded = np.zeros((32, 48), dtype=full.dtype)
    padded[:20, :35] = full
    streams = []
    for ty in range(2):
        for tx in range(3):
            tile = padded[ty * 16 : ty * 16 + 16, tx * 16 : tx * 16 + 16]
            streams.append(_encode_jpeg(tile)[0])
    payload = _tiff_image(
        np.zeros((20, 35), dtype=np.uint8), photometric=1,
        tiles=(16, 16), jpeg_chunks=streams)
    got = tiff.decode_tiff(payload)
    want = np.zeros((32, 48, 3), dtype=np.uint8)
    for t, s in enumerate(streams):
        ty, tx = divmod(t, 3)
        want[ty * 16 : ty * 16 + 16, tx * 16 : tx * 16 + 16] = \
            decode_baseline_jpeg(s)
    assert np.array_equal(got, want[:20, :35])


def test_jpeg_in_tiff_refusals():
    from tests.test_jpeg import _encode_jpeg, _rng_image

    stream = _encode_jpeg(_rng_image(16, 16, seed=85, grey=True))[0]
    # tables tag that is not an abbreviated stream
    bad = _tiff_image(np.zeros((16, 16), dtype=np.uint8), photometric=1,
                      jpeg_chunks=[stream], jpeg_tables=b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="JPEGTables"):
        tiff.decode_tiff(bad)
    # segment that is not a JPEG stream
    nosoi = _tiff_image(np.zeros((16, 16), dtype=np.uint8), photometric=1,
                        jpeg_chunks=[b"\x00" * 40])
    with pytest.raises(ValueError, match="without SOI"):
        tiff.decode_tiff(nosoi)
    # old-style JPEG (compression 6) stays an honest refusal
    old = _tiff_image(np.zeros((4, 4), dtype=np.uint8), photometric=1,
                      extra_tags=())
    old = old.replace(struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 1, 0),
                      struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 6, 0))
    with pytest.raises(NotImplementedError, match="compression 6"):
        tiff.decode_tiff(old)
    # strip smaller than the declared region
    small = _encode_jpeg(_rng_image(8, 8, seed=86, grey=True))[0]
    short = _tiff_image(np.zeros((16, 16), dtype=np.uint8), photometric=1,
                        jpeg_chunks=[small])
    with pytest.raises(ValueError, match="smaller than"):
        tiff.decode_tiff(short)
