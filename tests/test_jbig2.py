"""JBIG2 MMR generic-region decode (operators/jbig2.py, r14 — VERDICT
r13 item 3): T.88 embedded segment parsing composed over the existing
T.6 decoder, wired into pdf_images for JBIG2Decode XObjects.

The encoder here is written against the T.88 spec prose (segment
header §7.2, page info §7.4.8, generic region §7.4.6), independent of
the decoder's code, and reuses test_ccitt's independent G4 encoder
for the MMR region data."""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import jbig2 as J
from youtube_api_data_etl_automation_spark.operators import pdf as P

from tests.test_ccitt import _encode_g4, _rand_img
from tests.test_pdf_images import img_obj, pdf_with_images


def _seg(number: int, stype: int, page: int, data: bytes,
         refs=(), page4=False, long_count=False) -> bytes:
    out = struct.pack(">I", number)
    out += bytes([stype | (0x40 if page4 else 0)])
    if long_count or len(refs) > 4:
        out += struct.pack(">I", 0xE0000000 | len(refs))
        out += bytes((len(refs) + 8) // 8)  # retain bits, all zero
    else:
        out += bytes([len(refs) << 5])
    sz = 1 if number <= 256 else (2 if number <= 65536 else 4)
    for r in refs:
        out += int(r).to_bytes(sz, "big")
    out += struct.pack(">I", page) if page4 else bytes([page])
    return out + struct.pack(">I", len(data)) + data


def _page_info(w: int, h: int, default_px: int = 0) -> bytes:
    return (struct.pack(">IIII", w, h, 0, 0)
            + bytes([(default_px & 1) << 2]) + b"\x00\x00")


def _region(img: np.ndarray, x: int = 0, y: int = 0, comb: int = 0,
            gflags: int = 1, payload: bytes | None = None) -> bytes:
    h, w = img.shape
    return (struct.pack(">IIII", w, h, x, y) + bytes([comb])
            + bytes([gflags])
            + (_encode_g4(img) if payload is None else payload))


def _stream(img: np.ndarray, **kw) -> bytes:
    h, w = img.shape
    return (_seg(0, 48, 1, _page_info(w, h))
            + _seg(1, 39, 1, _region(img, **kw))
            + _seg(2, 49, 1, b""))


def test_mmr_region_round_trip():
    img = _rand_img(random.Random(14), 13, 37)
    assert np.array_equal(J.decode_jbig2(_stream(img)), img)


def test_combination_ops_and_offsets():
    a = _rand_img(random.Random(5), 6, 10)
    b = _rand_img(random.Random(6), 6, 10)
    base = _seg(0, 48, 1, _page_info(24, 9, default_px=0))
    data = (base
            + _seg(1, 38, 1, _region(a, x=2, y=1, comb=0))     # OR
            + _seg(2, 39, 1, _region(b, x=2, y=1, comb=2))     # XOR
            + _seg(3, 39, 1, _region(a[:3, :4], x=20, y=6,
                                     comb=4)))                 # REPLACE
    page = J.decode_jbig2(data)
    want = np.zeros((9, 24), dtype=np.uint8)
    want[1:7, 2:12] |= a
    want[1:7, 2:12] ^= b
    want[6:9, 20:24] = a[:3, :4]
    assert np.array_equal(page, want)


def test_default_pixel_and_and_op():
    img = _rand_img(random.Random(7), 4, 8)
    data = (_seg(0, 48, 1, _page_info(8, 4, default_px=1))
            + _seg(1, 39, 1, _region(img, comb=1)))  # AND with 1s
    assert np.array_equal(J.decode_jbig2(data), img)


def test_globals_stream_and_header_variants():
    """Page info arriving via JBIG2Globals; 4-byte page association
    and the long referred-to count form both parse."""
    img = _rand_img(random.Random(8), 5, 9)
    glob = _seg(0, 48, 1, _page_info(9, 5), page4=True)
    data = _seg(300, 39, 1, _region(img), refs=[0, 0, 0, 0, 0],
                long_count=True)
    assert np.array_equal(J.decode_jbig2(data, glob), img)
    # 2-byte referred numbers kick in past segment number 256
    segs = J.parse_jbig2_segments(
        _seg(300, 39, 1, b"x" * 18, refs=[1, 2]))
    assert segs[0]["refs"] == [1, 2]


def test_unknown_page_height_resolves_from_regions():
    img = _rand_img(random.Random(9), 7, 11)
    data = (_seg(0, 48, 1, _page_info(11, 0xFFFFFFFF))
            + _seg(1, 50, 1, struct.pack(">I", 6))  # end-of-stripe
            + _seg(2, 39, 1, _region(img, y=3)))
    page = J.decode_jbig2(data)
    assert page.shape == (10, 11)
    assert np.array_equal(page[3:], img)
    assert not page[:3].any()


def test_refusals_are_honest():
    img = _rand_img(random.Random(10), 4, 6)
    base = _seg(0, 48, 1, _page_info(6, 4))
    # arithmetic-coded region (MMR=0)
    with pytest.raises(NotImplementedError, match="MQ-coder"):
        J.decode_jbig2(base + _seg(1, 39, 1, _region(img, gflags=0)))
    # symbol dictionary / text region
    with pytest.raises(NotImplementedError, match="symbol/text"):
        J.decode_jbig2(base + _seg(1, 0, 0, b"\x00\x00"))
    with pytest.raises(NotImplementedError, match="symbol/text"):
        J.decode_jbig2(base + _seg(1, 6, 1, b"\x00" * 18))
    # halftone, refinement, tables
    with pytest.raises(NotImplementedError, match="halftone"):
        J.decode_jbig2(base + _seg(1, 22, 1, b"\x00" * 18))
    with pytest.raises(NotImplementedError, match="refinement"):
        J.decode_jbig2(base + _seg(1, 40, 1, b"\x00" * 18))
    with pytest.raises(NotImplementedError, match="not supported"):
        J.decode_jbig2(base + _seg(1, 53, 1, b"\x00"))
    # unknown data length escape
    raw = _seg(1, 39, 1, b"")
    raw = raw[:-4] + b"\xff\xff\xff\xff"
    with pytest.raises(NotImplementedError, match="unknown segment"):
        J.parse_jbig2_segments(raw)


def test_malformed_is_loud():
    img = _rand_img(random.Random(11), 4, 6)
    base = _seg(0, 48, 1, _page_info(6, 4))
    # truncated header / overrunning data length
    with pytest.raises(ValueError, match="truncated"):
        J.parse_jbig2_segments(b"\x00\x00\x00\x01\x27")
    overrun = _seg(1, 39, 1, _region(img))
    # the 4-byte data length sits at offset 7 for this header shape
    # (number 4 + flags 1 + count 1 + page 1); inflate its high byte
    overrun = overrun[:7] + b"\xff" + overrun[8:]
    with pytest.raises(ValueError, match="overruns"):
        J.parse_jbig2_segments(base + overrun)
    # region outside the page
    with pytest.raises(ValueError, match="outside"):
        J.decode_jbig2(base + _seg(1, 39, 1, _region(img, x=3)))
    # TPGDON has no MMR coding
    with pytest.raises(ValueError, match="TPGDON"):
        J.decode_jbig2(base + _seg(1, 39, 1, _region(img, gflags=0x09)))
    # no page info at all
    with pytest.raises(ValueError, match="no page information"):
        J.decode_jbig2(_seg(1, 39, 1, _region(img)))
    # an over-budget region is well formed: it refuses as unsupported
    huge = struct.pack(">IIII", 1 << 16, 1 << 16, 0, 0) + b"\x00\x01"
    with pytest.raises(NotImplementedError, match="budget"):
        J.decode_jbig2(base + _seg(1, 39, 1, huge))


def test_pdf_jbig2_image_decodes_and_arith_refuses():
    img = _rand_img(random.Random(12), 9, 24)
    glob = _seg(0, 48, 1, _page_info(24, 9))
    body = (_seg(1, 39, 1, _region(img)) + _seg(2, 49, 1, b""))
    doc = pdf_with_images(
        [(b"Jb", img_obj(
            b"/Width 24 /Height 9 /BitsPerComponent 1 "
            b"/ColorSpace /DeviceGray /Filter /JBIG2Decode "
            b"/DecodeParms << /JBIG2Globals 9 0 R >> ", body)),
         (b"Inv", img_obj(
            b"/Width 24 /Height 9 /BitsPerComponent 1 "
            b"/Filter /JBIG2Decode /Decode [1 0] "
            b"/DecodeParms << /JBIG2Globals 9 0 R >> ", body)),
         (b"Arith", img_obj(
            b"/Width 6 /Height 4 /BitsPerComponent 1 "
            b"/Filter /JBIG2Decode ",
            _seg(0, 48, 1, _page_info(6, 4))
            + _seg(1, 39, 1, _region(img[:4, :6], gflags=0))))],
        extra_objs=[(9, b"<< /Length %d >>\nstream\n" % len(glob)
                     + glob + b"\nendstream")])
    rows = P.extract_pdf_images(doc)
    assert len(rows) == 3
    ok, inv, arith = rows
    assert (ok["format"], ok["width"], ok["height"]) == ("pgm", 24, 9)
    grey = np.frombuffer(ok["payload"].split(b"\n", 3)[3],
                         dtype=np.uint8).reshape(9, 24)
    # JBIG2 1 = black -> DeviceGray 0
    assert np.array_equal(grey, (1 - img) * 255)
    inv_grey = np.frombuffer(inv["payload"].split(b"\n", 3)[3],
                             dtype=np.uint8).reshape(9, 24)
    assert np.array_equal(inv_grey, img * 255)
    assert arith["payload"] is None
    assert arith["error_kind"] == "unsupported"
    assert "MQ-coder" in arith["error"]


def test_pdf_jbig2_page_size_mismatch_is_malformed():
    img = _rand_img(random.Random(13), 4, 6)
    body = _seg(0, 48, 1, _page_info(6, 4)) + _seg(1, 39, 1, _region(img))
    doc = pdf_with_images([(b"Jb", img_obj(
        b"/Width 6 /Height 5 /BitsPerComponent 1 "
        b"/Filter /JBIG2Decode ", body))])
    row = P.extract_pdf_images(doc)[0]
    assert row["error_kind"] == "corrupt"  # ValueError -> corrupt
    assert "JBIG2 page" in row["error"]


def test_cumulative_region_budget(monkeypatch):
    """r14 review fix: many just-under-budget regions must trip the
    CUMULATIVE pixel budget (checked from the declared sizes, before
    any decode) instead of accumulating decoded buffers."""
    img = np.zeros((64, 64), dtype=np.uint8)
    base = _seg(0, 48, 1, _page_info(64, 64))
    body = b"".join(_seg(i + 1, 39, 1, _region(img))
                    for i in range(5))
    monkeypatch.setattr(J, "JBIG2_PIXEL_BUDGET", 64 * 64 * 3)
    with pytest.raises(NotImplementedError, match="cumulative"):
        J.decode_jbig2(base + body)
    # under the cap the same shape composes fine
    monkeypatch.setattr(J, "JBIG2_PIXEL_BUDGET", 64 * 64 * 6)
    assert J.decode_jbig2(base + body).shape == (64, 64)


def test_over_budget_page_is_unsupported():
    """A well-formed page over the pixel budget (41 x 2^31 declared in its
    page-information segment) refuses before allocating, and quarantines
    as 'unsupported' like every other decoder's budget refusal."""
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        _error_kind,
    )

    page = _seg(0, 48, 1, _page_info(41, 1 << 31)) + _seg(1, 49, 1, b"")
    with pytest.raises(NotImplementedError, match="budget") as e:
        J.decode_jbig2(page)
    assert _error_kind(e.value) == "unsupported"


def test_standalone_file_organization():
    """r14: T.88 Annex D file organization — sequential files decode
    (with and without the page-count field), random-access refuses,
    bad magic/truncation are malformed."""
    img = _rand_img(random.Random(15), 7, 13)
    body = (_seg(0, 48, 1, _page_info(13, 7))
            + _seg(1, 39, 1, _region(img)))
    magic = b"\x97JB2\r\n\x1a\n"
    # flags 0x03: sequential + unknown page count (no count field)
    assert np.array_equal(J.decode_jbig2_file(magic + b"\x03" + body),
                          img)
    # flags 0x01: sequential + KNOWN page count (4-byte field)
    assert np.array_equal(
        J.decode_jbig2_file(magic + b"\x01\x00\x00\x00\x01" + body),
        img)
    with pytest.raises(NotImplementedError, match="random-access"):
        J.decode_jbig2_file(magic + b"\x02" + body)
    with pytest.raises(ValueError, match="bad magic"):
        J.decode_jbig2_file(b"not jbig2")
    with pytest.raises(ValueError, match="truncated"):
        J.decode_jbig2_file(magic)
    with pytest.raises(ValueError, match="truncated page-count"):
        J.decode_jbig2_file(magic + b"\x01\x00\x00")


def test_decode_image_routes_jbig2(spark):
    """Standalone .jb2 payloads flow through decode_image like any
    image: bilevel page -> grey RGB, black = 0."""
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        decode_image,
    )

    img = _rand_img(random.Random(16), 5, 11)
    payload = (b"\x97JB2\r\n\x1a\n\x03"
               + _seg(0, 48, 1, _page_info(11, 5))
               + _seg(1, 39, 1, _region(img)))
    rows = decode_image(spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"\x97JB2\r\n\x1a\n"))],
        "doc_id long, payload binary")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    ok = by_id[1]
    assert ok["format"] == "jbig2" and ok["error"] is None
    assert (ok["width"], ok["height"]) == (11, 5)
    want_mean = float(((1 - img) * 255).mean())
    assert abs(ok["mean_r"] - want_mean) < 1e-6
    assert by_id[2]["error_kind"] == "corrupt"


def test_standalone_file_probes_like_every_image(spark):
    """A standalone JBIG2 file probes from its page-information segment,
    so image_meta, the triage router and the probe-first image_hashes
    take the files decode_image reads (the codec fixture's shape)."""
    from youtube_api_data_etl_automation_spark.operators import (
        imagehash,
        mediameta,
    )

    magic = b"\x97JB2\r\n\x1a\n\x03"
    img = _rand_img(random.Random(1313), 18, 41)
    payload = (magic + _seg(0, 48, 1, _page_info(41, 18))
               + _seg(1, 39, 1, _region(img)) + _seg(2, 51, 1, b""))
    # a striped page of unknown height takes the regions' extent
    striped = (magic + _seg(0, 48, 1, _page_info(41, 0xFFFFFFFF))
               + _seg(1, 39, 1, _region(img)))
    assert J.jbig2_file_size(striped) == (41, 18)
    assert J.decode_jbig2_file(striped).shape == (18, 41)

    df = spark.createDataFrame([(1, bytearray(payload))],
                               "doc_id long, payload binary")
    meta = mediameta.image_meta(df).collect()[0]
    assert (meta["format"], meta["width"], meta["height"]) == \
        ("jbig2", 41, 18)
    tri = mediameta.triage_decode_images(df).collect()[0]
    assert tri["route"] == "decoded" and tri["format"] == "jbig2"
    hashed = imagehash.image_hashes(df).collect()[0]
    assert hashed["error"] is None and hashed["format"] == "jbig2"
    assert (hashed["width"], hashed["height"]) == (41, 18)
