"""pdf_images (operators/pdf.py, r12): image XObject extraction into
the image pipeline — DCTDecode streams pass through as standalone
JPEGs, decodable chains unpack to PNM, refusals quarantine per image.

VERDICT r11 item 2: a DCTDecode image XObject IS a JPEG the in-repo
decoder already handles; this bridges PDF figures into image_hashes and
decode_image.
"""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import pdf as P

from tests.test_pdf import a85, mkpdf, stream_obj


def img_obj(dict_body: bytes, data: bytes) -> bytes:
    return stream_obj(b"/Type /XObject /Subtype /Image " + dict_body,
                      data)


def pdf_with_images(xobjects, extra_objs=()):
    """One page whose /XObject dict holds the given (name, body) image
    objects (numbered from 5)."""
    refs = b" ".join(b"/%s %d 0 R" % (name, 5 + i)
                     for i, (name, _) in enumerate(xobjects))
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /XObject << " + refs + b" >> >> /Contents 4 0 R >>"),
        (4, stream_obj(b"", b"")),
    ]
    objs += [(5 + i, body) for i, (_, body) in enumerate(xobjects)]
    objs += list(extra_objs)
    return mkpdf(objs)


def rgb_pixels(w, h, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)


def test_flate_rgb_image_unpacks_to_ppm():
    px = rgb_pixels(4, 3)
    raw = px.tobytes()
    doc = pdf_with_images([(b"Im1", img_obj(
        b"/Width 4 /Height 3 /ColorSpace /DeviceRGB "
        b"/BitsPerComponent 8 /Filter /FlateDecode ",
        zlib.compress(raw)))])
    rows = P.extract_pdf_images(doc)
    assert len(rows) == 1
    r = rows[0]
    assert (r["format"], r["width"], r["height"]) == ("ppm", 4, 3)
    assert r["payload"] == b"P6\n4 3\n255\n" + raw
    assert r["error"] is None and r["page_idx"] == 0


def test_raw_grey_and_indexed_images():
    grey = bytes(range(12))
    pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])  # 3 RGB entries
    idx = bytes([0, 1, 2, 2, 1, 0])
    doc = pdf_with_images([
        (b"G", img_obj(
            b"/Width 4 /Height 3 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 8 ", grey)),
        (b"I", img_obj(
            b"/Width 3 /Height 2 /ColorSpace [/Indexed /DeviceRGB 2 "
            b"7 0 R] /BitsPerComponent 8 ", idx)),
    ], extra_objs=[(7, b"(" + pal.replace(b"(", b"\\(") + b")")])
    rows = {r["name"]: r for r in P.extract_pdf_images(doc)}
    assert rows["G"]["format"] == "pgm"
    assert rows["G"]["payload"] == b"P5\n4 3\n255\n" + grey
    assert rows["I"]["format"] == "ppm"
    expect = b"".join(pal[i * 3:(i + 1) * 3] for i in idx)
    assert rows["I"]["payload"] == b"P6\n3 2\n255\n" + expect


def test_dct_passthrough_is_the_standalone_jpeg():
    from tests.test_jpeg import _encode_jpeg, _rng_image

    jpeg = _encode_jpeg(_rng_image(16, 8, seed=77))[0]
    doc = pdf_with_images([
        (b"J", img_obj(
            b"/Width 16 /Height 8 /ColorSpace /DeviceRGB "
            b"/BitsPerComponent 8 /Filter /DCTDecode ", jpeg)),
        # chained transport filter before DCT: A85 peeled, JPEG intact
        (b"JA", img_obj(
            b"/Width 16 /Height 8 /ColorSpace /DeviceRGB "
            b"/BitsPerComponent 8 /Filter [/ASCII85Decode /DCTDecode] ",
            a85(jpeg))),
    ])
    rows = {r["name"]: r for r in P.extract_pdf_images(doc)}
    assert rows["J"]["payload"] == jpeg
    assert rows["JA"]["payload"] == jpeg
    assert rows["J"]["format"] == "jpeg"


def test_per_image_refusals_leave_siblings_intact():
    grey = bytes(range(4))
    doc = pdf_with_images([
        (b"Ok", img_obj(
            b"/Width 2 /Height 2 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 8 ", grey)),
        (b"Jpx", img_obj(
            b"/Width 2 /Height 2 /Filter /JPXDecode ", b"\x00\x00")),
        (b"Jb2", img_obj(  # MMR=1 decodes since r14; an arithmetic
            b"/Width 2 /Height 2 /Filter /JBIG2Decode ",  # region
            # page info (2x2) + immediate generic region, MMR=0
            b"\x00\x00\x00\x00\x30\x00\x01\x00\x00\x00\x13"
            b"\x00\x00\x00\x02\x00\x00\x00\x02\x00\x00\x00\x00"
            b"\x00\x00\x00\x00\x00\x00\x00"
            b"\x00\x00\x00\x01\x27\x00\x01\x00\x00\x00\x13"
            b"\x00\x00\x00\x02\x00\x00\x00\x02\x00\x00\x00\x00"
            b"\x00\x00\x00\x00\x00\x00\x00")),
        (b"Fax", img_obj(  # K>0 decodes since r13; junk data routes
            b"/Width 2 /Height 2 /Filter /CCITTFaxDecode "  # corrupt
            b"/DecodeParms << /K 1 /Columns 2 >> ", b"\x00")),
        (b"Mask", img_obj(
            b"/Width 2 /Height 2 /ImageMask true "
            b"/BitsPerComponent 1 ", b"\xf0")),
        (b"Deep", img_obj(
            b"/Width 2 /Height 2 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 16 ", b"\x00" * 8)),
        (b"Lab", img_obj(
            b"/Width 1 /Height 1 /ColorSpace /Lab "
            b"/BitsPerComponent 8 ", b"\x00" * 3)),
    ])
    rows = {r["name"]: r for r in P.extract_pdf_images(doc)}
    assert rows["Ok"]["error"] is None
    for name in ("Jpx", "Jb2", "Mask", "Deep", "Lab"):
        assert rows[name]["error_kind"] == "unsupported", name
        assert rows[name]["payload"] is None
    assert rows["Fax"]["error_kind"] == "corrupt"  # truncated G3
    # short sample data is corrupt, not unsupported
    bad = pdf_with_images([(b"Short", img_obj(
        b"/Width 9 /Height 9 /ColorSpace /DeviceRGB "
        b"/BitsPerComponent 8 ", b"\x00" * 5))])
    (r,) = P.extract_pdf_images(bad)
    assert r["error_kind"] == "corrupt"


def test_form_xobject_recursion_and_cycles():
    grey = bytes([1, 2, 3, 4])
    form = stream_obj(
        b"/Type /XObject /Subtype /Form /Resources "
        b"<< /XObject << /Inner 6 0 R /Self 5 0 R >> >> ", b"")
    doc = pdf_with_images(
        [(b"F", form),
         (b"Inner", img_obj(
             b"/Width 2 /Height 2 /ColorSpace /DeviceGray "
             b"/BitsPerComponent 8 ", grey))])
    rows = P.extract_pdf_images(doc)
    # the image appears once via the page AND once via the form path —
    # the cycle guard stops the Self reference from looping
    names = sorted(r["name"] for r in rows)
    assert names == ["F/Inner", "Inner"]
    for r in rows:
        assert r["payload"] == b"P5\n2 2\n255\n" + grey


def test_spark_operator_and_payload_bridge(spark):
    """pdf_images → decode_image: the PDF figure payload decodes to the
    same pixels as its standalone encoding."""
    from tests.test_jpeg import (
        FLAT_Q, _encode_jpeg, _expected_pixels, _rng_image,
    )
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        decode_image,
    )

    px = rgb_pixels(5, 4, seed=21)
    jpeg_px = _rng_image(8, 8, seed=22, grey=True)
    jpeg, blocks, sampling, _ = _encode_jpeg(jpeg_px)
    doc = pdf_with_images([
        (b"Raw", img_obj(
            b"/Width 5 /Height 4 /ColorSpace /DeviceRGB "
            b"/BitsPerComponent 8 /Filter /FlateDecode ",
            zlib.compress(px.tobytes()))),
        (b"Jp", img_obj(
            b"/Width 8 /Height 8 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 8 /Filter /DCTDecode ", jpeg)),
        (b"Jpx", img_obj(
            b"/Width 2 /Height 2 /Filter /JPXDecode ", b"\x00")),
    ])
    blobs = spark.createDataFrame(
        [(1, bytearray(doc)), (2, bytearray(b"not a pdf"))],
        "doc_id long, payload binary")
    images = P.pdf_images(blobs)
    rows = images.collect()
    by_name = {r["name"]: r for r in rows if r["name"] is not None}
    assert by_name["Jpx"]["error_kind"] == "unsupported"
    assert [r for r in rows if r["doc_id"] == 2][0]["error_kind"] \
        == "corrupt"

    good = [r for r in rows if r["payload"] is not None]
    payloads = spark.createDataFrame(
        [(i, r["payload"]) for i, r in enumerate(good)],
        "doc_id long, payload binary")
    decoded = {good[r["doc_id"]]["name"]: r for r in decode_image(
        payloads).collect()}
    ppm_row = decoded["Raw"]
    assert (ppm_row["width"], ppm_row["height"]) == (5, 4)
    assert ppm_row["mean_r"] == pytest.approx(px[:, :, 0].mean())
    jp_row = decoded["Jp"]
    assert (jp_row["width"], jp_row["height"]) == (8, 8)
    # the bridged JPEG decodes to the reference model's pixels
    want = _expected_pixels(blocks, sampling, FLAT_Q, 8, 8)
    assert jp_row["mean_r"] == pytest.approx(float(want.mean()),
                                             abs=1e-6)


def test_refused_image_is_its_own_error_row(spark):
    doc = pdf_with_images([(b"Jpx", img_obj(
        b"/Width 2 /Height 2 /Filter /JPXDecode ", b"\x00"))])
    blobs = spark.createDataFrame([(1, bytearray(doc))],
                                  "doc_id long, payload binary")
    (row,) = P.pdf_images(blobs).collect()
    # the item row keeps its position; only the image itself refused
    assert (row["doc_id"], row["page_idx"], row["image_idx"],
            row["name"]) == (1, 0, 0, "Jpx")
    assert row["error_kind"] == "unsupported"
    assert row["error"] == ("PDF image BitsPerComponent=None: only 8-bit "
                            "samples are unpacked here")
    assert row["payload"] is None


def test_corpus_pdf_to_images_composition(spark):
    """PDF figures come out as standalone image payloads, and a figure
    re-used across documents hashes identically."""
    from youtube_api_data_etl_automation_spark.operators.imagehash import (
        image_hashes,
    )

    px = rgb_pixels(8, 8, seed=41)
    body = img_obj(
        b"/Width 8 /Height 8 /ColorSpace /DeviceRGB "
        b"/BitsPerComponent 8 /Filter /FlateDecode ",
        zlib.compress(px.tobytes()))
    # the same figure embedded in two different documents (the
    # cover-image-reuse shape near-dup hunting wants to catch)
    doc_a = pdf_with_images([(b"Fig", body)])
    doc_b = pdf_with_images([(b"Cover", body),
                             (b"Jpx", img_obj(
                                 b"/Width 2 /Height 2 /Filter "
                                 b"/JPXDecode ", b"\x00"))])
    blobs = spark.createDataFrame(
        [(1, bytearray(doc_a)), (2, bytearray(doc_b)),
         (3, bytearray(b"broken"))],
        "doc_id long, payload binary")
    extracted = P.pdf_images(blobs)
    rows = extracted.collect()
    # refused image + broken doc quarantine; two good figures remain
    assert sorted(r["error_kind"] for r in rows if r["error"]) == \
        ["corrupt", "unsupported"]
    good = [r for r in rows if r["error"] is None]
    assert {(r["doc_id"], r["name"]) for r in good} == \
        {(1, "Fig"), (2, "Cover")}
    images = spark.createDataFrame(
        [(r["doc_id"], r["payload"]) for r in good],
        "doc_id long, payload binary")
    hashes = image_hashes(images).collect()
    assert len({(h["dhash"], h["ahash"]) for h in hashes}) == 1


def test_devicecmyk_converts_to_rgb_ppm():
    """r12: DeviceCMYK unpacks via the naive device transform —
    r = (255-C)(255-K)/255 — so print-oriented PDF figures reach the
    image pipeline instead of refusing."""
    # hand-picked CMYK pixels with hand-computed RGB expectations
    cmyk = bytes([
        0, 0, 0, 0,          # white        -> 255,255,255
        255, 0, 0, 0,        # pure cyan    -> 0,255,255
        0, 255, 0, 0,        # pure magenta -> 255,0,255
        0, 0, 255, 0,        # pure yellow  -> 255,255,0
        0, 0, 0, 255,        # pure black   -> 0,0,0
        51, 102, 153, 51,    # mixed: (204*204/255, 153*204/255, 102*204/255)
    ])
    expect = bytes([
        255, 255, 255,
        0, 255, 255,
        255, 0, 255,
        255, 255, 0,
        0, 0, 0,
        163, 122, 81,  # floor divisions
    ])
    doc = pdf_with_images([(b"C", img_obj(
        b"/Width 3 /Height 2 /ColorSpace /DeviceCMYK "
        b"/BitsPerComponent 8 ", cmyk))])
    (r,) = P.extract_pdf_images(doc)
    assert r["error"] is None
    assert (r["format"], r["width"], r["height"]) == ("ppm", 3, 2)
    assert r["payload"] == b"P6\n3 2\n255\n" + expect


def test_ccitt_fax_images_decode():
    """r13: CCITTFaxDecode image XObjects decode via operators/ccitt.py
    — G4 (K<0) and MH (K=0), BlackIs1 both ways, transport filters
    peeled, parameter mismatches corrupt-routed."""
    import random

    from tests.test_ccitt import _encode_g4, _encode_mh, _rand_img

    img = _rand_img(random.Random(3), 6, 16)
    g4 = _encode_g4(img)
    mh = _encode_mh(img, byte_align=True)
    doc = pdf_with_images([
        (b"G4", img_obj(
            b"/Width 16 /Height 6 /ColorSpace /DeviceGray "
            b"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns 16 >> ", g4)),
        (b"G4b", img_obj(  # BlackIs1: black run -> sample 1 -> 255
            b"/Width 16 /Height 6 /BitsPerComponent 1 "
            b"/Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns 16 /BlackIs1 true >> ",
            g4)),
        (b"MH", img_obj(
            b"/Width 16 /Height 6 /BitsPerComponent 1 "
            b"/Filter /CCITTFaxDecode /DecodeParms "
            b"<< /K 0 /Columns 16 /EncodedByteAlign true >> ", mh)),
        (b"Fl", img_obj(  # transport filter peels first
            b"/Width 16 /Height 6 /BitsPerComponent 1 "
            b"/Filter [/FlateDecode /CCITTFaxDecode] /DecodeParms "
            b"[null << /K -1 /Columns 16 >>] ", zlib.compress(g4))),
        (b"Bad", img_obj(  # Columns/Width mismatch is corrupt
            b"/Width 8 /Height 6 /BitsPerComponent 1 "
            b"/Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns 16 >> ", g4)),
    ])
    rows = {r["name"]: r for r in P.extract_pdf_images(doc)}
    # default BlackIs1=false: black run -> 0 bit -> DeviceGray 0 (dark)
    dark = ((1 - img) * 255).astype(np.uint8).tobytes()
    bright = (img * 255).astype(np.uint8).tobytes()
    head = b"P5\n16 6\n255\n"
    assert rows["G4"]["error"] is None
    assert (rows["G4"]["format"], rows["G4"]["width"],
            rows["G4"]["height"]) == ("pgm", 16, 6)
    assert rows["G4"]["payload"] == head + dark
    assert rows["G4b"]["payload"] == head + bright
    assert rows["MH"]["payload"] == head + dark
    assert rows["Fl"]["payload"] == head + dark
    assert rows["Bad"]["error_kind"] == "corrupt"


def test_ccitt_decode_array_inversion():
    """r13 late: /BlackIs1 true + /Decode [1 0] — the common scanned-
    PDF pairing — cancels back to the default rendering."""
    import random

    from tests.test_ccitt import _encode_g4, _rand_img

    img = _rand_img(random.Random(8), 5, 16)
    g4 = _encode_g4(img)
    body = (b"/Width 16 /Height 5 /BitsPerComponent 1 "
            b"/Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns 16 /BlackIs1 true >> ")
    doc = pdf_with_images([
        (b"Plain", img_obj(body, g4)),
        (b"Inv", img_obj(b"/Decode [1 0] " + body, g4)),
    ])
    rows = {r["name"]: r for r in P.extract_pdf_images(doc)}
    dark = ((1 - img) * 255).astype(np.uint8).tobytes()
    bright = (img * 255).astype(np.uint8).tobytes()
    head = b"P5\n16 5\n255\n"
    assert rows["Plain"]["payload"] == head + bright  # BlackIs1
    assert rows["Inv"]["payload"] == head + dark      # inverted back
