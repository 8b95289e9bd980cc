"""PDF text extraction (operators/pdf.py) against hand-authored
documents: the expected text is human-specified, so the usual
shared-encoder mirror-bug risk does not apply — a parser bug shows up
as the wrong words. Covers object syntax, every supported filter, page
ordering + inheritance, ObjStm, ToUnicode CMaps, inline-image skip,
Form XObjects, the refusal contract (encryption, image filters,
unmapped Type0, budgets), Spark quarantine plumbing, and seeded fuzz."""

from __future__ import annotations

import random
import zlib

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators import pdf as P


# ---------------------------------------------------------------------------
# builders — classic xref-less documents (the parser scans objects, it
# does not need a valid xref table; the trailer still names /Root)
# ---------------------------------------------------------------------------

def mkpdf(objs, trailer_extra=b"", version=b"1.4"):
    out = bytearray(b"%PDF-" + version + b"\n")
    for num, body in objs:
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    out += (b"trailer\n<< /Size %d /Root 1 0 R %s>>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (len(objs) + 1, trailer_extra, xref_pos))
    return bytes(out)


def stream_obj(dict_body: bytes, data: bytes) -> bytes:
    return (b"<< /Length %d %s>>\nstream\n" % (len(data), dict_body)
            + data + b"\nendstream")


def one_page(content: bytes, font_body=b"<< /Type /Font /Subtype /Type1 "
             b"/BaseFont /Helvetica >>", filt=b"", encode=None):
    data = encode(content) if encode else content
    return mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        (4, stream_obj(filt, data)),
        (5, font_body),
    ])


def a85(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i:i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\x00" * pad, "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        enc = bytes(d + 0x21 for d in reversed(digits))
        out += enc[: 5 - pad]
    return bytes(out) + b"~>"


def rle(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        j = i
        while j + 1 < len(data) and data[j + 1] == data[j] \
                and j - i < 126:
            j += 1
        if j > i:  # repeat run
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
        else:
            lit = data[i:i + 128]
            out += bytes([len(lit) - 1]) + lit
            i += len(lit)
    return bytes(out) + b"\x80"


def lzw(data: bytes) -> bytes:
    """Reference TIFF/PDF LZW encoder (MSB-first, early change)."""
    CLEAR, EOI = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits = []

    def put(code):
        bits.extend((code >> (width - 1 - k)) & 1 for k in range(width))

    put(CLEAR)
    w = b""
    for c in data:
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        put(table[w])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1  # early change
        w = bytes([c])
    if w:
        put(table[w])
    put(EOI)
    while len(bits) % 8:
        bits.append(0)
    return bytes(
        int("".join(map(str, bits[i:i + 8])), 2)
        for i in range(0, len(bits), 8)
    )


# ---------------------------------------------------------------------------
# extraction semantics
# ---------------------------------------------------------------------------

def test_minimal_tj():
    doc = one_page(b"BT /F1 12 Tf 72 720 Td (Hello, World!) Tj ET")
    ver, n, text = P.extract_pdf_text(doc)
    assert (ver, n, text) == ("1.4", 1, "Hello, World!")


def test_string_escapes_octal_hex_and_continuation():
    doc = one_page(
        b"BT /F1 12 Tf (A\\051B\\nC\\101 cont\\\ninued) Tj "
        b"0 -14 Td <48692E> Tj ET"
    )
    _, _, text = P.extract_pdf_text(doc)
    assert text == "A)B\nCA continued\nHi."


def test_tj_kerning_threshold():
    doc = one_page(b"BT /F1 12 Tf [(Hel) -50 (lo) -250 (world)] TJ ET")
    _, _, text = P.extract_pdf_text(doc)
    assert text == "Hello world"


def test_quote_operators_break_lines():
    doc = one_page(b"BT /F1 12 Tf (one) Tj T* (two) ' 1 2 (three) \" ET")
    _, _, text = P.extract_pdf_text(doc)
    assert text == "one\ntwo\nthree"


def test_page_order_and_inherited_resources():
    c1 = zlib.compress(b"BT /F1 9 Tf (first) Tj ET")
    c2 = zlib.compress(b"BT /F1 9 Tf (second) Tj ET")
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 /Resources "
            b"<< /Font << /F1 7 0 R >> >> >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
        (4, stream_obj(b"/Filter /FlateDecode ", c1)),
        (5, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>"),
        (6, stream_obj(b"/Filter /FlateDecode ", c2)),
        (7, b"<< /Type /Font /Subtype /Type1 >>"),
    ])
    ver, n, text = P.extract_pdf_text(doc)
    assert n == 2
    assert text == "first\fsecond"


def test_contents_array_concatenates():
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources << >> "
            b"/Contents [4 0 R 5 0 R] >>"),
        # spec: stream divisions occur only between lexical tokens
        (4, stream_obj(b"", b"BT (split ) Tj")),
        (5, stream_obj(b"", b"(across) Tj ET")),
    ])
    _, _, text = P.extract_pdf_text(doc)
    assert text == "split across"


def test_filters_ascii85_hex_runlength_lzw():
    content = b"BT /F1 8 Tf (filter chain works) Tj ET"
    cases = [
        (b"/Filter /ASCII85Decode ", a85(content)),
        (b"/Filter /ASCIIHexDecode ", content.hex().encode() + b">"),
        (b"/Filter /RunLengthDecode ", rle(content)),
        (b"/Filter /LZWDecode ", lzw(content)),
        (b"/Filter [/ASCII85Decode /FlateDecode] ",
         a85(zlib.compress(content))),
    ]
    for filt, data in cases:
        doc = one_page(content, filt=filt, encode=lambda _: data)
        _, _, text = P.extract_pdf_text(doc)
        assert text == "filter chain works", filt


def test_flate_png_predictor_roundtrip():
    # predictor 12 (Up rows): pre-filter the content, decoder must undo
    content = b"BT (predicted) Tj ET" + b" " * 12  # two 16-byte rows
    cols = 16
    rows = [content[i:i + cols] for i in range(0, len(content), cols)]
    filtered = bytearray()
    prev = bytes(cols)
    for row in rows:
        filtered.append(2)  # Up
        filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    data = zlib.compress(bytes(filtered))
    doc = one_page(
        content, filt=b"/Filter /FlateDecode /DecodeParms "
        b"<< /Predictor 12 /Columns 16 >> ",
        encode=lambda _: data)
    _, _, text = P.extract_pdf_text(doc)
    assert text == "predicted"


def test_object_stream_pages_resolve():
    inner = (b"3 0 << /Type /Page /Parent 2 0 R /Resources << >> "
             b"/Contents 4 0 R >>")
    # ObjStm header: "objnum offset" pairs; one member object
    member = b"<< /Type /Page /Parent 2 0 R /Resources << >> " \
             b"/Contents 4 0 R >>"
    header = b"3 0 "
    stm = zlib.compress(header + member)
    del inner
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (4, stream_obj(b"", b"BT (from objstm) Tj ET")),
        (5, stream_obj(
            b"/Type /ObjStm /N 1 /First %d /Filter /FlateDecode "
            % len(header), stm)),
    ])
    _, n, text = P.extract_pdf_text(doc)
    assert (n, text) == (1, "from objstm")


def test_tounicode_bfchar_and_bfrange():
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"2 beginbfchar <0041> <0394> <0042> <00E90073>"
            b" endbfchar\n"
            b"1 beginbfrange <0050> <0052> <0061> endbfrange\n"
            b"endcmap end")
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        (4, stream_obj(
            b"", b"BT /F1 10 Tf <00410042> Tj <005000510052> Tj ET")),
        (5, b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>"),
        (6, stream_obj(b"", cmap)),
    ])
    _, _, text = P.extract_pdf_text(doc)
    # 0041→Δ, 0042→és, 0050..0052→abc (bfrange increments last char)
    assert text == "Δésabc"


def test_inline_image_skipped():
    binary = bytes(range(256)) + b" EI trap "  # 'EI' inside data? no —
    # the trap 'EI' IS whitespace-bounded, so keep the real payload clean
    binary = bytes(b % 251 + 1 for b in range(64))
    doc = one_page(
        b"BT (before) Tj ET "
        b"BI /W 8 /H 8 /BPC 8 /CS /G ID " + binary + b" EI\n"
        b"BT (after) Tj ET"
    )
    _, _, text = P.extract_pdf_text(doc)
    assert text == "before\nafter"


def test_form_xobject_text_included():
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /XObject << /Fm1 5 0 R >> >> /Contents 4 0 R >>"),
        (4, stream_obj(b"", b"BT (page ) Tj ET /Fm1 Do")),
        (5, stream_obj(b"/Type /XObject /Subtype /Form ",
                       b"BT (and form) Tj ET")),
    ])
    _, _, text = P.extract_pdf_text(doc)
    assert text == "page\nand form"


def test_q_state_restores_font():
    cmap = (b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfchar <41> <0058> endbfchar")  # 'A' → 'X'
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources << /Font "
            b"<< /F1 5 0 R /F2 7 0 R >> >> /Contents 4 0 R >>"),
        (4, stream_obj(
            b"", b"BT /F1 9 Tf (A) Tj q /F2 9 Tf (A) Tj Q (A) Tj ET")),
        (5, b"<< /Type /Font /Subtype /Type1 >>"),
        (7, b"<< /Type /Font /Subtype /Type1 /ToUnicode 8 0 R >>"),
        (8, stream_obj(b"", cmap)),
    ])
    _, _, text = P.extract_pdf_text(doc)
    assert text == "AXA"


def test_incremental_update_last_definition_wins():
    base = one_page(b"BT (old text) Tj ET")
    update = (b"4 0 obj\n"
              + stream_obj(b"", b"BT (new text) Tj ET")
              + b"\nendobj\n")
    _, _, text = P.extract_pdf_text(base + update)
    assert text == "new text"


# ---------------------------------------------------------------------------
# probe
# ---------------------------------------------------------------------------

def test_probe_counts():
    doc = one_page(b"BT (x) Tj ET")
    meta = P.probe_pdf(doc)
    assert meta == {"version": "1.4", "n_objects": 5, "n_pages": 1,
                    "encrypted": False, "title": None, "author": None,
                    "producer": None}


def test_probe_info_dict_provenance():
    """Trailer /Info: Title/Author/Producer with both text encodings
    (UTF-16BE BOM and PDFDocEncoding/Latin-1)."""
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources << >> "
            b"/Contents 4 0 R >>"),
        (4, stream_obj(b"", b"BT (x) Tj ET")),
        (9, b"<< /Title <FEFF04220435043A04410422> /Author (Ana\\351) "
            b"/Producer (TestWriter 1.0) >>"),
    ], trailer_extra=b"/Info 9 0 R ")
    meta = P.probe_pdf(doc)
    want_title = b"\x04\x22\x04\x35\x04\x3a\x04\x41\x04\x22" \
        .decode("utf-16-be")
    assert meta["title"] == want_title
    assert meta["author"] == "Anaé"
    assert meta["producer"] == "TestWriter 1.0"


def test_probe_detects_encryption_without_decrypting():
    doc = one_page(b"BT (x) Tj ET")
    doc = doc.replace(b"/Root 1 0 R ", b"/Root 1 0 R /Encrypt 9 0 R ")
    assert P.probe_pdf(doc)["encrypted"] is True


# ---------------------------------------------------------------------------
# refusal contract
# ---------------------------------------------------------------------------

def test_encrypted_refuses_unsupported():
    doc = one_page(b"BT (x) Tj ET")
    doc = doc.replace(b"/Root 1 0 R ", b"/Root 1 0 R /Encrypt 9 0 R ")
    with pytest.raises(NotImplementedError, match="encrypted"):
        P.extract_pdf_text(doc)


def test_dctdecode_content_refuses_unsupported():
    doc = one_page(b"not really jpeg", filt=b"/Filter /DCTDecode ")
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        P.extract_pdf_text(doc)


def test_type0_without_tounicode_refuses():
    doc = one_page(
        b"BT /F1 10 Tf <0041> Tj ET",
        font_body=b"<< /Type /Font /Subtype /Type0 /BaseFont /X >>")
    with pytest.raises(NotImplementedError, match="Type0"):
        P.extract_pdf_text(doc)


def test_inflate_budget_bounds_bombs(monkeypatch):
    bomb = zlib.compress(b"(A) Tj " * 200_000)
    doc = one_page(b"", filt=b"/Filter /FlateDecode ",
                   encode=lambda _: bomb)
    with monkeypatch.context() as m:
        m.setattr(P, "DECODE_BYTE_BUDGET", 10_000)
        with pytest.raises(NotImplementedError, match="inflate budget"):
            P.extract_pdf_text(doc)
    # and under the module budgets it really decodes
    _, _, text = P.extract_pdf_text(doc)
    assert text == "A" * 200_000


def test_text_budget_bounds_output(monkeypatch):
    doc = one_page(b"BT " + b"(spam) Tj " * 1000 + b"ET")
    monkeypatch.setattr(P, "PDF_TEXT_BUDGET", 100)
    with pytest.raises(NotImplementedError, match="text budget"):
        P.extract_pdf_text(doc)


def test_corrupt_inputs_raise_valueerror():
    cases = [
        b"",                                  # empty
        b"%PDF-1.4\nno objects here",         # no objects
        one_page(b"BT (x) Tj ET")[:40],       # truncated mid-object
        one_page(b"BT (unterminated string"),  # bad content handled below
    ]
    for payload in cases[:3]:
        with pytest.raises(ValueError):
            P.extract_pdf_text(payload)
    with pytest.raises(ValueError, match="unterminated"):
        P.extract_pdf_text(cases[3])


def test_reference_cycle_refuses():
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"2 0 R"),  # self-reference
    ])
    with pytest.raises(ValueError, match="cycle|dict"):
        P.extract_pdf_text(doc)


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

def test_pdf_text_quarantine_rows(spark):
    good = one_page(b"BT (ok doc) Tj ET")
    enc = good.replace(b"/Root 1 0 R ", b"/Root 1 0 R /Encrypt 9 0 R ")
    rows = [(1, bytearray(good)), (2, bytearray(enc)),
            (3, bytearray(b"%PDF-1.4 nothing"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in
           P.pdf_text(df).collect()}
    assert out[1]["text"] == "ok doc" and out[1]["error"] is None
    assert out[2]["error_kind"] == "unsupported"
    assert out[3]["error_kind"] == "corrupt"
    meta = {r["doc_id"]: r for r in
            P.pdf_meta(df).collect()}
    assert meta[1]["n_pages"] == 1 and meta[1]["encrypted"] is False
    assert meta[2]["encrypted"] is True  # probe succeeds, no decrypt
    assert meta[3]["error_kind"] == "corrupt"


def test_pdf_to_documents_composition(spark):
    """Two-page PDF text joins its pages on a form feed, a broken payload
    quarantines instead of failing the batch, and the extracted text
    feeds curate_corpus."""
    from youtube_api_data_etl_automation_spark.corpus import curate_corpus

    c1 = zlib.compress(b"BT (The quick brown fox jumps over the lazy "
                       b"dog today) Tj ET")
    c2 = zlib.compress(b"BT (Second page keeps plenty of words for the "
                       b"funnel) Tj ET")
    doc = mkpdf([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources << >> "
            b"/Contents 4 0 R >>"),
        (4, stream_obj(b"/Filter /FlateDecode ", c1)),
        (5, b"<< /Type /Page /Parent 2 0 R /Resources << >> "
            b"/Contents 6 0 R >>"),
        (6, stream_obj(b"/Filter /FlateDecode ", c2)),
    ])
    df = spark.createDataFrame(
        [(7, bytearray(doc)), (8, bytearray(b"broken"))],
        "doc_id long, payload binary")
    extracted = P.pdf_text(df)
    rows = {r["doc_id"]: r for r in extracted.collect()}
    assert rows[7]["text"].split("\f") == [
        "The quick brown fox jumps over the lazy dog today",
        "Second page keeps plenty of words for the funnel",
    ]
    assert rows[8]["error"] is not None and rows[8]["text"] is None
    docs = extracted.filter(F.col("error").isNull()).select("doc_id", "text")
    result = curate_corpus(docs, min_tokens=5, max_tokens=1000,
                           quality_min=0.0)
    assert result["documents"].count() == 1


def test_pdf_text_junk_payload_is_a_corrupt_row(spark):
    df = spark.createDataFrame([(1, bytearray(b"junk"))],
                               "doc_id long, payload binary")
    (row,) = P.pdf_text(df).collect()
    assert row["error_kind"] == "corrupt"
    assert row["error"] == "malformed PDF: missing %PDF- header"
    assert row["format"] is None and row["text"] is None


# ---------------------------------------------------------------------------
# fuzz — quarantine never crashes, errors route to the two kinds
# ---------------------------------------------------------------------------

def test_fuzz_mutations_always_quarantine(monkeypatch):
    monkeypatch.setattr(P, "DECODE_BYTE_BUDGET", 1 << 16)
    monkeypatch.setattr(P, "PDF_TEXT_BUDGET", 1 << 16)
    base = one_page(b"BT /F1 12 Tf (fuzz me) Tj [(a) -300 (b)] TJ ET")
    rng = random.Random(0xBDF)
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        DECODE_ERRORS,
    )
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            P.extract_pdf_text(bytes(buf))
        except DECODE_ERRORS:
            pass  # any member class is a valid quarantine row
    for _ in range(100):
        n = rng.randrange(0, 64)
        junk = bytes(rng.randrange(256) for _ in range(n))
        try:
            P.probe_pdf(b"%PDF-" + junk)
        except DECODE_ERRORS:
            pass
