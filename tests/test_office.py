"""pptx_text / xlsx_text (operators/archives.py, r14 — VERDICT r13
item 4): OOXML presentation and spreadsheet text extraction through
the same zip machinery, budgets, and quarantine contract as docx."""

from __future__ import annotations

import io
import zipfile

import pytest

from youtube_api_data_etl_automation_spark.operators import archives

from tests.test_archives import _blob_df, _declaring, _zip


def _ooxml_zip(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, body in members.items():
            zi = zipfile.ZipInfo(name, date_time=(2024, 1, 2, 3, 4, 6))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, body)
        zf.writestr(zipfile.ZipInfo("[Content_Types].xml",
                                    date_time=(2024, 1, 2, 3, 4, 6)),
                    b"<Types/>")
    return buf.getvalue()


def _pptx(slides: list[bytes]) -> bytes:
    return _ooxml_zip({
        f"ppt/slides/slide{i + 1}.xml":
            b'<?xml version="1.0"?><p:sld><p:cSld>' + body
            + b"</p:cSld></p:sld>"
        for i, body in enumerate(slides)
    })


def _xlsx(sheets: list[bytes], shared: list[bytes] | None = None
          ) -> bytes:
    members = {
        f"xl/worksheets/sheet{i + 1}.xml":
            b'<?xml version="1.0"?><worksheet><sheetData>' + body
            + b"</sheetData></worksheet>"
        for i, body in enumerate(sheets)
    }
    members["xl/workbook.xml"] = b"<workbook/>"
    if shared is not None:
        members["xl/sharedStrings.xml"] = (
            b"<sst>" + b"".join(b"<si>" + s + b"</si>" for s in shared)
            + b"</sst>")
    return _ooxml_zip(members)


LEGACY_OLE2 = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64


def test_pptx_text_extraction(spark):
    slides = [
        (b"<p:sp><a:p><a:r><a:t>Title &amp; more</a:t></a:r></a:p>"
         b'<a:p><a:r><a:t xml:space="preserve">line</a:t><a:br/>'
         b"<a:t>break</a:t></a:r></a:p></p:sp>"),
        b"<p:sp><a:p><a:r><a:t>Second slide</a:t></a:r></a:p></p:sp>",
    ]
    rows = {r["doc_id"]: r for r in archives.pptx_text(_blob_df(spark, [
        (1, _pptx(slides)),
        (2, LEGACY_OLE2),
        (3, _zip()),           # a zip but not a pptx
        (4, b"not even zip"),
    ])).collect()}
    p = rows[1]
    assert p["format"] == "pptx" and p["error"] is None
    assert p["n_slides"] == 2 and p["n_paragraphs"] == 3
    assert p["text"] == "Title & more\nline\nbreak\fSecond slide"
    assert p["n_chars"] == len(p["text"])
    assert rows[2]["error_kind"] == "unsupported"
    assert "OLE2" in rows[2]["error"]
    assert rows[3]["error_kind"] == "corrupt"
    assert rows[4]["error_kind"] == "corrupt"


def test_pptx_slide_numeric_order():
    """slide10 sorts after slide2 (numeric part order, not lexical)."""
    raw = _ooxml_zip({
        "ppt/slides/slide10.xml": b"<a:p><a:r><a:t>ten</a:t></a:r></a:p>",
        "ppt/slides/slide2.xml": b"<a:p><a:r><a:t>two</a:t></a:r></a:p>",
    })
    n_slides, n_paras, text = archives._pptx_extract_text(raw)
    assert (n_slides, n_paras) == (2, 2)
    assert text == "two\ften"


def test_xlsx_text_extraction(spark):
    shared = [b"<t>alpha</t>",
              b"<t>rich </t><t>text</t>",     # runs concatenate
              b"<t>a &amp; b</t>"]
    sheets = [
        (b'<row r="1"><c r="A1" t="s"><v>0</v></c>'
         b'<c r="B1"><v>42</v></c>'
         b'<c r="C1" t="b"><v>1</v></c></row>'
         b'<row r="2"><c r="A2" t="s"><v>1</v></c>'
         b'<c r="B2" t="inlineStr"><is><t>inline</t></is></c>'
         b'<c r="C2"/></row>'),                # C2 empty, skipped
        (b'<row r="1"><c r="A1" t="s"><v>2</v></c>'
         b'<c r="B1" t="str"><v>SUM=7</v></c>'
         b'<c r="C1" t="e"><v>#DIV/0!</v></c></row>'),
    ]
    rows = {r["doc_id"]: r for r in archives.xlsx_text(_blob_df(spark, [
        (1, _xlsx(sheets, shared)),
        (2, LEGACY_OLE2),
        (3, _zip()),
        (4, b"junk"),
    ])).collect()}
    x = rows[1]
    assert x["format"] == "xlsx" and x["error"] is None
    assert x["n_sheets"] == 2 and x["n_cells"] == 8
    assert x["text"] == ("alpha\t42\tTRUE\nrich text\tinline"
                         "\fa & b\tSUM=7\t#DIV/0!")
    assert x["n_chars"] == len(x["text"])
    assert rows[2]["error_kind"] == "unsupported"
    assert "OLE2" in rows[2]["error"]
    assert rows[3]["error_kind"] == "corrupt"
    assert rows[4]["error_kind"] == "corrupt"


def test_xlsx_no_shared_strings_and_bad_index():
    """A workbook without sharedStrings.xml works for numeric cells;
    an out-of-range shared index is malformed, not a crash."""
    raw = _xlsx([b'<row><c><v>3.5</v></c></row>'])
    assert archives._xlsx_extract_text(raw) == (1, 1, "3.5")
    bad = _xlsx([b'<row><c t="s"><v>9</v></c></row>'], shared=[])
    with pytest.raises(ValueError, match="out of range"):
        archives._xlsx_extract_text(bad)


def test_office_budget_refuses_before_inflation(spark):
    over = archives.DECODE_BYTE_BUDGET + 1
    big = _declaring(_pptx([b"<a:p><a:r><a:t>y</a:t></a:r></a:p>"]), over)
    row = archives.pptx_text(_blob_df(spark, [(1, big)])).collect()[0]
    assert row["error_kind"] == "unsupported"
    assert "budget" in row["error"]
    bigx = _declaring(_xlsx([b"<row><c><v>9</v></c></row>"]), over)
    rowx = archives.xlsx_text(_blob_df(spark, [(1, bigx)])).collect()[0]
    assert rowx["error_kind"] == "unsupported"


def test_office_to_documents_kinds(spark):
    pp = _pptx([b"<a:p><a:r><a:t>Deck text body here</a:t></a:r></a:p>"])
    xl = _xlsx([b'<row><c t="inlineStr"><is><t>cell text</t></is></c>'
                b"</row>"])
    got_p = {r["doc_id"]: r for r in archives.pptx_text(
        _blob_df(spark, [(21, pp), (22, b"junk")])
    ).collect()}
    assert got_p[21]["text"] == "Deck text body here"
    assert got_p[22]["error"] is not None and got_p[22]["text"] is None
    got_x = archives.xlsx_text(
        _blob_df(spark, [(31, xl)])).collect()
    assert got_x[0]["error"] is None
    assert got_x[0]["text"] == "cell text"


def test_xlsx_negative_shared_index_is_malformed():
    """r14 review fix: a negative shared-string index must raise (not
    silently wrap to the END of the pool via Python indexing)."""
    bad = _xlsx([b'<row><c t="s"><v>-1</v></c></row>'],
                shared=[b"<t>only</t>"])
    with pytest.raises(ValueError, match="out of range"):
        archives._xlsx_extract_text(bad)


def _odf(content_body: bytes, mimetype: bytes | None =
         b"application/vnd.oasis.opendocument.text") -> bytes:
    members = {
        "content.xml":
            b'<?xml version="1.0"?><office:document-content>'
            b"<office:body>" + content_body
            + b"</office:body></office:document-content>",
    }
    if mimetype is not None:
        members["mimetype"] = mimetype
    return _ooxml_zip(members)


def test_odf_text_extraction(spark):
    body = (b'<office:text><text:h text:outline-level="1">Head '
            b"&amp; tail</text:h>"
            b"<text:p>a<text:tab/>b<text:line-break/>c"
            b'<text:s text:c="3"/>d</text:p>'
            b"<text:p><text:span text:style-name=\"T1\">span"
            b"</text:span>ned</text:p></office:text>")
    ods_body = (b"<office:spreadsheet><table:table><table:table-row>"
                b"<table:table-cell><text:p>cell one</text:p>"
                b"</table:table-cell><table:table-cell>"
                b"<text:p>cell two</text:p></table:table-cell>"
                b"</table:table-row></table:table></office:spreadsheet>")
    rows = {r["doc_id"]: r for r in archives.odf_text(_blob_df(spark, [
        (1, _odf(body)),
        (2, _odf(ods_body,
                 b"application/vnd.oasis.opendocument.spreadsheet")),
        (3, _odf(body, mimetype=None)),   # no mimetype member
        (4, LEGACY_OLE2),
        (5, _zip()),                       # zip without content.xml
        (6, b"nope"),
    ])).collect()}
    d = rows[1]
    assert d["format"] == "odt" and d["error"] is None
    assert d["n_paragraphs"] == 3
    assert d["text"] == "Head & tail\na\tb\nc   d\nspanned"
    assert d["n_chars"] == len(d["text"])
    assert rows[2]["format"] == "ods"
    assert rows[2]["text"] == "cell one\ncell two"
    assert rows[3]["format"] == "odf"     # kind falls back
    assert rows[4]["error_kind"] == "unsupported"
    assert rows[5]["error_kind"] == "corrupt"
    assert rows[6]["error_kind"] == "corrupt"


def test_odf_budget_and_documents_bridge(spark):
    big = _declaring(_odf(b"<text:p>z</text:p>"),
                     archives.DECODE_BYTE_BUDGET + 1)
    row = archives.odf_text(_blob_df(spark, [(1, big)])).collect()[0]
    assert row["error_kind"] == "unsupported"
    assert "budget" in row["error"]
    ok = _odf(b"<text:p>OpenDocument body text</text:p>")
    got = archives.odf_text(
        _blob_df(spark, [(41, ok)])).collect()
    assert got[0]["error"] is None
    assert got[0]["text"] == "OpenDocument body text"


def _epub(chapters: list[bytes], *, spine_extra: bytes = b"",
          manifest_extra: bytes = b"") -> bytes:
    items = b"".join(
        b'<item id="c%d" href="ch%d.xhtml" '
        b'media-type="application/xhtml+xml"/>' % (i, i)
        for i in range(len(chapters)))
    spine = b"".join(b'<itemref idref="c%d"/>' % i
                     for i in range(len(chapters)))
    opf = (b'<?xml version="1.0"?><package><manifest>' + items
           + manifest_extra + b"</manifest><spine>" + spine
           + spine_extra + b"</spine></package>")
    members = {
        "META-INF/container.xml":
            b'<?xml version="1.0"?><container><rootfiles><rootfile '
            b'full-path="OEBPS/content.opf" media-type='
            b'"application/oebps-package+xml"/></rootfiles></container>',
        "OEBPS/content.opf": opf,
    }
    for i, body in enumerate(chapters):
        members[f"OEBPS/ch{i}.xhtml"] = (
            b"<html><head><title>t</title><style>p{}</style></head>"
            b"<body>" + body + b"</body></html>")
    return _ooxml_zip(members)


def test_epub_text_extraction(spark):
    chapters = [
        (b"<h1>Chapter  One</h1><p>First para &amp; more.</p>"
         b"<p>Second<br/>line</p>"
         b"<script>var x = '<p>not text</p>';</script>"
         b"<!-- a comment with <p>tags</p> -->"),
        b"<p>Num ref: &#65;&#x42; and&nbsp;space</p>",
    ]
    rows = {r["doc_id"]: r for r in archives.epub_text(_blob_df(spark, [
        (1, _epub(chapters)),
        (2, LEGACY_OLE2),
        (3, _zip()),            # zip without container.xml
        (4, b"nope"),
    ])).collect()}
    e = rows[1]
    assert e["format"] == "epub" and e["error"] is None
    assert e["n_chapters"] == 2
    # the whole <head> (title/meta) strips as chrome, block closes
    # become newlines, script/comment content never leaks,
    # whitespace collapses
    assert e["text"] == ("Chapter One\nFirst para & more.\n"
                         "Second\nline\fNum ref: AB and space")
    assert e["n_chars"] == len(e["text"])
    assert rows[2]["error_kind"] == "unsupported"
    assert rows[3]["error_kind"] == "corrupt"
    assert rows[4]["error_kind"] == "corrupt"


def test_epub_structure_errors_and_bridge(spark):
    # spine idref pointing at a missing member is malformed
    broken = _epub([b"<p>x</p>"],
                   spine_extra=b'<itemref idref="gone"/>',
                   manifest_extra=b'<item id="gone" href="no.xhtml" '
                   b'media-type="application/xhtml+xml"/>')
    with pytest.raises(ValueError, match="spine chapter"):
        archives._epub_extract_text(broken)
    # non-xhtml spine entries (covers, images) skip silently
    ok = _epub([b"<p>body</p>"],
               spine_extra=b'<itemref idref="img"/>',
               manifest_extra=b'<item id="img" href="cover.png" '
               b'media-type="image/png"/>')
    assert archives._epub_extract_text(ok) == (1, "body")
    got = archives.epub_text(
        _blob_df(spark, [(51, _epub([b"<p>ebook body text</p>"]))])).collect()
    assert got[0]["error"] is None
    assert got[0]["text"] == "ebook body text"


def test_odf_second_review_fixes(monkeypatch):
    """r14 review fixes: nested text:p keeps the outer tail, text:s
    run-length bombs refuse before allocation, surrogate numeric refs
    in epub/eml bodies become U+FFFD."""
    nested = _odf(
        b"<office:text><text:p>A <draw:frame><text:p>inner</text:p>"
        b"</draw:frame> B tail</text:p></office:text>")
    kind, n_paras, text = archives._odf_extract_text(nested)
    assert text == "A inner\nB tail"
    bomb = _odf(b'<office:text><text:p>x<text:s text:c="200000000"/>'
                b"y</text:p></office:text>")
    with pytest.raises(ValueError, match="run-length"):
        archives._odf_extract_text(bomb)
    many = _odf(b"<office:text><text:p>"
                + b'<text:s text:c="60000"/>' * 40
                + b"</text:p></office:text>")
    with monkeypatch.context() as m:
        m.setattr(archives, "DECODE_BYTE_BUDGET", 100_000)
        with pytest.raises(NotImplementedError, match="cumulative"):
            archives._odf_extract_text(many)
    # surrogate numeric ref -> U+FFFD, encodable
    assert archives._html_unescape("&#55296;ok") == "�ok"
    assert archives._html_unescape("&#xD800;ok") == "�ok"


def test_epub_single_quoted_attributes():
    """r14 review fix: single-quoted XML attributes are valid and
    must parse."""
    members = {
        "META-INF/container.xml":
            b"<container><rootfiles><rootfile full-path='c.opf'/>"
            b"</rootfiles></container>",
        "c.opf":
            b"<package><manifest><item id='a' href='ch.xhtml' "
            b"media-type='application/xhtml+xml'/></manifest>"
            b"<spine><itemref idref='a'/></spine></package>",
        "ch.xhtml": b"<html><body><p>quoted body</p></body></html>",
    }
    raw = _ooxml_zip(members)
    assert archives._epub_extract_text(raw) == (1, "quoted body")
