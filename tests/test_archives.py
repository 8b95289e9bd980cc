"""Archive/WARC operator tests (operators/archives.py): stdlib-built
gzip/zip/tar fixtures and hand-rolled WARC records."""

from __future__ import annotations

import gzip
import io
import struct
import tarfile
import zipfile
import zlib

import pytest

from youtube_api_data_etl_automation_spark.operators import archives


def _warc_record(wtype, content, uri=None, extra=()):
    head = [b"WARC/1.0",
            b"WARC-Type: " + wtype.encode(),
            b"WARC-Record-ID: <urn:uuid:0000>",
            b"WARC-Date: 2024-01-02T03:04:05Z"]
    if uri:
        head.append(b"WARC-Target-URI: " + uri.encode())
    head.extend(extra)
    head.append(b"Content-Length: " + str(len(content)).encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + content + b"\r\n\r\n"


def _http_response(body, status=200, ctype="text/html; charset=utf-8"):
    return (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body


def _warc(per_record_gzip=False):
    info = _warc_record("warcinfo", b"software: test\r\n")
    req = _warc_record(
        "request", b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n",
        uri="https://example.com/",
        extra=(b"Content-Type: application/http;msgtype=request",))
    body = "<html>hello wörld</html>".encode()
    resp = _warc_record(
        "response", _http_response(body),
        uri="https://example.com/",
        extra=(b"Content-Type: application/http;msgtype=response",))
    records = [info, req, resp]
    if per_record_gzip:
        return b"".join(gzip.compress(r, mtime=0) for r in records), body
    return b"".join(records), body


def _zip(members=(("a.txt", b"alpha"), ("dir/b.bin", b"\x00" * 100))):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            # pinned timestamp: ZipInfo defaults to wall-clock now,
            # which breaks byte-deterministic fixture regeneration
            zi = zipfile.ZipInfo(name, date_time=(2024, 1, 2, 3, 4, 6))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
    return buf.getvalue()


def _tar(members=(("x.txt", b"xx"), ("y.txt", b"y" * 600))):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) \
            as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def _declaring(zip_payload: bytes, size: int) -> bytes:
    """``zip_payload`` with its first central-directory entry forged to
    declare ``size`` uncompressed bytes: a header-only zip bomb."""
    eocd = zip_payload.rfind(b"PK\x05\x06")
    (cd_off,) = struct.unpack_from("<I", zip_payload, eocd + 16)
    out = bytearray(zip_payload)
    struct.pack_into("<I", out, cd_off + 24, size)
    return bytes(out)


def _gzip_bomb() -> bytes:
    """A ~64 KB gzip member that inflates to 65 MiB of zeros, one MiB
    past the decompressed-byte budget."""
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    zeros = bytes(1 << 20)
    return b"".join(c.compress(zeros) for _ in range(65)) + c.flush()


def _blob_df(spark, rows):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows],
        "doc_id long, payload binary")


def _warc_documents(blobs):
    """Crawl responses as (doc_id, text, source) document rows: markup
    stripped off each response body, the target URI as the source."""
    from pyspark.sql import functions as F

    from youtube_api_data_etl_automation_spark.functions.markup import (
        strip_markup,
    )

    return (
        archives.warc_records(blobs)
        .filter((F.col("warc_type") == "response")
                & F.col("body_text").isNotNull())
        .select(
            F.xxhash64("doc_id", "record_idx").alias("doc_id"),
            strip_markup(F.col("body_text")).alias("text"),
            F.col("target_uri").alias("source"),
        )
    )


def test_archive_meta_probe(spark):
    gz = gzip.compress(b"hello " * 100, mtime=123)
    # add an FNAME member for the detail field
    named = io.BytesIO()
    with gzip.GzipFile(filename="doc.txt", fileobj=named, mode="wb",
                       mtime=7) as f:
        f.write(b"content")
    warc_plain, _ = _warc()
    warc_gz, _ = _warc(per_record_gzip=True)
    rows = [(1, gz), (2, named.getvalue()), (3, _zip()), (4, _tar()),
            (5, warc_plain), (6, warc_gz), (7, b"RAR!junk"), (8, b"")]
    out = {r["doc_id"]: r for r in archives.archive_meta(
        _blob_df(spark, rows)).collect()}
    assert out[1]["format"] == "gzip"
    assert out[1]["uncompressed_hint"] == 600
    assert "mtime=123" in out[1]["detail"]
    assert "name=doc.txt" in out[2]["detail"]
    z = out[3]
    assert (z["format"], z["n_members"]) == ("zip", 2)
    assert z["uncompressed_hint"] == 105
    assert "a.txt" in z["detail"]
    t = out[4]
    assert (t["format"], t["n_members"]) == ("tar", 2)
    assert t["uncompressed_hint"] == 602
    for d in (5, 6):
        w = out[d]
        assert (w["format"], w["n_members"]) == ("warc", 3)
        assert w["detail"] == "warcinfo"
    assert out[7]["error_kind"] == "unsupported"
    assert out[8]["error_kind"] == "corrupt"


def test_warc_records_plain_and_gzip(spark):
    for per_gz in (False, True):
        payload, body = _warc(per_record_gzip=per_gz)
        rows = archives.warc_records(
            _blob_df(spark, [(1, payload)])).collect()
        assert [r["warc_type"] for r in rows] == \
            ["warcinfo", "request", "response"]
        resp = rows[2]
        assert resp["record_idx"] == 2
        assert resp["target_uri"] == "https://example.com/"
        assert resp["warc_date"] == "2024-01-02T03:04:05Z"
        assert resp["http_status"] == 200
        assert resp["http_content_type"] == "text/html; charset=utf-8"
        assert bytes(resp["body"]) == body
        assert rows[0]["http_status"] is None
        assert bytes(rows[0]["body"]) == b"software: test\r\n"


def test_warc_refusals(spark):
    payload, _ = _warc()
    rows = [(1, payload[:-60]),        # truncated record body
            (2, b"NOT A WARC"),
            (3, gzip.compress(payload)[:20])]  # truncated gzip
    out = {r["doc_id"]: r for r in archives.warc_records(
        _blob_df(spark, rows)).collect()}
    assert out[1]["error_kind"] == "corrupt"
    assert "truncated" in out[1]["error"]
    assert out[2]["error_kind"] == "corrupt"
    assert out[3]["error_kind"] == "corrupt"
    # decompressed-byte budget routes 'unsupported' pre-allocation
    assert 65 << 20 > archives.DECODE_BYTE_BUDGET
    big = archives.warc_records(
        _blob_df(spark, [(9, _gzip_bomb())])).collect()[0]
    assert big["error_kind"] == "unsupported"


def test_zip_members(spark):
    payload = _zip()
    rows = archives.archive_members(
        _blob_df(spark, [(1, payload)])).collect()
    assert [(r["name"], r["size"]) for r in rows] == \
        [("a.txt", 5), ("dir/b.bin", 100)]
    assert bytes(rows[0]["body"]) == b"alpha"
    assert bytes(rows[1]["body"]) == b"\x00" * 100
    # declared-size budget refuses BEFORE inflating anything
    forged = _declaring(payload, archives.DECODE_BYTE_BUDGET + 1)
    out = archives.archive_members(_blob_df(spark, [(1, forged)])).collect()[0]
    assert out["error_kind"] == "unsupported"
    out = archives.archive_members(
        _blob_df(spark, [(1, b"PK\x03\x04garbage")])).collect()[0]
    assert out["error_kind"] == "corrupt"


def test_zip_duplicate_member_names_keep_both_bodies(spark):
    """r12 (ADVICE): zf.read(name) resolves through NameToInfo (last
    entry wins), so duplicate member names would both yield the LAST
    member's bytes — reading by ZipInfo preserves each body."""
    payload = _zip(members=(("same.txt", b"first"), ("same.txt", b"second")))
    rows = archives.archive_members(
        _blob_df(spark, [(1, payload)])).collect()
    assert [bytes(r["body"]) for r in rows] == [b"first", b"second"]
    members = archives._iter_archive_members(payload)
    assert members == [("same.txt", b"first"), ("same.txt", b"second")]


def test_zip_eocd_with_comment_and_bounds():
    payload = _zip() + b""  # plain
    meta = archives._parse_zip_meta(payload)
    assert meta["n_members"] == 2
    # EOCD scan tolerates a trailing comment
    commented = bytearray(_zip())
    struct.pack_into("<H", commented, len(commented) - 2, 9)
    commented += b"a comment"
    assert archives._parse_zip_meta(bytes(commented))["n_members"] == 2
    with pytest.raises(ValueError, match="central directory"):
        archives._parse_zip_meta(_zip()[len(_zip()) // 2 :])


def test_warc_body_text_and_malformed_bytes(spark):
    body = "ok é".encode() + b"\xff\xfe"  # trailing crawl garbage
    rec = _warc_record(
        "response", _http_response(body),
        uri="https://x.example/a",
        extra=(b"Content-Type: application/http;msgtype=response",))
    r = archives.warc_records(_blob_df(spark, [(1, rec)])).collect()[0]
    assert r["body_text"].startswith("ok é")
    assert "�" in r["body_text"]  # replacement, not a task kill
    # binary responses keep body bytes but no text
    img = _warc_record(
        "response", _http_response(b"\x89PNG...", ctype="image/png"),
        uri="https://x.example/i",
        extra=(b"Content-Type: application/http;msgtype=response",))
    r = archives.warc_records(_blob_df(spark, [(1, img)])).collect()[0]
    assert r["body_text"] is None and bytes(r["body"]) == b"\x89PNG..."


def test_warc_to_documents_composition(spark):
    """Mixed crawl records: the 200 text response carries its decoded
    body and URI, the 404 and the image keep the status / binary-body
    signals a caller filters on, a broken payload quarantines, and the
    response text feeds curate_corpus."""
    html = (b"<html><body><h1>Title</h1><p>This is the kind of page "
            b"that the crawler keeps: it has enough plain English "
            b"words for the language heuristic and the quality "
            b"scorer to pass it through the funnel.</p></body></html>")
    ok = _warc_record(
        "response", _http_response(html),
        uri="https://x.example/page",
        extra=(b"Content-Type: application/http;msgtype=response",))
    notfound = _warc_record(
        "response", _http_response(b"<html>gone</html>", status=404),
        uri="https://x.example/missing",
        extra=(b"Content-Type: application/http;msgtype=response",))
    png = _warc_record(
        "response", _http_response(b"\x89PNG", ctype="image/png"),
        uri="https://x.example/img",
        extra=(b"Content-Type: application/http;msgtype=response",))
    info = _warc_record("warcinfo", b"software: test\r\n")
    payload = info + ok + notfound + png
    rows = archives.warc_records(
        _blob_df(spark, [(7, payload), (8, b"broken")])).collect()
    by_uri = {r["target_uri"]: r for r in rows if r["doc_id"] == 7}
    assert [r["warc_type"] for r in rows if r["doc_id"] == 7] == \
        ["warcinfo", "response", "response", "response"]
    assert by_uri["https://x.example/page"]["http_status"] == 200
    assert "crawler keeps" in by_uri["https://x.example/page"]["body_text"]
    assert by_uri["https://x.example/missing"]["http_status"] == 404
    assert by_uri["https://x.example/img"]["body_text"] is None
    assert [r["error_kind"] for r in rows if r["doc_id"] == 8] == \
        ["corrupt"]
    # the 200 response's stripped text feeds curate_corpus directly
    from pyspark.sql import functions as F

    from youtube_api_data_etl_automation_spark.corpus import curate_corpus
    docs = _warc_documents(_blob_df(spark, [(7, payload)])).filter(
        F.col("source") == "https://x.example/page")
    d = docs.collect()[0]
    assert "crawler keeps" in d["text"] and "<p>" not in d["text"]
    out = curate_corpus(docs, min_tokens=1, max_tokens=100,
                        quality_min=0.0, audit=True)
    assert out["documents"].count() == 1


def test_wet_conversion_records_decode_text(spark):
    """WET-shaped files: 'conversion' records carry pre-extracted
    text/plain content with no HTTP envelope — warc_records must decode
    their text."""
    from youtube_api_data_etl_automation_spark.operators.archives import (
        warc_records,
    )

    conv = _warc_record(
        "conversion", "Extracted plain text wörds.".encode(),
        uri="https://x.example/page",
        extra=(b"Content-Type: text/plain",))
    info = _warc_record("warcinfo", b"software: wet-test\r\n")
    payload = info + conv
    recs = {r["warc_type"]: r for r in
            warc_records(_blob_df(spark, [(3, payload)])).collect()}
    assert recs["conversion"]["body_text"] == "Extracted plain text wörds."
    assert recs["conversion"]["http_status"] is None
    assert recs["conversion"]["target_uri"] == "https://x.example/page"


def test_archive_members_zip_tar_gzip(spark):
    """Uniform member extraction across the three container formats,
    incl. .tar.gz; unknown magic refuses 'unsupported'."""
    import gzip as gz
    import io

    from youtube_api_data_etl_automation_spark.operators.archives import (
        archive_members,
    )

    tarball = _tar(members=(("a/x.bin", b"\x01\x02\x03"),
                            ("y.txt", b"hello tar")))
    targz = gz.compress(tarball, mtime=0)
    named = io.BytesIO()
    with gz.GzipFile(filename="doc.txt", fileobj=named, mode="wb",
                     mtime=3) as f:
        f.write(b"gzip body")
    rows = archive_members(_blob_df(spark, [
        (1, _zip()), (2, tarball), (3, targz),
        (4, named.getvalue()), (5, b"RAR!nope"),
    ])).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    assert [(r["name"], bytes(r["body"])) for r in sorted(
        by[1], key=lambda r: r["member_idx"])] == [
        ("a.txt", b"alpha"), ("dir/b.bin", b"\x00" * 100)]
    for d in (2, 3):
        assert [(r["name"], bytes(r["body"])) for r in sorted(
            by[d], key=lambda r: r["member_idx"])] == [
            ("a/x.bin", b"\x01\x02\x03"), ("y.txt", b"hello tar")]
    assert by[4][0]["name"] == "doc.txt"
    assert bytes(by[4][0]["body"]) == b"gzip body"
    assert by[5][0]["error_kind"] == "unsupported"


def test_archive_members_budget_refuses_from_headers(spark):
    from youtube_api_data_etl_automation_spark.operators.archives import (
        archive_members,
    )

    # a header that declares one byte past the budget, no data behind it
    ti = tarfile.TarInfo("big.bin")
    ti.size = archives.DECODE_BYTE_BUDGET + 1
    big = ti.tobuf(tarfile.USTAR_FORMAT) + bytes(1024)
    rows = archive_members(_blob_df(spark, [(1, big)])).collect()
    assert rows[0]["error_kind"] == "unsupported"
    assert "budget" in rows[0]["error"]


def test_archive_to_decoders_composition(spark):
    """The crawl-dump loop: a tarball carrying a PNG and a PDF →
    archive_members → members_as_payloads → triage / pdf_text, with
    member names riding as provenance."""
    from tests.test_operators import _png
    from tests.test_pdf import one_page

    from youtube_api_data_etl_automation_spark.operators.archives import (
        archive_members,
        members_as_payloads,
    )
    from youtube_api_data_etl_automation_spark.operators.mediameta import (
        triage_decode_images,
    )
    from youtube_api_data_etl_automation_spark.operators.pdf import pdf_text

    png = _png([[(x * 9 % 256, y * 31 % 256, 7) for x in range(6)]
                for y in range(4)])
    pdf = one_page(b"BT (doc inside a tarball) Tj ET")
    tarball = _tar(members=(("img/pic.png", png), ("docs/a.pdf", pdf)))
    payloads = members_as_payloads(
        archive_members(_blob_df(spark, [(9, tarball)])))
    rows = {r["source"]: r for r in payloads.collect()}
    assert set(rows) == {"img/pic.png", "docs/a.pdf"}
    img_rows = triage_decode_images(
        payloads.filter("source = 'img/pic.png'")).collect()
    assert len(img_rows) == 1 and img_rows[0]["width"] == 6
    txt_rows = pdf_text(
        payloads.filter("source = 'docs/a.pdf'")).collect()
    assert txt_rows[0]["text"] == "doc inside a tarball"
    assert txt_rows[0]["source"] == "docs/a.pdf"  # passthrough
    # stable ids across re-ingestion
    again = {r["source"]: r["doc_id"] for r in members_as_payloads(
        archive_members(_blob_df(spark, [(9, tarball)]))).collect()}
    assert again == {s: r["doc_id"] for s, r in rows.items()}


def _docx(xml_body: bytes) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zi = zipfile.ZipInfo("word/document.xml",
                             date_time=(2024, 1, 2, 3, 4, 6))
        zi.compress_type = zipfile.ZIP_DEFLATED
        zf.writestr(zi, b'<?xml version="1.0"?><w:document>'
                    b"<w:body>" + xml_body + b"</w:body></w:document>")
        zi2 = zipfile.ZipInfo("[Content_Types].xml",
                              date_time=(2024, 1, 2, 3, 4, 6))
        zf.writestr(zi2, b"<Types/>")
    return buf.getvalue()


def test_docx_text_extraction(spark):
    xml = (b'<w:p><w:r><w:t>Hello </w:t></w:r>'
           b'<w:r><w:t xml:space="preserve">w&amp;rld &amp;lt;tag&gt;'
           b"</w:t></w:r></w:p>"
           b"<w:p><w:r><w:t>Line</w:t><w:br/><w:t>break</w:t>"
           b"<w:tab/><w:t>tabbed</w:t></w:r></w:p>")
    legacy_doc = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64
    rows = {r["doc_id"]: r for r in archives.docx_text(_blob_df(spark, [
        (1, _docx(xml)),
        (2, legacy_doc),
        (3, _zip()),          # a zip but not a docx
        (4, b"not even zip"),
    ])).collect()}
    d = rows[1]
    assert d["format"] == "docx" and d["error"] is None
    assert d["n_paragraphs"] == 2
    assert d["text"] == "Hello w&rld &lt;tag>\nLine\nbreak\ttabbed"
    assert d["n_chars"] == len(d["text"])
    assert rows[2]["error_kind"] == "unsupported"      # legacy .doc
    assert "OLE2" in rows[2]["error"]
    assert rows[3]["error_kind"] == "corrupt"          # no document.xml
    assert rows[4]["error_kind"] == "corrupt"


def test_docx_budget_refuses_from_central_directory(spark):
    big = _declaring(_docx(b"<w:p><w:r><w:t>x</w:t></w:r></w:p>"),
                     archives.DECODE_BYTE_BUDGET + 1)
    row = archives.docx_text(_blob_df(spark, [(1, big)])).collect()[0]
    assert row["error_kind"] == "unsupported"
    assert "budget" in row["error"]


def test_bzip2_xz_archives(spark, monkeypatch):
    """late r14: the stdlib compressors beyond gzip — bare documents,
    tarballs, concatenated streams, budgets, refusal routing."""
    import bz2 as _bz2
    import lzma as _lzma

    from youtube_api_data_etl_automation_spark.operators import (
        archives as A,
    )

    body = b"corpus text " * 40
    tar = _tar((("x/a.txt", b"alpha"), ("x/b.txt", b"beta")))
    bz_doc = _bz2.compress(body)
    xz_doc = _lzma.compress(body, format=_lzma.FORMAT_XZ)
    rows = {r["doc_id"]: r for r in A.archive_meta(_blob_df(spark, [
        (1, bz_doc), (2, xz_doc)])).collect()}
    assert rows[1]["format"] == "bzip2" and rows[1]["error"] is None
    assert rows[1]["detail"] == "level=9"
    assert rows[2]["format"] == "xz"
    # members: tar.bz2 / tar.xz walk; bare docs emit one unnamed row
    ms = {(r["doc_id"], r["name"]): r for r in A.archive_members(
        _blob_df(spark, [
            (3, _bz2.compress(tar)),
            (4, _lzma.compress(tar, format=_lzma.FORMAT_XZ)),
            (5, bz_doc),
        ])).collect()}
    assert bytes(ms[(3, "x/a.txt")]["body"]) == b"alpha"
    assert bytes(ms[(4, "x/b.txt")]["body"]) == b"beta"
    assert bytes(ms[(5, "")]["body"]) == body
    # concatenated streams (pbzip2 layout) decode whole
    assert A._decompress_all(bz_doc + bz_doc, "bzip2") == body + body
    assert A._decompress_all(xz_doc + xz_doc, "xz") == body + body
    # budgets refuse BEFORE materializing
    import pytest as _pytest

    with monkeypatch.context() as m:
        m.setattr(A, "DECODE_BYTE_BUDGET", 16)
        with _pytest.raises(NotImplementedError, match="budget"):
            A._decompress_all(bz_doc, "bzip2")
        with _pytest.raises(NotImplementedError, match="budget"):
            A._decompress_all(xz_doc, "xz")
    # truncation is malformed, not a crash
    with _pytest.raises(ValueError, match="truncated"):
        A._decompress_all(bz_doc[:-4], "bzip2")
    with _pytest.raises(ValueError, match="truncated"):
        A._decompress_all(xz_doc[:-4], "xz")
    # sniff routes both (engine side)
    from youtube_api_data_etl_automation_spark.operators.mediameta \
        import sniff_format

    sn = {r["doc_id"]: (r["sniff_family"], r["sniff_format"])
          for r in sniff_format(_blob_df(spark, [
              (1, bz_doc), (2, xz_doc), (3, b"BZx not bzip"),
          ])).collect()}
    assert sn[1] == ("archive", "bzip2")
    assert sn[2] == ("archive", "xz")
    assert sn[3] == ("unknown", None)
