"""Archive-container operators for crawl corpora: gzip / zip / tar
probing and WARC record parsing — all stdlib, all Arrow-batched.

A 100 TB web corpus arrives as archives: Common-Crawl-style WARC files
(usually .warc.gz with one gzip member per record), zip/tar bundles,
and bare gzip documents. Before any text pipeline runs, the engine
must (a) triage what an opaque payload IS without unpacking it, and
(b) split the record containers into per-document rows. This module
does both with the decode family's contract (the Arrow-batched
:func:`.multimodal._quarantine_map` harness: one bad blob is a row
with ``error`` / ``error_kind`` set, and the decompressed-byte budget
``multimodal.DECODE_BYTE_BUDGET`` makes a zip/gzip bomb refuse instead
of filling an executor):

- ``archive_meta``: O(header / central-directory) probe — gzip member
  header (method, mtime, FNAME, ISIZE hint), zip end-of-central-
  directory walk (member count, compressed/uncompressed totals), POSIX
  ustar tar header walk (members counted by seeking over data), WARC
  first-record header.
- ``warc_records``: one output row per WARC record — WARC-Type,
  WARC-Target-URI, WARC-Date, Content-Type, Content-Length, and for
  response records the HTTP status + Content-Type + body bytes.
  Handles plain WARC and gzip WARC incl. the member-per-record layout
  (concatenated gzip members), with a decompressed-byte budget; texty
  response bodies additionally decode to a ``body_text`` column
  (utf-8, replacement chars — total over crawl garbage).
- ``archive_members`` (late r11): UNIFORM member extraction across
  zip / tar / gzip / .tar.gz — and, late r14, bzip2 and xz (both
  stdlib) with their tarballs — one row per member, header-derived
  budget enforcement; ``members_as_payloads`` turns the rows into the
  standard ``(doc_id, payload, source)`` shape every decoder accepts,
  closing the crawl-dump loop (tarball → images/PDFs/audio → features).
- ``docx_text`` (late r11): OOXML .docx → text rows via the zip
  machinery + a WordprocessingML run walk; legacy .doc refuses.
- ``pptx_text`` / ``xlsx_text`` (r14): the presentation and
  spreadsheet twins — DrawingML ``<a:t>`` run walk per slide, and
  shared-strings + per-sheet cell walk (``t=`` s/inlineStr/b/str/e/
  numeric encodings); legacy .ppt/.xls refuse.
- ``odf_text`` (r14): OpenDocument odt/odp/ods through ONE
  ``content.xml`` walk (``<text:p>``/``<text:h>`` paragraphs,
  tab/line-break/run-length-space elements, mimetype-member kind
  detection) — the LibreOffice twin of the OOXML trio.
- ``epub_text`` (r14): EPUB container → OPF manifest → spine-ordered
  XHTML chapters → visible text (script/style subtrees dropped,
  block closes as newlines, entities decoded) — the ebook slice.

Reference anchor: the reference pipeline ingests remote API payloads
(fetch_youtube_data.py:121-134); archive split/triage is the same
ingestion stage for file-drop corpora.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from .multimodal import DECODE_BYTE_BUDGET, _quarantine_map, check_budget

ARCHIVE_META_SCHEMA = (
    "doc_id bigint, format string, n_members int, "
    "uncompressed_hint bigint, detail string, error string, error_kind string"
)

WARC_RECORDS_SCHEMA = (
    "doc_id bigint, record_idx int, warc_type string, target_uri string, "
    "warc_date string, content_type string, content_length bigint, "
    "http_status int, http_content_type string, body binary, "
    "body_text string, error string, error_kind string"
)


def _decompress_all(payload: bytes, kind: str) -> bytes:
    """Decompress ALL concatenated gzip members / bzip2 / xz streams
    (the .warc.gz member-per-record layout; pbzip2 and block-parallel
    compressors emit the others), capped at DECODE_BYTE_BUDGET via the
    decompressor's max_length so a bomb never materializes past the
    budget. bz2 and lzma are stdlib (late r14); xz is FORMAT_XZ only —
    the raw-.lzma legacy format has no reliable magic and keeps
    refusing."""
    import bz2
    import lzma
    import zlib

    magic, new, error = {
        "gzip": (b"\x1f\x8b", lambda: zlib.decompressobj(wbits=31),
                 zlib.error),
        "bzip2": (b"BZh", bz2.BZ2Decompressor, OSError),
        "xz": (b"\xfd7zXZ\x00",
               lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ),
               lzma.LZMAError),
    }[kind]
    out = bytearray()
    rest = payload
    while rest.startswith(magic):
        d = new()
        try:
            out += d.decompress(rest, DECODE_BYTE_BUDGET + 1 - len(out))
        except error as e:
            raise ValueError(f"malformed {kind} stream: {e}") from None
        check_budget(f"{kind} output", len(out), DECODE_BYTE_BUDGET, "byte")
        if not d.eof:
            raise ValueError(f"malformed {kind} stream: truncated")
        rest = d.unused_data
    if rest and not out:
        raise ValueError(f"malformed {kind} stream: no {kind} magic")
    return bytes(out)


def _parse_gzip_header(payload: bytes) -> dict:
    if len(payload) < 18:
        raise ValueError("malformed gzip: shorter than one empty member")
    if payload[2] != 8:
        raise ValueError(f"malformed gzip: compression method {payload[2]}")
    flags = payload[3]
    (mtime,) = struct.unpack_from("<I", payload, 4)
    pos = 10
    if flags & 0x04:  # FEXTRA
        (xlen,) = struct.unpack_from("<H", payload, pos)
        pos += 2 + xlen
    name = None
    if flags & 0x08:  # FNAME, latin-1, NUL-terminated
        end = payload.index(b"\x00", pos)
        name = payload[pos:end].decode("latin-1")
        pos = end + 1
    # ISIZE (size mod 2^32) of the LAST member — a hint, exact only for
    # single-member files under 4 GiB
    (isize,) = struct.unpack_from("<I", payload, len(payload) - 4)
    return {
        "format": "gzip", "n_members": None,
        "uncompressed_hint": isize, "name": name,
        "detail": f"mtime={mtime},name={name or '-'}",
    }


def _parse_zip_meta(payload: bytes) -> dict:
    # end-of-central-directory: scan back over a possible comment
    at = payload.rfind(b"PK\x05\x06", max(0, len(payload) - 65557))
    if at < 0:
        raise ValueError("malformed zip: no end-of-central-directory")
    if at + 22 > len(payload):
        raise ValueError("malformed zip: truncated EOCD")
    n_total = struct.unpack_from("<H", payload, at + 10)[0]
    cd_size, cd_off = struct.unpack_from("<II", payload, at + 12)
    if cd_off + cd_size > len(payload):
        raise ValueError("malformed zip: central directory out of bounds")
    pos = cd_off
    comp_total = uncomp_total = 0
    names = []
    for _ in range(n_total):
        if payload[pos : pos + 4] != b"PK\x01\x02":
            raise ValueError("malformed zip: bad central-directory entry")
        comp, uncomp = struct.unpack_from("<II", payload, pos + 20)
        (nlen,) = struct.unpack_from("<H", payload, pos + 28)
        (elen,) = struct.unpack_from("<H", payload, pos + 30)
        (clen,) = struct.unpack_from("<H", payload, pos + 32)
        names.append(payload[pos + 46 : pos + 46 + nlen]
                     .decode("utf-8", "replace"))
        comp_total += comp
        uncomp_total += uncomp
        pos += 46 + nlen + elen + clen
    return {
        "format": "zip", "n_members": n_total,
        "uncompressed_hint": uncomp_total,
        "detail": ",".join(names[:5]) + ("…" if len(names) > 5 else ""),
    }


def _parse_tar_meta(payload: bytes) -> dict:
    n = 0
    total = 0
    pos = 0
    while pos + 512 <= len(payload):
        block = payload[pos : pos + 512]
        if block == b"\x00" * 512:
            break  # end-of-archive marker
        if block[257:262] != b"ustar":
            raise ValueError("malformed tar: missing ustar magic")
        size_field = block[124:136].split(b"\x00")[0].strip()
        try:
            size = int(size_field or b"0", 8)
        except ValueError:
            raise ValueError("malformed tar: bad size field") from None
        n += 1
        total += size
        pos += 512 + ((size + 511) // 512) * 512
    if n == 0:
        raise ValueError("malformed tar: no member headers")
    return {
        "format": "tar", "n_members": n,
        "uncompressed_hint": total, "detail": "ustar",
    }


def _parse_warc_headers(data: bytes, pos: int):
    """(headers dict lower-cased, content offset) for the record at
    ``pos``; refuses when the version line or header block is broken."""
    eol = data.find(b"\r\n", pos)
    if eol < 0 or not data[pos:eol].startswith(b"WARC/"):
        raise ValueError("malformed WARC: missing version line")
    headers: dict[str, str] = {}
    at = eol + 2
    while True:
        eol = data.find(b"\r\n", at)
        if eol < 0:
            raise ValueError("malformed WARC: unterminated header block")
        if eol == at:  # blank line ends headers
            return headers, at + 2
        line = data[at:eol]
        sep = line.find(b":")
        if sep <= 0:
            raise ValueError("malformed WARC: header line without ':'")
        headers[line[:sep].strip().lower().decode("latin-1")] = \
            line[sep + 1 :].strip().decode("utf-8", "replace")
        at = eol + 2


def _split_warc(data: bytes) -> list[tuple[dict, bytes]]:
    """[(headers, content)] for every record in a plain WARC buffer."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        headers, body_at = _parse_warc_headers(data, pos)
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                "malformed WARC: record without a numeric Content-Length"
            ) from None
        if body_at + clen > n:
            raise ValueError("malformed WARC: record body truncated")
        out.append((headers, data[body_at : body_at + clen]))
        pos = body_at + clen
        # two CRLFs close a record; tolerate a missing trailer at EOF
        while data[pos : pos + 2] == b"\r\n":
            pos += 2
    if not out:
        raise ValueError("malformed WARC: no records")
    return out


def _parse_warc_meta(payload: bytes) -> dict:
    data = _decompress_all(payload, "gzip") \
        if payload[:2] == b"\x1f\x8b" else payload
    records = _split_warc(data)
    h0 = records[0][0]
    return {
        "format": "warc", "n_members": len(records),
        "uncompressed_hint": len(data),
        "detail": h0.get("warc-type", "-"),
    }


def archive_meta(blobs: DataFrame) -> DataFrame:
    """Probe an archive payload without unpacking members: ``(doc_id,
    format, n_members, uncompressed_hint, detail)``. gzip is O(header)
    (member count unknowable without a scan → NULL; ISIZE hint from
    the trailer), zip walks the central directory, tar seeks over
    member data by declared size, WARC counts records (decompressing
    .warc.gz under the budget — the one non-O(header) case, inherent
    to gzip). Unknown magic refuses 'unsupported'."""
    def one(payload):
        if not payload:
            raise ValueError("empty/NULL archive payload")
        if payload[:4] == b"PK\x03\x04" or payload[:4] == b"PK\x05\x06":
            return _parse_zip_meta(payload)
        if len(payload) > 257 + 5 and payload[257:262] == b"ustar":
            return _parse_tar_meta(payload)
        if payload[:5] == b"WARC/":
            return _parse_warc_meta(payload)
        if payload[:2] == b"\x1f\x8b":
            # a gzip whose first member opens a WARC is a .warc.gz
            import zlib
            d = zlib.decompressobj(wbits=31)
            try:
                head = d.decompress(payload[:4096], 16)
            except zlib.error as e:
                raise ValueError(f"malformed gzip stream: {e}") from None
            if head[:5] == b"WARC/":
                return _parse_warc_meta(payload)
            return _parse_gzip_header(payload)
        if payload[:3] == b"BZh" and payload[3:4].isdigit():
            # O(header): bzip2 carries no size or name in-band
            return {"format": "bzip2", "n_members": None,
                    "uncompressed_hint": None,
                    "detail": f"level={chr(payload[3])}"}
        if payload[:6] == b"\xfd7zXZ\x00":
            # O(header): stream flags only; totals live in the index,
            # which a probe does not decode
            return {"format": "xz", "n_members": None,
                    "uncompressed_hint": None,
                    "detail": f"flags={payload[6:8].hex()}"}
        raise NotImplementedError(
            f"unknown archive container (magic {payload[:4]!r}); "
            "7z/rar/zstd need their libraries"
        )

    return _quarantine_map(blobs, one, ARCHIVE_META_SCHEMA)


def warc_records(blobs: DataFrame) -> DataFrame:
    """Split WARC payloads (plain or .warc.gz incl. member-per-record)
    into one row per record. Response records additionally parse the
    HTTP status line and Content-Type and carry the HTTP body bytes;
    other record types carry their raw content. Fan-out stays inside
    the partition (mapInPandas) — no shuffle."""
    texty = ("text/html", "text/plain", "application/json",
             "application/xhtml+xml", "text/xml")

    def records(raw):
        data = _decompress_all(raw, "gzip") \
            if raw[:2] == b"\x1f\x8b" else raw
        rows = []
        for i, (h, content) in enumerate(_split_warc(data)):
            status = hct = None
            body = content
            ctype = h.get("content-type", "")
            if ctype.startswith("application/http"):
                eol = content.find(b"\r\n")
                parts = content[:eol].split(b" ", 2) if eol > 0 else []
                if len(parts) >= 2 and parts[0][:5] == b"HTTP/":
                    try:
                        status = int(parts[1])
                    except ValueError:
                        status = None
                hdr_end = content.find(b"\r\n\r\n")
                if hdr_end >= 0:
                    for line in content[:hdr_end].split(b"\r\n"):
                        if line[:13].lower() == b"content-type:":
                            hct = line[13:].strip().decode(
                                "utf-8", "replace")
                    body = content[hdr_end + 4 :]
            # utf-8 text decoded HERE (replacement chars for malformed
            # bytes) for texty responses: ANSI-mode F.decode throws on
            # crawl garbage, a Python-side decode is total
            text = None
            if hct is not None:
                if hct.split(";")[0].strip() in texty:
                    text = body.decode("utf-8", "replace")
            elif ctype.split(";")[0].strip() in texty:
                # no HTTP envelope but a texty WARC content-type: the
                # WET 'conversion' record shape (extracted text as
                # text/plain record content)
                text = body.decode("utf-8", "replace")
            rows.append({
                "record_idx": i, "warc_type": h.get("warc-type"),
                "target_uri": h.get("warc-target-uri"),
                "warc_date": h.get("warc-date"),
                "content_type": ctype or None,
                "content_length": int(h["content-length"]),
                "http_status": status, "http_content_type": hct,
                "body": body, "body_text": text,
            })
        return rows

    return _quarantine_map(blobs, records, WARC_RECORDS_SCHEMA)


ARCHIVE_MEMBERS_SCHEMA = (
    "doc_id bigint, member_idx int, name string, size bigint, body binary, "
    "error string, error_kind string"
)


def _iter_archive_members(raw: bytes) -> list[tuple[str, bytes]]:
    """(name, body) for every member of one archive payload — format
    dispatched on magic: zip (stdlib zipfile, central-directory size
    probe BEFORE inflation), tar (stdlib tarfile over USTAR/GNU),
    gzip/bzip2/xz (single member, or a tar walk when the inflated
    stream is itself a tarball — .tar.gz/.tar.bz2/.tar.xz; bz2 and
    lzma are stdlib, late r14). Non-archives refuse as
    'unsupported'; a cumulative size budget is enforced from the
    HEADERS, so a bomb costs O(headers), never O(inflated)."""
    import io
    import tarfile
    import zipfile

    def check(total: int) -> int:
        check_budget("archive", total, DECODE_BYTE_BUDGET, "declared byte")
        return total

    def walk_tar(data: bytes) -> list[tuple[str, bytes]]:
        out = []
        total = 0
        try:
            with tarfile.open(fileobj=io.BytesIO(data), mode="r:") as tf:
                for ti in tf:
                    if not ti.isfile():
                        continue
                    total = check(total + ti.size)
                    f = tf.extractfile(ti)
                    out.append((ti.name, f.read() if f else b""))
        except tarfile.TarError as e:
            raise ValueError(f"malformed tar: {e}") from None
        return out

    if raw[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
        meta = _parse_zip_meta(raw)
        check(meta["uncompressed_hint"])
        try:
            zf = zipfile.ZipFile(io.BytesIO(raw))
            # Read by ZipInfo object, NOT by name: zf.read(name) resolves
            # through NameToInfo (last entry wins), so duplicate member
            # names would all yield the LAST member's bytes.
            return [(i.filename, zf.read(i))
                    for i in zf.infolist() if not i.is_dir()]
        except Exception as e:  # zipfile/zlib raise several classes
            raise ValueError(f"malformed zip: {e}") from None
    if raw[:2] == b"\x1f\x8b":
        hdr = _parse_gzip_header(raw)
        data = _decompress_all(raw, "gzip")
        if len(data) >= 512 and data[257:262] == b"ustar":
            return walk_tar(data)
        return [(hdr.get("name") or "", data)]
    if len(raw) >= 512 and raw[257:262] == b"ustar":
        return walk_tar(raw)
    if raw[:3] == b"BZh" and raw[3:4].isdigit():
        data = _decompress_all(raw, "bzip2")
        if len(data) >= 512 and data[257:262] == b"ustar":
            return walk_tar(data)
        return [("", data)]  # bare .bz2 document (no name in-band)
    if raw[:6] == b"\xfd7zXZ\x00":
        data = _decompress_all(raw, "xz")
        if len(data) >= 512 and data[257:262] == b"ustar":
            return walk_tar(data)
        return [("", data)]  # bare .xz document (no name in-band)
    raise NotImplementedError(
        f"unknown archive format (magic {raw[:4]!r}); zip/tar/gzip/"
        "bzip2/xz (+ their tarballs) unpack here"
    )


def archive_members(blobs: DataFrame) -> DataFrame:
    """Uniform member extraction over mixed zip / tar / gzip / .tar.gz
    payloads: one row per member ``(doc_id, member_idx, name, size,
    body)``. The container fan-out stays inside the partition
    (mapInPandas) — no shuffle; feed the output to
    :func:`members_as_payloads` and any decoder takes it from there."""
    def members(raw):
        return [{"member_idx": i, "name": name, "size": len(body),
                 "body": body}
                for i, (name, body) in enumerate(
                    _iter_archive_members(raw))]

    return _quarantine_map(blobs, members, ARCHIVE_MEMBERS_SCHEMA)


def members_as_payloads(members: DataFrame) -> DataFrame:
    """Archive-member rows → a standard ``(doc_id, payload, source)``
    payload table for any decode operator (triage_decode_images,
    pdf_text, decode_audio, …). ``doc_id = xxhash64(archive id, member
    index)`` — stable across re-ingestion of the same archive;
    ``source`` carries the member name
    for provenance (pdf_text passes it through)."""
    from pyspark.sql import functions as F

    return (
        members
        .filter(F.col("body").isNotNull())
        .select(
            F.xxhash64(F.col("doc_id"), F.col("member_idx"))
            .alias("doc_id"),
            F.col("body").alias("payload"),
            F.col("name").alias("source"),
        )
    )


DOCX_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_paragraphs int, n_chars int, "
    "text string, error string, error_kind string"
)

# minimal XML entity set WordprocessingML actually emits in w:t runs
_XML_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&"))  # &amp; LAST

_WT_RE = None  # compiled lazily (module import stays cheap)


def _docx_extract_text(raw: bytes) -> tuple[int, str]:
    """(n_paragraphs, text) from one OOXML word-processing payload.

    A .docx is a zip whose ``word/document.xml`` holds the body as
    WordprocessingML: text lives in ``<w:t>`` runs, paragraphs close
    with ``</w:p>``, and the layout elements ``<w:br/>``/``<w:tab/>``
    render as newline/tab. This walks exactly that subset with
    anchored regexes — a full XML parser buys nothing for corpus text
    and loses the total-over-garbage property. Entities decode with
    ``&amp;`` last so ``&amp;lt;`` round-trips as the literal ``&lt;``.
    Legacy .doc (OLE2 magic) refuses as 'unsupported'."""
    import re as _re

    global _WT_RE
    if _WT_RE is None:
        _WT_RE = _re.compile(
            rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>"
            rb"|</w:p>|<w:br\s*/?>|<w:tab\s*/?>",
            _re.DOTALL,
        )
    # container checks shared with pptx/xlsx (r14 consolidation —
    # _office_zip is the one OOXML container harness, so the three
    # paths cannot drift)
    zf = _office_zip(raw, "docx", "doc")
    try:
        xml = zf.read("word/document.xml")
    except KeyError:
        raise ValueError(
            "malformed docx: zip without word/document.xml"
        ) from None
    except Exception as e:
        raise ValueError(f"malformed docx: {e}") from None
    parts: list[str] = []
    n_paras = 0
    for m in _WT_RE.finditer(xml):
        tok = m.group(0)
        if m.group(1) is not None:
            parts.append(
                _xml_unescape(m.group(1).decode("utf-8", "replace")))
        elif tok.startswith(b"</w:p"):
            n_paras += 1
            if parts and not parts[-1].endswith("\n"):
                parts.append("\n")
        elif tok.startswith(b"<w:br"):
            parts.append("\n")
        else:  # <w:tab/>
            parts.append("\t")
    return n_paras, "".join(parts).strip()


def docx_text(blobs: DataFrame) -> DataFrame:
    """REAL .docx text extraction over ``(doc_id, payload)`` — the
    office-format twin of :func:`operators.pdf.pdf_text`, composed from
    the zip machinery already here plus a WordprocessingML run walk.
    One row per document: paragraph count, char count, text (paragraph
    breaks as newlines). Quarantine contract; legacy .doc refuses as
    'unsupported'."""
    def one(raw):
        if not raw:
            raise ValueError("empty/NULL docx payload")
        n_paras, text = _docx_extract_text(raw)
        return {"format": "docx", "n_paragraphs": n_paras,
                "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, DOCX_TEXT_SCHEMA)


_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

PPTX_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_slides int, n_paragraphs int, "
    "n_chars int, text string, error string, error_kind string"
)

_AT_RE = None  # DrawingML run walk, compiled lazily like _WT_RE
_XLSX_RES = None  # the xlsx walk's regex set, compiled lazily too


def _xml_unescape(text: str) -> str:
    for ent, ch in _XML_ENTITIES:
        text = text.replace(ent, ch)
    return text


def _office_zip(raw: bytes, kind: str, legacy: str):
    """Shared OOXML container checks: OLE2 legacy refusal, zip magic,
    declared-size budget (enforced BEFORE any inflation — the same
    zip-bomb posture as every archive op here). Returns the ZipFile."""
    import io
    import zipfile

    if raw[:8] == _OLE2_MAGIC:
        raise NotImplementedError(
            f"legacy OLE2 .{legacy} needs a compound-file parser; only "
            f"OOXML .{kind} extracts here — route .{legacy} to a "
            "document-library executor image"
        )
    if raw[:4] not in (b"PK\x03\x04", b"PK\x05\x06"):
        raise ValueError(f"malformed {kind}: not a zip container")
    check_budget(kind, _parse_zip_meta(raw)["uncompressed_hint"],
                 DECODE_BYTE_BUDGET, "declared byte")
    try:
        return zipfile.ZipFile(io.BytesIO(raw))
    except Exception as e:
        raise ValueError(f"malformed {kind}: {e}") from None


def _pptx_extract_text(raw: bytes) -> tuple[int, int, str]:
    """(n_slides, n_paragraphs, text) from one OOXML presentation.

    A .pptx is a zip whose ``ppt/slides/slideN.xml`` parts hold the
    deck as DrawingML: text lives in ``<a:t>`` runs, paragraphs close
    with ``</a:p>``, ``<a:br/>`` renders as newline. Slides walk in
    their numeric part order (the standard approximation of the
    presentation.xml relationship order — part numbers ARE the deck
    order as every mainstream producer writes them); slide boundaries
    render as form-feed, the pdf_text page convention. The same
    anchored-regex subset walk as :func:`_docx_extract_text` — a full
    XML parser buys nothing for corpus text and loses the
    total-over-garbage property."""
    import re as _re

    global _AT_RE
    if _AT_RE is None:
        _AT_RE = _re.compile(
            rb"<a:t(?:\s[^>]*)?>(.*?)</a:t>|</a:p>|<a:br\s*/?>",
            _re.DOTALL,
        )
    zf = _office_zip(raw, "pptx", "ppt")
    slide_re = _re.compile(r"^ppt/slides/slide(\d+)\.xml$")
    slides = sorted(
        (int(m.group(1)), n)
        for n in zf.namelist() if (m := slide_re.match(n))
    )
    if not slides:
        raise ValueError("malformed pptx: zip without ppt/slides/")
    pages: list[str] = []
    n_paras = 0
    for _, name in slides:
        try:
            xml = zf.read(name)
        except Exception as e:
            raise ValueError(f"malformed pptx: {e}") from None
        parts: list[str] = []
        for m in _AT_RE.finditer(xml):
            if m.group(1) is not None:
                parts.append(
                    _xml_unescape(m.group(1).decode("utf-8", "replace")))
            elif m.group(0).startswith(b"</a:p"):
                n_paras += 1
                if parts and not parts[-1].endswith("\n"):
                    parts.append("\n")
            else:  # <a:br/>
                parts.append("\n")
        pages.append("".join(parts).strip())
    return len(slides), n_paras, "\f".join(pages).strip("\f")


def pptx_text(blobs: DataFrame) -> DataFrame:
    """REAL .pptx text extraction over ``(doc_id, payload)`` (r14,
    VERDICT r13 item 4) — the presentation twin of :func:`docx_text`,
    composed from the same zip machinery plus a DrawingML run walk.
    One row per document: slide/paragraph counts, char count, text
    (slides separated by form-feed, the pdf_text convention).
    Quarantine contract; legacy .ppt refuses as 'unsupported'."""
    def one(raw):
        if not raw:
            raise ValueError("empty/NULL pptx payload")
        n_slides, n_paras, text = _pptx_extract_text(raw)
        return {"format": "pptx", "n_slides": n_slides,
                "n_paragraphs": n_paras, "n_chars": len(text),
                "text": text}

    return _quarantine_map(blobs, one, PPTX_TEXT_SCHEMA)


XLSX_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_sheets int, n_cells int, "
    "n_chars int, text string, error string, error_kind string"
)


def _xlsx_cell_text(attrs: str, inner: bytes, shared: list[str],
                    t_re, v_re, ist_re) -> str | None:
    """One ``<c>`` element → rendered cell text (None = empty cell)."""
    m = t_re.search(attrs)
    ctype = m.group(1) if m else "n"
    if ctype == "inlineStr":
        runs = ist_re.findall(inner)
        if not runs:
            return None
        return _xml_unescape(
            b"".join(runs).decode("utf-8", "replace"))
    mv = v_re.search(inner)
    if mv is None:
        return None
    v = mv.group(1).decode("utf-8", "replace")
    if ctype == "s":
        # explicit range check — Python's negative indexing would
        # silently return pool[-1] for index -1 (r14 review fix)
        try:
            idx = int(v)
        except ValueError:
            idx = -1
        if not 0 <= idx < len(shared):
            raise ValueError(
                f"malformed xlsx: shared-string index {v!r} out of "
                f"range ({len(shared)} entries)")
        return shared[idx]
    if ctype == "b":
        return "TRUE" if v.strip() == "1" else "FALSE"
    # n (number), str (formula string), e (error literal): the stored
    # value IS the text
    return _xml_unescape(v)


def _xlsx_extract_text(raw: bytes) -> tuple[int, int, str]:
    """(n_sheets, n_cells, text) from one OOXML workbook.

    A .xlsx is a zip: ``xl/sharedStrings.xml`` interns the string pool
    (``<si>`` entries whose ``<t>`` runs concatenate — rich-text
    formatting splits one cell across runs), and each
    ``xl/worksheets/sheetN.xml`` holds rows of ``<c>`` cells whose
    ``t`` attribute picks the value encoding: ``s`` shared-string
    index, ``inlineStr`` inline runs, ``b`` boolean, ``str`` formula
    result, ``e`` error literal, default numeric. Cells render
    tab-separated within a row, rows newline-separated, sheets
    form-feed-separated in numeric part order. Same anchored-regex
    subset walk as the docx/pptx paths."""
    global _XLSX_RES
    if _XLSX_RES is None:
        import re as _re

        _XLSX_RES = (
            _re.compile(rb"<si>(.*?)</si>", _re.DOTALL),
            _re.compile(rb"<t(?:\s[^>]*)?>(.*?)</t>", _re.DOTALL),
            _re.compile(r"^xl/worksheets/sheet(\d+)\.xml$"),
            _re.compile(rb"<row[^>]*>(.*?)</row>", _re.DOTALL),
            _re.compile(rb"<c([^>/]*)>(.*?)</c>", _re.DOTALL),
            _re.compile(r'\st="([^"]*)"'),
            _re.compile(rb"<v(?:\s[^>]*)?>(.*?)</v>", _re.DOTALL),
        )
    si_re, st_re, sheet_re, row_re, c_re, t_re, v_re = _XLSX_RES

    zf = _office_zip(raw, "xlsx", "xls")
    names = zf.namelist()
    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        try:
            pool = zf.read("xl/sharedStrings.xml")
        except Exception as e:
            raise ValueError(f"malformed xlsx: {e}") from None
        for si in si_re.findall(pool):
            shared.append(_xml_unescape(
                b"".join(st_re.findall(si)).decode("utf-8", "replace")))
    sheets = sorted(
        (int(m.group(1)), n)
        for n in names if (m := sheet_re.match(n))
    )
    if not sheets:
        raise ValueError("malformed xlsx: zip without xl/worksheets/")
    ist_re = st_re
    pages: list[str] = []
    n_cells = 0
    for _, name in sheets:
        try:
            xml = zf.read(name)
        except Exception as e:
            raise ValueError(f"malformed xlsx: {e}") from None
        lines: list[str] = []
        for row in row_re.findall(xml):
            cells: list[str] = []
            for attrs, inner in c_re.findall(row):
                cell = _xlsx_cell_text(
                    attrs.decode("utf-8", "replace"), inner, shared,
                    t_re, v_re, ist_re)
                if cell is not None:
                    n_cells += 1
                    cells.append(cell)
            if cells:
                lines.append("\t".join(cells))
        pages.append("\n".join(lines))
    return len(sheets), n_cells, "\f".join(pages).strip("\f")


def xlsx_text(blobs: DataFrame) -> DataFrame:
    """REAL .xlsx text extraction over ``(doc_id, payload)`` (r14,
    VERDICT r13 item 4) — the spreadsheet twin of :func:`docx_text`:
    shared-string pool + per-sheet cell walk through the same zip
    machinery and budgets. One row per document: sheet/cell counts,
    char count, text (cells tab-joined, rows newline-joined, sheets
    form-feed-joined). Quarantine contract; legacy .xls refuses as
    'unsupported'."""
    def one(raw):
        if not raw:
            raise ValueError("empty/NULL xlsx payload")
        n_sheets, n_cells, text = _xlsx_extract_text(raw)
        return {"format": "xlsx", "n_sheets": n_sheets,
                "n_cells": n_cells, "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, XLSX_TEXT_SCHEMA)


ODF_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_paragraphs int, n_chars int, "
    "text string, error string, error_kind string"
)

_ODF_RES = None  # the ODF walk's regexes, compiled lazily

_ODF_MIME_KINDS = (
    ("application/vnd.oasis.opendocument.text", "odt"),
    ("application/vnd.oasis.opendocument.presentation", "odp"),
    ("application/vnd.oasis.opendocument.spreadsheet", "ods"),
)


def _odf_extract_text(raw: bytes) -> tuple[str, int, str]:
    """(kind, n_paragraphs, text) from one OpenDocument payload.

    An ODF file (odt/odp/ods — LibreOffice/OpenOffice, common in any
    document crawl) is a zip whose ``content.xml`` holds the body:
    text lives in ``<text:p>`` paragraphs and ``<text:h>`` headings
    (spreadsheet cells and presentation frames nest the same
    elements, so ONE walk covers all three kinds), with
    ``<text:tab/>`` → tab, ``<text:line-break/>`` → newline, and
    ``<text:s text:c="N"/>`` → N spaces (the run-length-encoded
    spaces ODF uses instead of literal runs; N is bounded — a
    gigabyte run-length is a bomb, not a document). The walk is
    LINEAR over the body (r14 review fix: a paired non-greedy
    paragraph regex loses the outer paragraph's tail when frames or
    annotations NEST ``text:p``): paragraph/heading closes become
    newlines, every other tag strips away, entities decode last.
    The kind comes from the ``mimetype`` member (the spec's first,
    STORED member), falling back to generic ``odf``."""
    global _ODF_RES
    if _ODF_RES is None:
        import re as _re

        _ODF_RES = (
            _re.compile(rb"</text:(?:p|h)\s*>"),
            _re.compile(rb"<text:tab\s*/?>"),
            _re.compile(rb"<text:line-break\s*/?>"),
            _re.compile(rb'<text:s(?:\s[^>]*?text:c="(\d+)")?[^>]*/>'),
            _re.compile(rb"<[^>]*>"),
        )
    pclose_re, tab_re, br_re, sp_re, tag_re = _ODF_RES

    zf = _office_zip(raw, "odf", "sxw")
    kind = "odf"
    names = zf.namelist()
    if "mimetype" in names:
        try:
            mime = zf.read("mimetype").decode("ascii", "replace").strip()
        except Exception as e:
            raise ValueError(f"malformed odf: {e}") from None
        for want, k in _ODF_MIME_KINDS:
            if mime == want:
                kind = k
                break
    try:
        xml = zf.read("content.xml")
    except KeyError:
        raise ValueError("malformed odf: zip without content.xml") \
            from None
    except Exception as e:
        raise ValueError(f"malformed odf: {e}") from None
    # body slice: everything inside <office:body> (entities and text
    # live only there; styles/meta precede it)
    start = xml.find(b"<office:body")
    if start >= 0:
        start = xml.find(b">", start) + 1
        end = xml.rfind(b"</office:body>")
        xml = xml[start:end if end > start else len(xml)]
    n_paras = len(pclose_re.findall(xml))
    body = pclose_re.sub(b"\n", xml)
    body = tab_re.sub(b"\t", body)
    body = br_re.sub(b"\n", body)

    sp_total = 0

    def _spaces(sm):
        # run-length spaces are the one place a tiny payload can
        # expand unboundedly (r14 review fix: the zip declared-size
        # budget only sees the XML bytes) — bound per element AND
        # cumulatively, BEFORE any allocation
        nonlocal sp_total
        n = int(sm.group(1) or b"1")
        sp_total += n
        if n > 65535 or sp_total > DECODE_BYTE_BUDGET:
            raise ValueError(
                f"malformed odf: text:s run-length {n} "
                f"(cumulative {sp_total})")
        return b" " * n

    body = sp_re.sub(_spaces, body)
    body = tag_re.sub(b"", body)
    text = _xml_unescape(body.decode("utf-8", "replace"))
    # inter-tag pretty-printing whitespace is layout, not text: trim
    # each rendered line, drop empty ones
    lines = [ln.strip() for ln in text.split("\n")]
    text = "\n".join(ln for ln in lines if ln)
    check_budget("odf text", len(text), DECODE_BYTE_BUDGET, "byte")
    return kind, n_paras, text


def odf_text(blobs: DataFrame) -> DataFrame:
    """REAL OpenDocument text extraction over ``(doc_id, payload)``
    (r14) — odt/odp/ods through one walk: the LibreOffice twin of the
    OOXML trio, through the same consolidated container harness and
    budgets. One row per document: format (``odt``/``odp``/``ods``,
    or ``odf`` when the mimetype member is absent), paragraph count,
    char count, text. Quarantine contract; legacy StarOffice binary
    payloads refuse via the OLE2 check."""
    def one(raw):
        if not raw:
            raise ValueError("empty/NULL odf payload")
        kind, n_paras, text = _odf_extract_text(raw)
        return {"format": kind, "n_paragraphs": n_paras,
                "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, ODF_TEXT_SCHEMA)


EPUB_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_chapters int, n_chars int, "
    "text string, error string, error_kind string"
)

_EPUB_RES = None  # the EPUB walk's regexes, compiled lazily


def _cp_char(cp: int, raw: str) -> str:
    """Numeric character reference → its character. Out-of-range refs
    pass through verbatim; SURROGATE refs (D800-DFFF) become U+FFFD —
    a lone surrogate in the output string is not UTF-8-encodable and
    would kill the task at Arrow serialization, OUTSIDE the quarantine
    handler (r14 review fix)."""
    if cp >= 0x110000:
        return raw
    if 0xD800 <= cp < 0xE000:
        return "�"
    return chr(cp)


def _html_unescape(text: str) -> str:
    """The five XML entities plus numeric character references and
    ``&nbsp;`` — the set XHTML chapter files actually carry (named
    HTML entities beyond these require a DTD table; they pass through
    verbatim rather than guess)."""
    import re as _re

    text = _re.sub(r"&#(\d+);",
                   lambda m: _cp_char(int(m.group(1)), m.group(0)),
                   text)
    text = _re.sub(r"&#[xX]([0-9a-fA-F]+);",
                   lambda m: _cp_char(int(m.group(1), 16), m.group(0)),
                   text)
    text = text.replace("&nbsp;", " ")
    return _xml_unescape(text)


_STRIP_RES = None  # the XHTML visible-text strip, compiled lazily


def _strip_xhtml_text(xml: bytes) -> str:
    """Visible text of one (X)HTML document/fragment — shared by the
    EPUB chapter walk and mail HTML bodies (operators/mail.py):
    head/script/style subtrees drop whole (titles and meta are chrome,
    not body text), comments drop, ``<br/>`` and block-element closes
    render as newlines, all other tags strip away, entities decode
    (XML five + numeric refs + nbsp), whitespace runs collapse."""
    global _STRIP_RES
    if _STRIP_RES is None:
        import re as _re

        _STRIP_RES = (
            _re.compile(rb"<(script|style|head)(?:\s[^>]*)?>.*?</\1\s*>",
                        _re.DOTALL | _re.IGNORECASE),
            _re.compile(rb"<!--.*?-->", _re.DOTALL),
            _re.compile(
                rb"<br\s*/?>|</(?:p|div|h[1-6]|li|tr|section|article"
                rb"|blockquote|title)\s*>", _re.IGNORECASE),
            _re.compile(rb"<[^>]*>"),
            _re.compile(r"[ \t\r]+"),
            _re.compile(r" ?\n[ \n]*"),
        )
    scriptstyle_re, comment_re, break_re, tag_re, sp_re, nl_re = \
        _STRIP_RES
    xml = comment_re.sub(b"", scriptstyle_re.sub(b"", xml))
    xml = tag_re.sub(b"", break_re.sub(b"\n", xml))
    text = _html_unescape(xml.decode("utf-8", "replace"))
    return nl_re.sub("\n", sp_re.sub(" ", text)).strip()


def _epub_extract_text(raw: bytes) -> tuple[int, str]:
    """(n_chapters, text) from one EPUB payload.

    An EPUB is a zip: ``META-INF/container.xml`` names the OPF package
    file, whose manifest maps item ids to hrefs and whose spine fixes
    the reading order. Every spine item with an XHTML media type is
    read (hrefs resolved against the OPF directory, percent-decoding
    honored) and stripped to visible text: script/style/head subtrees
    drop whole (titles and meta are chrome, not body text), ``<br/>``
    and block-element closes render as newlines, all
    other tags strip away, entities decode (XML five + numeric refs +
    nbsp), whitespace runs collapse. Chapters join with form-feed —
    the pdf_text page convention."""
    import posixpath
    from urllib.parse import unquote

    global _EPUB_RES
    if _EPUB_RES is None:
        import re as _re

        # attributes accept either XML quote style (r14 review fix:
        # double-quote-only regexes misclassified valid single-quoted
        # EPUBs as corrupt)
        _EPUB_RES = (
            _re.compile(
                rb"<rootfile[^>]*full-path=[\"']([^\"']+)[\"']"),
            _re.compile(rb"<item\s[^>]*/?>"),
            _re.compile(rb"<itemref\s[^>]*idref=[\"']([^\"']+)[\"']"),
            _re.compile(
                rb"\b(id|href|media-type)=[\"']([^\"']*)[\"']"),
        )
    root_re, item_re, spine_re, attr_re = _EPUB_RES

    zf = _office_zip(raw, "epub", "lit")
    names = set(zf.namelist())
    if "META-INF/container.xml" not in names:
        raise ValueError("malformed epub: no META-INF/container.xml")
    try:
        container = zf.read("META-INF/container.xml")
    except Exception as e:
        raise ValueError(f"malformed epub: {e}") from None
    m = root_re.search(container)
    if m is None:
        raise ValueError("malformed epub: container names no rootfile")
    opf_path = unquote(m.group(1).decode("utf-8", "replace"))
    try:
        opf = zf.read(opf_path)
    except Exception:
        raise ValueError(
            f"malformed epub: rootfile {opf_path!r} missing") from None
    base = posixpath.dirname(opf_path)
    manifest: dict[str, str] = {}
    for im in item_re.finditer(opf):
        attrs = dict(
            (k.decode(), v.decode("utf-8", "replace"))
            for k, v in attr_re.findall(im.group(0)))
        if attrs.get("media-type") in ("application/xhtml+xml",
                                       "text/html") \
                and "id" in attrs and "href" in attrs:
            manifest[attrs["id"]] = attrs["href"]
    chapters: list[str] = []
    for sm in spine_re.finditer(opf):
        href = manifest.get(sm.group(1).decode("utf-8", "replace"))
        if href is None:
            continue  # non-text spine entries (covers, navs) skip
        path = posixpath.normpath(
            posixpath.join(base, unquote(href.split("#", 1)[0])))
        try:
            xml = zf.read(path)
        except Exception:
            raise ValueError(
                f"malformed epub: spine chapter {path!r} missing"
            ) from None
        chapters.append(_strip_xhtml_text(xml))
    if not chapters:
        raise ValueError("malformed epub: spine names no XHTML chapters")
    return len(chapters), "\f".join(chapters).strip("\f")


def epub_text(blobs: DataFrame) -> DataFrame:
    """REAL EPUB text extraction over ``(doc_id, payload)`` (r14) —
    the ebook slice of a document crawl: container → OPF manifest →
    spine-ordered XHTML chapters → visible text, through the same
    consolidated zip harness and budgets as the office trio. One row
    per book: chapter count, char count, text (chapters form-feed
    separated). Quarantine contract."""
    def one(raw):
        if not raw:
            raise ValueError("empty/NULL epub payload")
        n_chapters, text = _epub_extract_text(raw)
        return {"format": "epub", "n_chapters": n_chapters,
                "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, EPUB_TEXT_SCHEMA)
