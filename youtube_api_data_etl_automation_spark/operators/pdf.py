"""PDF text extraction — pure-Python ISO 32000-1 structure walk.

Crawl corpora (the reference pipeline's upstream world: a YouTube-shaped
media corpus per fetch_youtube_data.py:121-134, but at 100 TB every
format arrives) carry PDFs as a top-3 document format; until r11 the
engine's only document decoder was the HTML markup strip. This module
adds the PDF path with the same posture as the image/audio decoders
(operators/multimodal.py): parse the container for real from public
spec structure, decode what is honestly decodable, refuse the rest as
``error_kind='unsupported'``, and never let one bad blob kill a task.

What decodes for real:

- object syntax (dicts/arrays/names with ``#xx`` escapes/literal
  strings with octal + line-continuation escapes/hex strings/refs),
  ``N G obj`` scan with last-definition-wins incremental-update
  semantics;
- stream filters: FlateDecode (stdlib zlib), LZWDecode (the TIFF
  MSB-first early-change machine — operators/tiff.py documents the
  variant deltas; PDF's default ``EarlyChange=1`` is the same bump),
  ASCIIHexDecode, ASCII85Decode, RunLengthDecode, plus PNG predictors
  2..15 on DecodeParms (Sub/Up/Average/Paeth over
  Columns×Colors×BitsPerComponent rows);
- object streams (``/Type /ObjStm``, PDF 1.5): N/First header walk, so
  page dicts hidden in compressed object streams still resolve;
- the page tree (Catalog → Pages → Kids, cycle-guarded, /Resources
  inherited down), /Contents arrays, and the text operators: BT/ET,
  Tf font tracking through q/Q state saves, Tj/'/"/TJ (TJ kerning
  ≤ -180/1000 em renders as a space — the common extractor heuristic),
  Td/TD/T*/Tm line breaks, BI..ID..EI inline-image skip, and Do on
  Form XObjects (recursive, depth-guarded);
- fonts: /ToUnicode CMaps (codespacerange widths, bfchar, bfrange
  incl. the array form, UTF-16BE targets) map codes exactly; simple
  fonts without a CMap fall back to Latin-1 (PDFDocEncoding agrees on
  the printable ASCII range, which is what quality-filterable corpus
  text is made of).

Honest refusals (NotImplementedError → ``error_kind='unsupported'``):
encrypted documents (``/Encrypt`` in a trailer or XRef-stream dict —
RC4/AES needs key derivation no corpus job should reimplement),
DCTDecode/JPXDecode/JBIG2Decode/CCITTFaxDecode/Crypt filters on a
CONTENT stream (image codecs; page images are not text), Type0 fonts
with no ToUnicode CMap (glyph IDs without a mapping are noise, not
text), and payloads that blow the decompression/text budgets (a 1 KB
zip-bomb stream must cost O(budget), not O(inflated)).

Scale: one Arrow-batched ``mapInPandas`` per operator — embarrassingly
parallel over payload partitions, no shuffle, no driver involvement;
the budgets bound per-payload memory so executor sizing is independent
of adversarial inputs. Same 100 TB contract as decode_image.
"""

from __future__ import annotations

import re
import zlib
from typing import Callable

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# object-syntax parser
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REGULAR = bytes(c for c in range(256) if c not in _WS + _DELIM)


class _Name(str):
    """A PDF name token (``/Foo``) — distinct from a decoded string."""


class _Ref(tuple):
    """Indirect reference ``num gen R`` (gen kept for display only)."""

    __slots__ = ()

    @property
    def num(self) -> int:
        return self[0]


_KEYWORDS = {b"true": True, b"false": False, b"null": None}


class _Parser:
    """Recursive-descent parser over one PDF byte buffer.

    Used in two modes: document mode (``parse_value`` after an
    ``N G obj`` match — refs allowed) and content-stream mode
    (``next_content_token`` — bare keywords are operators)."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos
        self.n = len(buf)

    def skip_ws(self) -> None:
        buf, n = self.buf, self.n
        while self.pos < n:
            c = buf[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment to end of line
                eol = buf.find(b"\n", self.pos)
                eolr = buf.find(b"\r", self.pos)
                if eol == -1:
                    eol = eolr
                elif eolr != -1:
                    eol = min(eol, eolr)
                self.pos = n if eol == -1 else eol + 1
            else:
                return

    def _keyword(self) -> bytes:
        start = self.pos
        buf, n = self.buf, self.n
        while self.pos < n and buf[self.pos] in _REGULAR:
            self.pos += 1
        if self.pos == start:
            raise ValueError(
                f"malformed PDF: bare delimiter {buf[start:start+1]!r} "
                f"at offset {start}"
            )
        return buf[start:self.pos]

    def _name(self) -> _Name:
        self.pos += 1  # '/'
        raw = bytearray()
        buf, n = self.buf, self.n
        while self.pos < n and buf[self.pos] in _REGULAR:
            c = buf[self.pos]
            if c == 0x23 and self.pos + 2 < n:  # '#xx'
                try:
                    raw.append(int(buf[self.pos + 1:self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            raw.append(c)
            self.pos += 1
        return _Name(raw.decode("latin-1"))

    def _number(self):
        start = self.pos
        buf, n = self.buf, self.n
        if buf[self.pos] in b"+-":
            self.pos += 1
        seen_dot = False
        while self.pos < n and (buf[self.pos] in b"0123456789"
                                or (buf[self.pos] == 0x2E and not seen_dot)):
            if buf[self.pos] == 0x2E:
                seen_dot = True
            self.pos += 1
        tok = buf[start:self.pos]
        if tok in (b"+", b"-", b".", b"", b"+.", b"-."):
            raise ValueError(f"malformed PDF: bad number at offset {start}")
        return float(tok) if seen_dot else int(tok)

    def _literal_string(self) -> bytes:
        # '(' balanced-paren literal with escapes (ISO 32000-1 §7.3.4.2)
        self.pos += 1
        out = bytearray()
        depth = 1
        buf, n = self.buf, self.n
        while self.pos < n:
            c = buf[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = buf[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                                0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"01234567":
                    oct_digits = bytearray()
                    while (len(oct_digits) < 3 and self.pos < n
                           and buf[self.pos] in b"01234567"):
                        oct_digits.append(buf[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and buf[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            elif c == 0x0D:  # CR / CRLF normalize to LF
                out.append(10)
                self.pos += 1
                if self.pos < n and buf[self.pos] == 0x0A:
                    self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("malformed PDF: unterminated literal string")

    def _hex_string(self) -> bytes:
        self.pos += 1  # '<'
        end = self.buf.find(b">", self.pos)
        if end == -1:
            raise ValueError("malformed PDF: unterminated hex string")
        digits = bytes(c for c in self.buf[self.pos:end]
                       if c not in _WS)
        self.pos = end + 1
        if len(digits) % 2:
            digits += b"0"
        try:
            return bytes.fromhex(digits.decode("ascii"))
        except (ValueError, UnicodeDecodeError):
            raise ValueError("malformed PDF: non-hex digit in hex string")

    def _array(self, allow_refs: bool) -> list:
        self.pos += 1  # '['
        out = []
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise ValueError("malformed PDF: unterminated array")
            if self.buf[self.pos] == 0x5D:  # ']'
                self.pos += 1
                return out
            out.append(self.parse_value(allow_refs))

    def _dict_or_hex(self, allow_refs: bool):
        if self.buf[self.pos:self.pos + 2] == b"<<":
            self.pos += 2
            d = {}
            while True:
                self.skip_ws()
                if self.buf[self.pos:self.pos + 2] == b">>":
                    self.pos += 2
                    return d
                if self.pos >= self.n:
                    raise ValueError("malformed PDF: unterminated dict")
                if self.buf[self.pos] != 0x2F:
                    raise ValueError(
                        "malformed PDF: dict key is not a name at offset "
                        f"{self.pos}"
                    )
                key = self._name()
                self.skip_ws()
                d[str(key)] = self.parse_value(allow_refs)
        return self._hex_string()

    def parse_value(self, allow_refs: bool = True):
        self.skip_ws()
        if self.pos >= self.n:
            raise ValueError("malformed PDF: value expected at end of data")
        c = self.buf[self.pos]
        if c == 0x2F:
            return self._name()
        if c == 0x28:
            return self._literal_string()
        if c == 0x3C:
            return self._dict_or_hex(allow_refs)
        if c == 0x5B:
            return self._array(allow_refs)
        if c in b"+-.0123456789":
            num = self._number()
            if allow_refs and isinstance(num, int) and num >= 0:
                save = self.pos
                try:
                    self.skip_ws()
                    gen = self._number()
                    self.skip_ws()
                    if (isinstance(gen, int) and gen >= 0
                            and self._keyword() == b"R"):
                        return _Ref((num, gen))
                except ValueError:
                    pass
                self.pos = save
            return num
        kw = self._keyword()
        if kw in _KEYWORDS:
            return _KEYWORDS[kw]
        raise ValueError(f"malformed PDF: unexpected keyword {kw!r}")

    def next_content_token(self):
        """Content-stream token: ``('v', value)`` or ``('op', name)`` or
        ``None`` at end of stream."""
        self.skip_ws()
        if self.pos >= self.n:
            return None
        c = self.buf[self.pos]
        if c in b"/(<[+-.0123456789":
            return ("v", self.parse_value(allow_refs=False))
        if c in b")]>}{":
            # stray delimiter — content is conforming-writer output,
            # anything else is a broken stream
            raise ValueError(
                f"malformed PDF: stray {bytes([c])!r} in content stream"
            )
        kw = self._keyword()
        if kw in _KEYWORDS:
            return ("v", _KEYWORDS[kw])
        return ("op", kw.decode("latin-1"))


# ---------------------------------------------------------------------------
# stream filters
# ---------------------------------------------------------------------------

# DCT and CCITT refuse as GENERAL stream filters (content streams are
# never image-compressed by conforming writers) but both decode on the
# image path (_extract_one_image), where their parameters make sense.
_UNSUPPORTED_FILTERS = {
    "DCTDecode", "DCT", "JPXDecode", "JBIG2Decode", "CCITTFaxDecode",
    "CCF", "Crypt",
}


def _lzw_decode_pdf(data: bytes, budget: int | None) -> bytes:
    """PDF LZWDecode — the TIFF 6.0 machine (MSB-first, 9-bit start,
    early change; operators/tiff.py `_lzw_decode` documents the variant
    vs GIF) but with a byte BUDGET instead of an exact expected length:
    PDF streams declare no decoded size, so the cap is the bomb guard.
    A missing EOI ends the stream at data end (writers omit it)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(CLEAR)] + [b"", b""]
        width = 9
        prev = None

    reset()
    acc = nbits = pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1
        if code == CLEAR:
            reset()
            continue
        if code == EOI:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"malformed PDF: LZW code {code} out of range")
        out += entry
        if budget is not None and len(out) > budget:
            raise NotImplementedError(
                f"PDF stream exceeds the inflate budget ({len(out)} > "
                f"{budget} bytes): raise inflate_budget (or pass None) "
                "to force the decode"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        prev = entry


def _flate_decode(data: bytes, budget: int | None) -> bytes:
    d = zlib.decompressobj()
    try:
        if budget is None:
            return d.decompress(data)
        out = d.decompress(data, budget + 1)
    except zlib.error as e:
        raise ValueError(f"malformed PDF: bad Flate stream ({e})")
    if len(out) > budget:
        raise NotImplementedError(
            f"PDF stream exceeds the inflate budget (> {budget} bytes): "
            "raise inflate_budget (or pass None) to force the decode"
        )
    return out


def _ascii_hex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    digits = bytes(c for c in data if c not in _WS)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        raise ValueError("malformed PDF: non-hex digit in ASCIIHexDecode")


def _ascii85_decode(data: bytes) -> bytes:
    data = bytes(c for c in data if c not in _WS)
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for c in data:
        if c == 0x7A and not group:  # 'z' — four zero bytes
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError(
                f"malformed PDF: ASCII85 byte {c:#x} out of range"
            )
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("malformed PDF: ASCII85 group overflows")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("malformed PDF: lone trailing ASCII85 byte")
        k = len(group)
        v = 0
        for g in group + [84] * (5 - k):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _run_length_decode(data: bytes) -> bytes:
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n:
        length = data[pos]
        pos += 1
        if length == 128:
            break
        if length < 128:
            if pos + length + 1 > n:
                raise ValueError("malformed PDF: short RunLength literal")
            out += data[pos:pos + length + 1]
            pos += length + 1
        else:
            if pos >= n:
                raise ValueError("malformed PDF: short RunLength repeat")
            out += data[pos:pos + 1] * (257 - length)
            pos += 1
    return bytes(out)


def _png_predict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """Invert PNG row predictors 10..15 (per-row filter byte) — the
    DecodeParms form used on Flate/LZW streams. Same recurrences as the
    PNG decoder (multimodal.py), scoped to the byte-aligned cases
    DecodeParms produces."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen <= 0 or len(data) % (rowlen + 1):
        raise ValueError(
            f"malformed PDF: predictor data {len(data)}B is not rows of "
            f"{rowlen}+1"
        )
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), rowlen + 1):
        ftype = data[r]
        row = bytearray(data[r + 1:r + 1 + rowlen])
        if ftype == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"malformed PDF: PNG predictor row type {ftype}")
        out += row
        prev = row
    return bytes(out)


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _decode_stream(sdict: dict, raw: bytes, resolve,
                   budget: int | None) -> bytes:
    """Apply the /Filter chain (with /DecodeParms) to one stream."""
    filters = [str(f) for f in _as_list(resolve(sdict.get("Filter")))]
    parms = _as_list(resolve(sdict.get("DecodeParms",
                                       sdict.get("DP"))))
    data = raw
    for i, name in enumerate(filters):
        p = resolve(parms[i]) if i < len(parms) else None
        p = p if isinstance(p, dict) else {}
        if name in ("FlateDecode", "Fl"):
            data = _flate_decode(data, budget)
        elif name in ("LZWDecode", "LZW"):
            if resolve(p.get("EarlyChange", 1)) != 1:
                raise NotImplementedError(
                    "PDF LZWDecode EarlyChange=0 streams are not "
                    "supported (nonstandard late-change variant)"
                )
            data = _lzw_decode_pdf(data, budget)
        elif name in ("ASCIIHexDecode", "AHx"):
            data = _ascii_hex_decode(data)
        elif name in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data)
        elif name in ("RunLengthDecode", "RL"):
            data = _run_length_decode(data)
        elif name in _UNSUPPORTED_FILTERS:
            raise NotImplementedError(
                f"PDF filter {name} needs an image/crypt codec; route to "
                "a codec-library executor image"
            )
        else:
            raise ValueError(f"malformed PDF: unknown filter {name!r}")
        if name in ("FlateDecode", "Fl", "LZWDecode", "LZW"):
            pred = resolve(p.get("Predictor", 1))
            if pred and pred >= 10:
                data = _png_predict(
                    data,
                    int(resolve(p.get("Colors", 1))),
                    int(resolve(p.get("BitsPerComponent", 8))),
                    int(resolve(p.get("Columns", 1))),
                )
            elif pred == 2:
                raise NotImplementedError(
                    "PDF TIFF Predictor 2 on a text stream is not "
                    "supported"
                )
    return data


# ---------------------------------------------------------------------------
# document structure
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")
_TRAILER_RE = re.compile(rb"\btrailer\b")
_EOL_AFTER_STREAM = re.compile(rb"stream(\r\n|\n|\r)")

PDF_MAX_OBJECTS = 200_000


class _Doc:
    """Parsed object table of one PDF payload.

    Objects hold either a plain value or ``('stream', dict, raw_bytes)``.
    Scan order is file order; the LAST definition of an object number
    wins (incremental-update semantics). Object-stream members fill in
    numbers with no standalone definition."""

    def __init__(self, buf: bytes, budget: int | None):
        if not buf.startswith(b"%PDF-"):
            raise ValueError("malformed PDF: missing %PDF- header")
        self.buf = buf
        self.budget = budget
        self.version = buf[5:8].decode("latin-1", "replace")
        self.objects: dict[int, object] = {}
        self.trailers: list[dict] = []
        self._inflated = 0
        self._scan()
        self._check_encryption()
        self._expand_object_streams()

    # -- scanning ----------------------------------------------------------

    def _scan(self) -> None:
        n_seen = 0
        for m in _OBJ_RE.finditer(self.buf):
            n_seen += 1
            if n_seen > PDF_MAX_OBJECTS:
                raise NotImplementedError(
                    f"PDF exceeds the object budget (> {PDF_MAX_OBJECTS} "
                    "objects); raise PDF_MAX_OBJECTS to force the parse"
                )
            num = int(m.group(1))
            p = _Parser(self.buf, m.end())
            try:
                value = p.parse_value()
            except ValueError:
                continue  # false-positive 'obj' inside a string/stream
            p.skip_ws()
            if (isinstance(value, dict)
                    and self.buf[p.pos:p.pos + 6] == b"stream"):
                sm = _EOL_AFTER_STREAM.match(self.buf, p.pos)
                if sm is None:
                    raise ValueError(
                        "malformed PDF: 'stream' keyword without EOL"
                    )
                start = sm.end()
                raw = self._stream_bytes(value, start)
                self.objects[num] = ("stream", value, raw)
            else:
                self.objects[num] = value
        for m in _TRAILER_RE.finditer(self.buf):
            p = _Parser(self.buf, m.end())
            try:
                t = p.parse_value()
            except ValueError:
                continue
            if isinstance(t, dict):
                self.trailers.append(t)
        # XRef streams double as trailers (PDF 1.5+, no 'trailer' keyword)
        for v in self.objects.values():
            if (isinstance(v, tuple) and v[0] == "stream"
                    and str(v[1].get("Type", "")) == "XRef"):
                self.trailers.append(v[1])
        if not self.objects:
            raise ValueError("malformed PDF: no objects found")

    def _stream_bytes(self, sdict: dict, start: int) -> bytes:
        length = sdict.get("Length")
        if isinstance(length, _Ref):
            target = self.objects.get(length.num)
            length = target if isinstance(target, int) else None
        if isinstance(length, int) and 0 <= length <= len(self.buf) - start:
            cand = self.buf[start:start + length]
            tail = self.buf[start + length:start + length + 16]
            if tail.lstrip(b"\r\n ").startswith(b"endstream"):
                return cand
        end = self.buf.find(b"endstream", start)
        if end == -1:
            raise ValueError("malformed PDF: stream without endstream")
        return self.buf[start:end].rstrip(b"\r\n")

    def _check_encryption(self) -> None:
        for t in self.trailers:
            if "Encrypt" in t:
                raise NotImplementedError(
                    "encrypted PDF: RC4/AES decryption needs key "
                    "derivation outside this engine's scope; route to a "
                    "document-library executor image"
                )

    # -- resolution --------------------------------------------------------

    def resolve(self, v, depth: int = 0):
        while isinstance(v, _Ref):
            if depth > 32:
                raise ValueError("malformed PDF: reference cycle")
            v = self.objects.get(v.num)
            depth += 1
        return v

    def stream_data(self, v) -> bytes:
        v = self.resolve(v)
        if not (isinstance(v, tuple) and v[0] == "stream"):
            raise ValueError("malformed PDF: expected a stream object")
        data = _decode_stream(v[1], v[2], self.resolve, self.budget)
        self._inflated += len(data)
        if self.budget is not None and self._inflated > self.budget:
            raise NotImplementedError(
                f"PDF exceeds the cumulative inflate budget "
                f"({self._inflated} > {self.budget} bytes): raise "
                "inflate_budget (or pass None) to force the decode"
            )
        return data

    # -- object streams ----------------------------------------------------

    def _expand_object_streams(self) -> None:
        for v in list(self.objects.values()):
            if not (isinstance(v, tuple) and v[0] == "stream"
                    and str(v[1].get("Type", "")) == "ObjStm"):
                continue
            data = self.stream_data(v)
            n = self.resolve(v[1].get("N"))
            first = self.resolve(v[1].get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise ValueError("malformed PDF: ObjStm without N/First")
            hp = _Parser(data[:first])
            pairs = []
            for _ in range(n):
                hp.skip_ws()
                num = hp._number()
                hp.skip_ws()
                off = hp._number()
                if not isinstance(num, int) or not isinstance(off, int):
                    raise ValueError("malformed PDF: non-int ObjStm header")
                pairs.append((num, off))
            for num, off in pairs:
                if num in self.objects:
                    continue  # a standalone (newer) definition wins
                op = _Parser(data, first + off)
                self.objects[num] = op.parse_value()

    # -- page tree ---------------------------------------------------------

    def catalog(self) -> dict:
        for t in self.trailers:
            root = self.resolve(t.get("Root"))
            if isinstance(root, dict) and "Pages" in root:
                return root
        # damaged xref — fall back to the last /Type /Catalog object
        cat = None
        for v in self.objects.values():
            v = v[1] if isinstance(v, tuple) else v
            if isinstance(v, dict) and str(v.get("Type", "")) == "Catalog":
                cat = v
        if cat is None:
            raise ValueError("malformed PDF: no document catalog")
        return cat

    def pages(self) -> list[dict]:
        """In-order leaf /Page dicts with /Resources inheritance applied
        (each returned dict gains a ``__resources__`` key)."""
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node_ref, inherited_res, depth):
            if depth > 64:
                raise ValueError("malformed PDF: page tree too deep")
            if isinstance(node_ref, _Ref):
                if node_ref.num in seen:
                    raise ValueError("malformed PDF: page tree cycle")
                seen.add(node_ref.num)
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                raise ValueError("malformed PDF: page node is not a dict")
            res = self.resolve(node.get("Resources")) or inherited_res
            t = str(node.get("Type", ""))
            if t == "Page" or ("Kids" not in node and "Contents" in node):
                page = dict(node)
                page["__resources__"] = res if isinstance(res, dict) else {}
                out.append(page)
                return
            kids = self.resolve(node.get("Kids"))
            if not isinstance(kids, list):
                raise ValueError("malformed PDF: Pages node without Kids")
            for kid in kids:
                walk(kid, res, depth + 1)

        walk(self.catalog().get("Pages"), None, 0)
        return out


# ---------------------------------------------------------------------------
# fonts / ToUnicode CMaps
# ---------------------------------------------------------------------------

def _parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """Parse a ToUnicode CMap stream → (code byte-width, code→str map).

    Handles begincodespacerange (width from the hex token length),
    beginbfchar, and beginbfrange including the array destination form;
    destinations are UTF-16BE per the spec."""
    p = _Parser(data)
    width = 1
    cmap: dict[int, str] = {}

    def to_str(b: bytes) -> str:
        if len(b) % 2:
            b += b"\x00"  # tolerate odd writers
        return b.decode("utf-16-be", "replace")

    while True:
        tok = p.next_content_token()
        if tok is None:
            return width, cmap
        if tok[0] != "op":
            continue
        op = tok[1]
        if op == "begincodespacerange":
            while True:
                t = p.next_content_token()
                if t is None or (t[0] == "op"
                                 and t[1] == "endcodespacerange"):
                    break
                if t[0] == "v" and isinstance(t[1], bytes):
                    width = max(width, len(t[1]))
        elif op == "beginbfchar":
            pending: list[bytes] = []
            while True:
                t = p.next_content_token()
                if t is None or (t[0] == "op" and t[1] == "endbfchar"):
                    break
                if t[0] == "v" and isinstance(t[1], bytes):
                    pending.append(t[1])
                    if len(pending) == 2:
                        src, dst = pending
                        cmap[int.from_bytes(src, "big")] = to_str(dst)
                        pending = []
        elif op == "beginbfrange":
            pending2: list = []
            while True:
                t = p.next_content_token()
                if t is None or (t[0] == "op" and t[1] == "endbfrange"):
                    break
                if t[0] != "v":
                    continue
                pending2.append(t[1])
                if len(pending2) == 3:
                    lo_b, hi_b, dst = pending2
                    pending2 = []
                    if not (isinstance(lo_b, bytes)
                            and isinstance(hi_b, bytes)):
                        continue
                    lo = int.from_bytes(lo_b, "big")
                    hi = int.from_bytes(hi_b, "big")
                    if hi - lo > 0x10000:
                        raise ValueError(
                            "malformed PDF: bfrange spans over 65536 codes"
                        )
                    if isinstance(dst, list):
                        for i, d in enumerate(dst):
                            if isinstance(d, bytes) and lo + i <= hi:
                                cmap[lo + i] = to_str(d)
                    elif isinstance(dst, bytes):
                        base = to_str(dst)
                        if base:
                            head, last = base[:-1], ord(base[-1])
                            for i in range(hi - lo + 1):
                                cmap[lo + i] = head + chr(last + i)


def _font_decoder(doc: _Doc, font: dict) -> Callable[[bytes], str]:
    """String-bytes → text decoder for one font resource."""
    tu = font.get("ToUnicode")
    if tu is not None:
        width, cmap = _parse_tounicode(doc.stream_data(tu))

        def decode(b: bytes, _w=width, _m=cmap) -> str:
            out = []
            for i in range(0, len(b) - (_w - 1), _w):
                code = int.from_bytes(b[i:i + _w], "big")
                out.append(_m.get(
                    code, chr(code) if _w == 1 else "�"))
            return "".join(out)

        return decode
    if str(doc.resolve(font.get("Subtype", ""))) == "Type0":
        raise NotImplementedError(
            "PDF Type0 font without a ToUnicode CMap: glyph IDs carry no "
            "text mapping; route to a document-library executor image"
        )
    return lambda b: b.decode("latin-1")


# ---------------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------------

# TJ kerning at or past this many thousandths of an em reads as a word
# gap — the common extractor heuristic (a typical space glyph is
# 250-500/1000 em wide).
TJ_SPACE_THRESHOLD = -180


def _skip_inline_image(p: _Parser) -> None:
    """Position past a BI..ID <binary> EI inline image. The dict part was
    already consumed token-by-token; from ID, binary runs to the first
    'EI' bounded by whitespace."""
    pos = p.pos
    if pos < p.n and p.buf[pos] in _WS:
        pos += 1
    while True:
        e = p.buf.find(b"EI", pos)
        if e == -1:
            raise ValueError("malformed PDF: inline image without EI")
        before_ok = e == 0 or p.buf[e - 1] in _WS
        after = p.buf[e + 2:e + 3]
        after_ok = after == b"" or after[0] in _WS + _DELIM
        if before_ok and after_ok:
            p.pos = e + 2
            return
        pos = e + 1


def _extract_page_text(doc: _Doc, content: bytes, resources: dict,
                       text_budget: int | None, depth: int = 0) -> str:
    """Run the text-relevant subset of the content-stream operator set."""
    if depth > 8:
        raise ValueError("malformed PDF: Form XObject nesting too deep")
    fonts_raw = doc.resolve(resources.get("Font")) if resources else None
    fonts_raw = fonts_raw if isinstance(fonts_raw, dict) else {}
    decoders: dict[str, Callable[[bytes], str]] = {}

    def decoder_for(name: str | None) -> Callable[[bytes], str]:
        if name is None or name not in fonts_raw:
            return lambda b: b.decode("latin-1")
        if name not in decoders:
            font = doc.resolve(fonts_raw[name])
            decoders[name] = (_font_decoder(doc, font)
                              if isinstance(font, dict)
                              else (lambda b: b.decode("latin-1")))
        return decoders[name]

    p = _Parser(content)
    operands: list = []
    out: list[str] = []
    line_len = 0
    cur_font: str | None = None
    font_stack: list[str | None] = []
    total = 0

    def emit(s: str) -> None:
        nonlocal line_len, total
        if not s:
            return
        total += len(s)
        if text_budget is not None and total > text_budget:
            raise NotImplementedError(
                f"PDF exceeds the text budget (> {text_budget} chars): "
                "raise text_budget (or pass None) to force the extract"
            )
        out.append(s)
        line_len = 0 if s.endswith("\n") else line_len + len(s)

    def newline() -> None:
        nonlocal line_len
        if line_len:
            # trailing intra-line spaces are layout, not content
            while out and out[-1].endswith(" "):
                trimmed = out[-1].rstrip(" ")
                if trimmed:
                    out[-1] = trimmed
                    break
                out.pop()
            emit("\n")

    def show(raw) -> None:
        if isinstance(raw, bytes):
            emit(decoder_for(cur_font)(raw))

    while True:
        tok = p.next_content_token()
        if tok is None:
            break
        if tok[0] == "v":
            operands.append(tok[1])
            continue
        op = tok[1]
        if op == "Tj" and operands:
            show(operands[-1])
        elif op == "TJ" and operands and isinstance(operands[-1], list):
            for el in operands[-1]:
                if isinstance(el, bytes):
                    show(el)
                elif (isinstance(el, (int, float))
                      and el <= TJ_SPACE_THRESHOLD):
                    emit(" ")
        elif op == "'" and operands:
            newline()
            show(operands[-1])
        elif op == '"' and operands:
            newline()
            show(operands[-1])
        elif op in ("Td", "TD") and len(operands) >= 2:
            ty = operands[-1]
            if isinstance(ty, (int, float)) and ty != 0:
                newline()
        elif op == "T*":
            newline()
        elif op == "Tm":
            newline()
        elif op == "Tf" and len(operands) >= 2:
            name = operands[-2]
            cur_font = str(name) if isinstance(name, _Name) else None
        elif op == "ET":
            newline()
        elif op == "q":
            font_stack.append(cur_font)
        elif op == "Q":
            if font_stack:
                cur_font = font_stack.pop()
        elif op == "ID":
            _skip_inline_image(p)
        elif op == "Do" and operands and isinstance(operands[-1], _Name):
            xobjs = doc.resolve(resources.get("XObject")) if resources \
                else None
            if isinstance(xobjs, dict) and str(operands[-1]) in xobjs:
                xo = doc.resolve(xobjs[str(operands[-1])])
                if (isinstance(xo, tuple) and xo[0] == "stream"
                        and str(doc.resolve(
                            xo[1].get("Subtype", ""))) == "Form"):
                    xres = doc.resolve(xo[1].get("Resources"))
                    emit(_extract_page_text(
                        doc, doc.stream_data(xo),
                        xres if isinstance(xres, dict) else resources,
                        text_budget, depth + 1,
                    ))
        operands = []
    return "".join(out)


# ---------------------------------------------------------------------------
# top-level per-payload entry points
# ---------------------------------------------------------------------------

PDF_INFLATE_BUDGET = 64 << 20  # decompressed bytes per document
PDF_TEXT_BUDGET = 16 << 20     # extracted chars per document


def extract_pdf_text(payload: bytes,
                     inflate_budget: int | None = PDF_INFLATE_BUDGET,
                     text_budget: int | None = PDF_TEXT_BUDGET,
                     ) -> tuple[str, int, str]:
    """(version, n_pages, text) for one PDF payload. Pages join on
    ``\\f`` (the pdftotext convention); per-page text is stripped."""
    doc = _Doc(bytes(payload), inflate_budget)
    pages = doc.pages()
    texts = []
    for page in pages:
        contents = doc.resolve(page.get("Contents"))
        chunks = []
        for c in _as_list(contents):
            chunks.append(doc.stream_data(c))
        content = b"\n".join(chunks)
        texts.append(_extract_page_text(
            doc, content, page["__resources__"], text_budget).strip())
    return doc.version, len(pages), "\f".join(texts)


def _pdf_text_string(b) -> str | None:
    """Decode a PDF text string (ISO 32000-1 §7.9.2.2): UTF-16BE with a
    BOM, else PDFDocEncoding (Latin-1 on the printable range)."""
    if not isinstance(b, bytes) or not b:
        return None
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    return b.decode("latin-1")


def probe_pdf(payload: bytes) -> dict:
    """Header-cost structural probe: version, object/page counts,
    encryption flag, and the Info-dict provenance fields (Title /
    Author / Producer — source-stratification keys for a document
    corpus). No stream is decompressed (ObjStm-only page dicts fall
    back to the Pages-root /Count, which standalone writers keep in a
    plain object)."""
    buf = bytes(payload)
    if not buf.startswith(b"%PDF-"):
        raise ValueError("malformed PDF: missing %PDF- header")
    version = buf[5:8].decode("latin-1", "replace")
    n_objects = 0
    pages_counts: list[int] = []
    encrypted = False
    objects: dict[int, tuple[int, int]] = {}
    for m in _OBJ_RE.finditer(buf):
        n_objects += 1
        if n_objects > PDF_MAX_OBJECTS:
            raise NotImplementedError(
                f"PDF exceeds the object budget (> {PDF_MAX_OBJECTS} "
                "objects)"
            )
        objects[int(m.group(1))] = (m.start(), m.end())
    if not objects:
        raise ValueError("malformed PDF: no objects found")

    def parse_at(pos: int):
        return _Parser(buf, pos).parse_value()

    trailer_dicts = []
    for m in _TRAILER_RE.finditer(buf):
        try:
            t = parse_at(m.end())
        except ValueError:
            continue
        if isinstance(t, dict):
            trailer_dicts.append(t)
    for num, (_, end) in objects.items():
        try:
            v = parse_at(end)
        except ValueError:
            continue
        if not isinstance(v, dict):
            continue
        t = str(v.get("Type", ""))
        if t == "XRef":
            trailer_dicts.append(v)
        elif t == "Pages" and isinstance(v.get("Count"), int):
            pages_counts.append(v["Count"])
    encrypted = any("Encrypt" in t for t in trailer_dicts)
    n_pages = max(pages_counts) if pages_counts else None
    if n_pages is None:
        n_leaf = len(re.findall(rb"/Type\s*/Page[^s]", buf))
        n_pages = n_leaf if n_leaf else None
    title = author = producer = None
    for t in trailer_dicts:
        info_ref = t.get("Info")
        if not isinstance(info_ref, _Ref) or info_ref.num not in objects:
            continue
        try:
            info = parse_at(objects[info_ref.num][1])
        except ValueError:
            continue
        if isinstance(info, dict):
            title = _pdf_text_string(info.get("Title")) or title
            author = _pdf_text_string(info.get("Author")) or author
            producer = _pdf_text_string(info.get("Producer")) or producer
    return {
        "version": version,
        "n_objects": n_objects,
        "n_pages": n_pages,
        "encrypted": encrypted,
        "title": title,
        "author": author,
        "producer": producer,
    }


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

PDF_TEXT_SCHEMA = (
    "doc_id bigint, format string, version string, n_pages int, "
    "n_chars int, text string, error string, error_kind string"
)
PDF_META_SCHEMA = (
    "doc_id bigint, format string, version string, n_objects int, "
    "n_pages int, encrypted boolean, title string, author string, "
    "producer string, error string, error_kind string"
)


def pdf_text(blobs: DataFrame,
             inflate_budget: int | None = PDF_INFLATE_BUDGET,
             text_budget: int | None = PDF_TEXT_BUDGET) -> DataFrame:
    """REAL PDF text extraction over ``(doc_id, payload)`` — one row per
    document: version, page count, extracted text (pages joined on
    ``\\f``). Same Arrow-batched mapInPandas + quarantine contract as
    :func:`operators.multimodal.decode_image`; encrypted documents,
    image-codec filters, unmapped Type0 fonts, and budget blows route
    to ``error_kind='unsupported'``, structural damage to
    ``'corrupt'``.

    If the input carries a ``source`` string column it passes through
    unchanged — provenance (a crawl URI) rides along without a
    join-back shuffle."""
    from .multimodal import _quarantine_map

    def one(payload):
        ver, n_pages, text = extract_pdf_text(
            payload, inflate_budget=inflate_budget, text_budget=text_budget)
        return {"format": "pdf", "version": ver, "n_pages": n_pages,
                "n_chars": len(text), "text": text}

    if "source" not in blobs.columns:
        return _quarantine_map(blobs, one, PDF_TEXT_SCHEMA)
    return _quarantine_map(
        blobs, one,
        PDF_TEXT_SCHEMA.replace("text string", "text string, source string"),
        carry=("source",))


def pdf_meta(blobs: DataFrame) -> DataFrame:
    """Structural probe over ``(doc_id, payload)``: version, object and
    page counts, encryption flag — no stream decompression, so a probe
    over a crawl partition costs O(bytes scanned), never O(inflated)."""
    from .multimodal import _quarantine_map

    def one(payload):
        return {"format": "pdf", **probe_pdf(payload)}

    return _quarantine_map(blobs, one, PDF_META_SCHEMA)


# ---------------------------------------------------------------------------
# image XObject extraction (r12)
# ---------------------------------------------------------------------------

PDF_IMAGES_SCHEMA = (
    "doc_id bigint, page_idx int, image_idx int, name string, "
    "format string, width int, height int, payload binary, "
    "error string, error_kind string"
)

_PDF_FORM_DEPTH = 8  # nested Form-XObject recursion cap


def _image_colorspace(doc: "_Doc", cs):
    """Resolve an image /ColorSpace → ``(ncomp, palette)`` where
    ``palette`` is ``None`` for direct spaces or ``(bytes, base_ncomp)``
    for /Indexed. Supported: DeviceRGB/CalRGB (3), DeviceGray/CalGray
    (1), DeviceCMYK (4 — converted to RGB via the naive device
    transform, r12), ICCBased with /N 1, 3, or 4 (treated as the
    device twin — the ICC profile only affects color rendering, not
    sample layout), and Indexed over any of those. Everything else
    (Separation, Lab, DeviceN) refuses honestly."""
    cs = doc.resolve(cs)
    if isinstance(cs, str):
        s = str(cs)
        if s in ("DeviceRGB", "CalRGB"):
            return 3, None
        if s in ("DeviceGray", "CalGray"):
            return 1, None
        if s == "DeviceCMYK":
            return 4, None
        raise NotImplementedError(
            f"PDF image color space /{s} needs a color-management "
            "transform; route to a codec-library executor image"
        )
    if isinstance(cs, list) and cs:
        head = str(doc.resolve(cs[0]))
        if head == "ICCBased" and len(cs) >= 2:
            prof = doc.resolve(cs[1])
            n = None
            if isinstance(prof, tuple) and prof[0] == "stream":
                n = doc.resolve(prof[1].get("N"))
            if n == 3:
                return 3, None
            if n == 1:
                return 1, None
            if n == 4:
                return 4, None
            raise NotImplementedError(
                f"PDF ICCBased color space with N={n!r} is not a "
                "grey/RGB/CMYK layout"
            )
        if head == "Indexed" and len(cs) == 4:
            base_n, base_pal = _image_colorspace(doc, cs[1])
            if base_pal is not None:
                raise ValueError(
                    "malformed PDF: Indexed over Indexed color space"
                )
            lookup = doc.resolve(cs[3])
            if isinstance(lookup, tuple) and lookup[0] == "stream":
                pal = doc.stream_data(lookup)
            elif isinstance(lookup, bytes):
                pal = lookup
            else:
                raise ValueError(
                    "malformed PDF: Indexed lookup is neither a string "
                    "nor a stream"
                )
            hival = doc.resolve(cs[2])
            if not isinstance(hival, int) or hival < 0:
                raise ValueError("malformed PDF: Indexed hival")
            if len(pal) < (hival + 1) * base_n:
                raise ValueError(
                    "malformed PDF: Indexed lookup table shorter than "
                    "(hival+1) * ncomp"
                )
            return base_n, (bytes(pal), hival)
    raise NotImplementedError(
        f"PDF image color space {cs!r} is not supported"
    )


def _pnm_wrap(samples: bytes, w: int, h: int, ncomp: int) -> tuple[str,
                                                                   bytes]:
    """Raw 8-bit samples → a standalone PNM payload the in-repo image
    pipeline (multimodal._decode_rgb, imagehash) decodes directly:
    P6/PPM for RGB, P5/PGM for grey."""
    need = w * h * ncomp
    if len(samples) < need:
        raise ValueError(
            f"malformed PDF: image data holds {len(samples)} bytes, "
            f"needs {need} for {w}x{h}x{ncomp}"
        )
    magic = b"P6" if ncomp == 3 else b"P5"
    header = magic + b"\n%d %d\n255\n" % (w, h)
    return ("ppm" if ncomp == 3 else "pgm"), header + samples[:need]


def _bilevel_image_setup(doc: "_Doc", sdict, raw, filters,
                         codec_name: str):
    """Shared tail setup for the bilevel codec filters (CCITTFaxDecode
    and JBIG2Decode — r14 review consolidation so the two branches
    cannot drift): peel preceding transport filters, pick the tail
    filter's DecodeParms entry, validate BitsPerComponent (1) and a
    gray color space, and parse the /Decode array (identity or the
    [1 0] inversion). Returns ``(data, parm, dec_flip)``."""
    parms_list = [doc.resolve(v) for v in _as_list(doc.resolve(
        sdict.get("DecodeParms", sdict.get("DP"))))]
    if len(filters) > 1:
        sub = dict(sdict)
        sub[_Name("Filter")] = [_Name(f) for f in filters[:-1]]
        sub[_Name("DecodeParms")] = parms_list[: len(filters) - 1]
        data = _decode_stream(sub, raw, doc.resolve, doc.budget)
    else:
        data = raw
    parm = None
    if parms_list:
        if len(parms_list) == len(filters):
            parm = parms_list[-1]
        elif len(filters) == 1:
            parm = parms_list[0]
    parm = parm if isinstance(parm, dict) else {}
    bpc = doc.resolve(sdict.get("BitsPerComponent"))
    if bpc not in (None, 1):
        raise ValueError(
            f"malformed PDF: {codec_name} image with BitsPerComponent="
            f"{bpc!r} (must be 1)")
    if sdict.get("ColorSpace") is not None:
        ncomp, pal = _image_colorspace(doc, sdict.get("ColorSpace"))
        if ncomp != 1 or pal is not None:
            raise NotImplementedError(
                f"{codec_name} image with a non-gray color space")
    dec = doc.resolve(sdict.get("Decode"))
    dec_flip = False
    if dec is not None:
        flat = [doc.resolve(v) for v in _as_list(dec)]
        if flat == [1, 0]:
            # the common companion of BlackIs1 in scanned PDFs: for
            # 1-bit gray, /Decode [1 0] is a pure inversion
            dec_flip = True
        elif flat != [0, 1]:
            raise NotImplementedError(
                f"PDF image /Decode {flat!r} remaps samples; only "
                "identity and [1 0] inversion are supported for "
                f"{codec_name} images")
    return data, parm, dec_flip


def _bilevel_pgm(bil, one_is_sample: bool, dec_flip: bool,
                 w: int, h: int) -> tuple[str, bytes]:
    """Bilevel array → P5 PGM: sample bit selection (``one_is_sample``
    = the decoded 1 bits ARE the sample value, e.g. BlackIs1), the
    optional /Decode [1 0] inversion, then 1-bit → 0/255."""
    sample = bil if one_is_sample else (1 - bil)
    if dec_flip:
        sample = 1 - sample
    grey = (sample * 255).astype("uint8")
    return _pnm_wrap(grey.tobytes(), w, h, 1)


def _extract_one_image(doc: "_Doc", obj) -> tuple[str, int, int, bytes]:
    """One image XObject → ``(format, width, height, payload)``.

    Two routes, both landing on a payload the in-repo decoders already
    accept — the pdf analog of archives.members_as_payloads bridging
    tarballs into the decode pipeline (VERDICT r11 item 2):

    - **DCTDecode tail** → the remaining stream bytes ARE a baseline
      JPEG; any preceding transfer filters (A85/AHx/Flate) are applied
      and the JPEG payload passes through verbatim for
      operators/jpeg.py.
    - **fully-decodable filter chain** (Flate/LZW/A85/AHx/RL/none) →
      8-bit DeviceGray/DeviceRGB/Indexed samples, wrapped as P5/P6 PNM.

    - **CCITTFaxDecode tail** (r13) → Group 4 (K<0), modified-
      Huffman (K=0), and mixed 1D/2D G3 (K>0) fax decode via
      operators/ccitt.py, honoring Columns/BlackIs1/
      EncodedByteAlign and the /Decode [1 0] inversion, emitted as
      P5 PGM.

    - **JBIG2Decode tail** (r14) → MMR-coded generic regions decode
      via operators/jbig2.py (segment parse + the T.6 decoder),
      honoring JBIG2Globals and the /Decode [1 0] inversion;
      arithmetic-coded (MQ) segments still refuse inside the module.

    JPXDecode, arithmetic JBIG2, ImageMask stencils, non-8-bit
    sample depths (the bilevel codecs' 1-bit aside), exotic color
    spaces, and non-default /Decode arrays refuse as 'unsupported'
    (quarantine-routed per image)."""
    sdict, raw = obj[1], obj[2]
    w = doc.resolve(sdict.get("Width"))
    h = doc.resolve(sdict.get("Height"))
    if not isinstance(w, int) or not isinstance(h, int) \
            or w <= 0 or h <= 0:
        raise ValueError("malformed PDF: image without Width/Height")
    filters = [str(f) for f in
               _as_list(doc.resolve(sdict.get("Filter")))]
    if filters and filters[-1] in ("DCTDecode", "DCT"):
        # preceding filters are byte-transport encodings; peel them and
        # the remainder is a standalone JPEG
        if len(filters) > 1:
            sub = dict(sdict)
            sub[_Name("Filter")] = [_Name(f) for f in filters[:-1]]
            parms = _as_list(doc.resolve(
                sdict.get("DecodeParms", sdict.get("DP"))))
            sub[_Name("DecodeParms")] = parms[: len(filters) - 1]
            data = _decode_stream(sub, raw, doc.resolve, doc.budget)
        else:
            data = raw
        return "jpeg", w, h, data
    if doc.resolve(sdict.get("ImageMask")) is True:
        raise NotImplementedError(
            "PDF ImageMask stencil images carry no color samples; "
            "masks are not corpus images"
        )
    if filters and filters[-1] in ("CCITTFaxDecode", "CCF"):
        # r13 (VERDICT r12 item 3): CCITT fax — the compression of
        # scanned-document PDFs — decodes via operators/ccitt.py for
        # ALL K regimes (K<0 Group 4, K=0 MH, K>0 mixed 1D/2D G3);
        # preceding transfer filters peel exactly like the DCT path.
        from .ccitt import decode_g3, decode_g4, decode_mh

        data, parm, dec_flip = _bilevel_image_setup(
            doc, sdict, raw, filters, "CCITT")

        def _p(name, default):
            v = doc.resolve(parm.get(name))
            return default if v is None else v

        k = _p("K", 0)
        columns = _p("Columns", 1728)
        black1 = _p("BlackIs1", False) is True
        align = _p("EncodedByteAlign", False) is True
        if not isinstance(k, int) or not isinstance(columns, int):
            raise ValueError("malformed PDF: CCITT K/Columns not ints")

        if columns != w:
            raise ValueError(
                f"malformed PDF: CCITT Columns={columns} but image "
                f"Width={w}"
            )
        if k < 0:
            bil = decode_g4(data, columns, h, byte_align=align)
        elif k > 0:
            # mixed 1D/2D G3 (r13): EOL+tag per line; the EOL scanner
            # absorbs zero fill, so EncodedByteAlign needs no plumbing
            bil = decode_g3(data, columns, h)
        else:
            bil = decode_mh(data, columns, h, byte_align=align)
        # sample bit per BlackIs1 (default: 0 bits are black), then
        # the 1-bit DeviceGray scaling — shared with JBIG2
        fmt_c, payload_c = _bilevel_pgm(bil, black1, dec_flip, w, h)
        return fmt_c, w, h, payload_c
    if filters and filters[-1] == "JBIG2Decode":
        # r14 (VERDICT r13 item 4 precursor, item 3): MMR-coded JBIG2
        # generic regions decode — T.88 defines MMR region coding AS
        # T.6, so operators/jbig2.py composes segment parsing over the
        # existing ccitt.decode_g4. Arithmetic-coded (MQ) segments
        # keep refusing inside decode_jbig2 (mirror-bug policy).
        from .jbig2 import decode_jbig2

        data, parm, dec_flip_j = _bilevel_image_setup(
            doc, sdict, raw, filters, "JBIG2")
        globals_data = None
        gref = parm.get("JBIG2Globals")
        if gref is not None:
            gobj = doc.resolve(gref)
            if not (isinstance(gobj, tuple) and gobj[0] == "stream"):
                raise ValueError(
                    "malformed PDF: JBIG2Globals is not a stream")
            globals_data = doc.stream_data(gobj)
        bil = decode_jbig2(data, globals_data)
        if bil.shape != (h, w):
            raise ValueError(
                f"malformed PDF: JBIG2 page {bil.shape[1]}x"
                f"{bil.shape[0]} but image is {w}x{h}")
        # JBIG2 foreground is 1 = black; DeviceGray samples put black
        # at 0 (every viewer inverts this filter's output)
        fmt_j, payload_j = _bilevel_pgm(bil, False, dec_flip_j, w, h)
        return fmt_j, w, h, payload_j
    bpc = doc.resolve(sdict.get("BitsPerComponent"))
    if bpc != 8:
        raise NotImplementedError(
            f"PDF image BitsPerComponent={bpc!r}: only 8-bit samples "
            "are unpacked here"
        )
    ncomp, palette = _image_colorspace(doc, sdict.get("ColorSpace"))
    decode_arr = doc.resolve(sdict.get("Decode"))
    if decode_arr is not None:
        # default /Decode: [0 1] per component for direct spaces,
        # [0 (2^bpc - 1)] for Indexed — anything else remaps samples
        default = [0, 255] if palette is not None else [0, 1] * ncomp
        flat = [doc.resolve(v) for v in _as_list(decode_arr)]
        if flat != default:
            raise NotImplementedError(
                f"PDF image /Decode {flat!r} remaps samples; only the "
                "default identity mapping is supported"
            )
    data = doc.stream_data(obj)
    if palette is not None:
        pal, hival = palette
        need = w * h
        if len(data) < need:
            raise ValueError(
                "malformed PDF: Indexed image data shorter than "
                "width*height"
            )
        idx_bytes = data[:need]
        top = max(idx_bytes) if idx_bytes else 0
        if top > hival:
            raise ValueError(
                f"malformed PDF: palette index {top} > hival {hival}"
            )
        # one range check + a table gather — no per-pixel Python loop
        table = [pal[i * ncomp: (i + 1) * ncomp]
                 for i in range(hival + 1)]
        data = b"".join(map(table.__getitem__, idx_bytes))
    if ncomp == 4:
        # naive DeviceCMYK -> RGB (the PDF spec's device transform,
        # 8-bit integer form): r = (255-C)(255-K)/255, likewise g/b —
        # vectorized, no per-pixel Python
        import numpy as np

        need = w * h * 4
        if len(data) < need:
            raise ValueError(
                f"malformed PDF: image data holds {len(data)} bytes, "
                f"needs {need} for {w}x{h}x4"
            )
        cmyk = np.frombuffer(data[:need], dtype=np.uint8) \
            .reshape(-1, 4).astype(np.uint16)
        inv_k = 255 - cmyk[:, 3]
        rgb = ((255 - cmyk[:, :3]) * inv_k[:, None] // 255) \
            .astype(np.uint8)
        data = rgb.tobytes()
        ncomp = 3
    fmt, payload = _pnm_wrap(data, w, h, ncomp)
    return fmt, w, h, payload


def extract_pdf_images(payload: bytes,
                       inflate_budget: int | None = PDF_INFLATE_BUDGET,
                       ) -> list[dict]:
    """All image XObjects of one PDF, page order, Form XObjects walked
    recursively (cycle-guarded). One dict per image encountered:
    ``{page_idx, image_idx, name, format, width, height, payload}`` on
    success, or ``{..., error, error_kind}`` when that single image
    refuses — one bad image never hides the document's other images."""
    from .multimodal import _row_or_error

    doc = _Doc(bytes(payload), inflate_budget)
    out: list[dict] = []
    per_page_count: dict[int, int] = {}

    def walk(resources, page_idx, prefix, seen, depth):
        if depth > _PDF_FORM_DEPTH:
            raise ValueError("malformed PDF: Form XObject nesting too "
                             "deep")
        res = doc.resolve(resources)
        if not isinstance(res, dict):
            return
        xobjects = doc.resolve(res.get("XObject"))
        if not isinstance(xobjects, dict):
            return
        for key, ref in xobjects.items():
            ref_num = ref.num if isinstance(ref, _Ref) else None
            obj = doc.resolve(ref)
            if not (isinstance(obj, tuple) and obj[0] == "stream"):
                continue
            subtype = str(obj[1].get("Subtype", ""))
            name = prefix + str(key)
            if subtype == "Form":
                if ref_num is not None:
                    if ref_num in seen:
                        continue  # cycle: each form walked once
                    seen = seen | {ref_num}
                walk(obj[1].get("Resources"), page_idx, name + "/",
                     seen, depth + 1)
                continue
            if subtype != "Image":
                continue
            image_idx = per_page_count.get(page_idx, 0)
            per_page_count[page_idx] = image_idx + 1
            out.append({
                "page_idx": page_idx, "image_idx": image_idx,
                "name": name, "format": None, "width": None,
                "height": None, "payload": None,
                "error": None, "error_kind": None,
                **_row_or_error(lambda: dict(zip(
                    ("format", "width", "height", "payload"),
                    _extract_one_image(doc, obj)))),
            })

    for page_idx, page in enumerate(doc.pages()):
        walk(page.get("__resources__"), page_idx, "", frozenset(), 0)
    return out


def pdf_images(blobs: DataFrame,
               inflate_budget: int | None = PDF_INFLATE_BUDGET,
               ) -> DataFrame:
    """PDF payloads → one row per embedded image XObject, as a payload
    the image pipeline decodes directly: DCTDecode streams pass through
    as standalone JPEGs, fully-decodable chains unpack to P5/P6 PNM,
    so the ``payload`` column feeds ``image_hashes`` / ``decode_image``
    directly.

    Quarantine is two-level: a malformed DOCUMENT yields one row with
    NULL page_idx; a refused IMAGE (JPX/arithmetic-JBIG2, ImageMask,
    non-8-bit, exotic color space) yields its own error row while the
    document's other images still extract."""
    from .multimodal import _quarantine_map

    return _quarantine_map(
        blobs,
        lambda p: extract_pdf_images(p, inflate_budget=inflate_budget),
        PDF_IMAGES_SCHEMA)
