"""RTF text extraction (r14) — the pre-OOXML word-processing format
still common in older document corpora and email attachments.

:func:`rtf_text` implements the subset of the public RTF 1.9
specification a corpus text pass needs, as a single linear scan with
an explicit group stack (no recursion — hostile nesting depth cannot
blow the Python stack):

- **Groups** ``{...}`` push/pop state (the current skip mode and the
  ``\\ucN`` skip count are group-scoped, per spec).
- **Destinations** that carry no body text skip whole:
  ``\\fonttbl \\colortbl \\stylesheet \\info \\pict \\object
  \\header \\footer \\*`` (the ``{\\*\\...}`` convention: any
  destination marked optional that this parser does not understand
  must be ignored entirely — exactly the spec's forward-compat rule).
- **Control words**: ``\\par \\line \\sect \\page`` → newline,
  ``\\tab`` → tab, ``\\emdash``/``\\endash``/quote words → their
  characters, ``\\~`` → space, ``\\uN`` → the Unicode scalar with the
  group's ``\\ucN`` fallback bytes skipped (negative N is the spec's
  signed-16-bit wraparound), ``\\'xx`` → the cp1252 byte. Unknown
  control words drop (formatting noise), their delimiting space
  consumed per spec.
- The leading ``{\\rtf1`` magic is required; anything else is
  malformed.

Scale: per-payload linear byte scan inside the standard Arrow-batched
mapInPandas quarantine harness — no shuffle, no driver data-plane;
the output-size budget bounds adversarial expansion (``\\uN`` emits
one char per ≥2 input bytes, so expansion is impossible, but the
budget also caps plain oversized documents the funnel would reject
anyway). Reference anchor: the reference decodes nothing
(fetch_youtube_data.py); this extends the document-format ladder
(SURVEY §7 north star) alongside pdf/docx/odf/epub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .multimodal import DECODE_BYTE_BUDGET, _quarantine_map, check_budget

RTF_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_groups int, n_chars int, "
    "text string, error string, error_kind string"
)

# destinations whose content is never body text; \* marks any optional
# destination (spec: ignore the whole group when unrecognized)
_SKIP_DESTINATIONS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "ftnsep", "ftnsepc", "xe", "tc", "txe",
    "themedata", "colorschememapping", "datastore", "latentstyles",
    "listtable", "listoverridetable", "revtbl", "rsidtbl",
    "generator", "filetbl",
))

_CHAR_WORDS = {
    "par": "\n", "line": "\n", "sect": "\n", "page": "\n",
    "tab": "\t", "emdash": "\u2014", "endash": "\u2013",
    "lquote": "\u2018", "rquote": "\u2019", "ldblquote": "\u201c",
    "rdblquote": "\u201d", "bullet": "\u2022", "emspace": " ",
    "enspace": " ", "qmspace": " ",
}


def _extract_rtf(raw: bytes) -> tuple[int, str]:
    """(n_groups, text) from one RTF payload — module docstring has
    the subset contract."""
    if not raw:
        raise ValueError("empty/NULL rtf payload")
    if not raw.startswith(b"{\\rtf"):
        raise ValueError("malformed rtf: missing {\\rtf magic")
    out: list[str] = []
    out_len = 0
    n_groups = 0
    # group state stack: (skipping, uc_skip_count)
    stack: list[tuple[bool, int]] = []
    skipping, uc = False, 1
    i, n = 0, len(raw)
    pending_uc_skip = 0

    def emit(s: str):
        nonlocal out_len
        if skipping or not s:
            return
        out.append(s)
        out_len += len(s)
        check_budget("rtf text", out_len, DECODE_BYTE_BUDGET, "byte")

    while i < n:
        c = raw[i]
        if pending_uc_skip and c not in (0x7B, 0x7D):  # { }
            # \uN fallback CHARACTERS: a \'xx escape, a whole control
            # word (spec: a fallback may be a control word standing
            # for one character — r14 review fix: counting only its
            # backslash leaked the word's letters into the text), or
            # one literal byte
            if c == 0x5C and raw[i:i + 2] == b"\\'":
                i += 4
            elif c == 0x5C and i + 1 < n and (
                    65 <= raw[i + 1] <= 90 or 97 <= raw[i + 1] <= 122):
                j = i + 1
                while j < n and (65 <= raw[j] <= 90
                                 or 97 <= raw[j] <= 122):
                    j += 1
                if j < n and raw[j] == 0x2D:
                    j += 1
                while j < n and 48 <= raw[j] <= 57:
                    j += 1
                if j < n and raw[j] == 0x20:
                    j += 1
                i = j
            elif c == 0x5C and i + 1 < n:
                i += 2  # control symbol = one fallback char
            else:
                i += 1
            pending_uc_skip -= 1
            continue
        # a group boundary ends any pending fallback run (the
        # fallback chars must immediately follow \uN in the same
        # group — r14 review fix: a surviving skip count ate the
        # first character after the group closed)
        if c in (0x7B, 0x7D):
            pending_uc_skip = 0
        if c == 0x7B:  # {
            stack.append((skipping, uc))
            n_groups += 1
            if len(stack) > 4096:
                raise ValueError("malformed rtf: group nesting too deep")
            i += 1
            # {\*\dest ...}: optional destination — skip unless the
            # word right after is a known body carrier (none are)
            if raw[i:i + 2] == b"\\*":
                skipping = True
            continue
        if c == 0x7D:  # }
            if not stack:
                raise ValueError("malformed rtf: unbalanced group close")
            skipping, uc = stack.pop()
            i += 1
            continue
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c2 = raw[i]
            if c2 == 0x27:  # \'xx hex escape
                hx = raw[i + 1:i + 3]
                i += 3
                try:
                    emit(bytes([int(hx, 16)]).decode("cp1252",
                                                     "replace"))
                except ValueError:
                    raise ValueError(
                        "malformed rtf: bad hex escape") from None
                continue
            if c2 in b"\\{}":
                emit(chr(c2))
                i += 1
                continue
            if c2 == 0x7E:  # \~ non-breaking space
                emit(" ")
                i += 1
                continue
            if c2 in b"\r\n":  # \<newline> = \par
                emit("\n")
                i += 1
                continue
            if not (65 <= c2 <= 90 or 97 <= c2 <= 122):
                i += 1  # other control symbols: formatting, drop
                continue
            j = i
            while j < n and (65 <= raw[j] <= 90 or 97 <= raw[j] <= 122):
                j += 1
            word = raw[i:j].decode("ascii")
            k = j
            neg = False
            if k < n and raw[k] == 0x2D:  # -
                neg = True
                k += 1
            num_start = k
            while k < n and 48 <= raw[k] <= 57:
                k += 1
            num = int(raw[num_start:k]) if k > num_start else None
            if neg and num is not None:
                num = -num
            if k < n and raw[k] == 0x20:  # delimiting space consumed
                k += 1
            i = k
            if word in _SKIP_DESTINATIONS:
                skipping = True
            elif word == "uc":
                uc = num if num is not None else 1
            elif word == "u" and num is not None:
                cp = num if num >= 0 else num + 65536
                if 0xD800 <= cp < 0xE000:
                    # a lone UTF-16 surrogate is not UTF-8-encodable:
                    # it would kill the task at Arrow serialization,
                    # OUTSIDE the quarantine handler (r14 review fix)
                    emit("�")
                elif 0 <= cp < 0x110000:
                    emit(chr(cp))
                pending_uc_skip = uc if not skipping else 0
            elif word == "bin" and num is not None and num > 0:
                # \binN: N raw bytes follow (after the delimiter
                # already consumed) — brace/backslash bytes inside are
                # DATA, not structure (r14 review fix: dropping \bin
                # as unknown let embedded pictures corrupt the group
                # stack)
                i = min(n, i + num)
            elif word in _CHAR_WORDS:
                emit(_CHAR_WORDS[word])
            # every other control word is formatting: drop
            continue
        if c in b"\r\n\x00":
            i += 1  # literal CR/LF/NUL are not document text in RTF
            continue
        # literal text run up to the next delimiter
        j = i
        while j < n and raw[j] not in b"\\{}\r\n\x00":
            j += 1
        emit(raw[i:j].decode("cp1252", "replace"))
        i = j
    if stack:
        raise ValueError("malformed rtf: unbalanced group open")
    text = "".join(out).strip()
    return n_groups, text


def rtf_text(blobs: DataFrame) -> DataFrame:
    """REAL RTF text extraction over ``(doc_id, payload)`` — one row
    per document: group count, char count, visible text. Quarantine
    contract; structurally broken payloads (no magic, unbalanced
    groups, bad escapes) are 'corrupt', oversized output refuses as
    'unsupported'."""
    def one(raw):
        n_groups, text = _extract_rtf(raw)
        return {"format": "rtf", "n_groups": n_groups,
                "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, RTF_TEXT_SCHEMA)
