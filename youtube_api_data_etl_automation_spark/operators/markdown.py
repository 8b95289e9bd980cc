"""Markdown text extraction (r14) — READMEs and docs are the prose
backbone of every public code corpus, and .md is a standing document
format in web crawls.

:func:`markdown_text` implements a CommonMark-lite subset — the
block and inline constructs a corpus text pass needs, line-oriented
(one pass over the lines, bounded regex passes per non-code line):

- **Fenced code blocks** (``\\`\\`\\``` / ``~~~``, ≥3 fence chars)
  are KEPT RAW — code is visible text — with the fence lines dropped
  and the info string recorded only as a count; an unterminated
  fence runs to end-of-input (the CommonMark rule, not an error).
  Fences inside blockquotes unquote at the opener's depth (a ``>``
  inside unquoted code survives); **indented code blocks** (≥4
  spaces after a blank line) also stay raw.
- **ATX headings**: leading ``#``s (and optional closing run) strip,
  the heading text stays on its own line. **Setext underlines**
  (``===``/``---`` under a paragraph line) and **thematic breaks**
  (``---``/``***``/``___``) drop.
- **Blockquote** ``>`` markers strip (nested too); **list markers**
  (``-``/``*``/``+``) normalize to ``- ``, ordered markers
  (``1.``/``1)``) stay; **table** rows lose their pipes (cells join
  with a single space) and delimiter rows (``|---|---|``) drop.
- **Inline**: code spans ``\\`x\\``` are masked FIRST and restored
  verbatim LAST (their content is literal: tags inside do not strip,
  links do not unwrap or count, entities do not decode); then images
  ``![alt](url)`` → alt, links ``[text](url)`` / ``[text][ref]`` →
  text, autolinks ``<http://x>`` → x, emphasis runs (``**bold**``,
  ``*i*``, ``__u__``, ``_i_``) unwrap when they hug the content
  (underscores INSIDE words — ``snake_case``, ``my__var__x`` — are
  untouched per CommonMark; a space-delimited ``__dunder__`` IS
  strong emphasis and unwraps). Raw HTML tags strip and entities
  decode (the shared helper the EPUB/eml paths use).
  **Link-reference definitions** drop only in their strict form
  (label, destination, optional QUOTED title) — ``[1]: see the
  appendix`` is prose and stays. CRLF/CR normalize to ``\\n``.
- Markdown has **no magic signature and no invalid byte sequence** —
  every payload extracts (utf-8 with replacement); only the empty
  payload and the byte budget refuse. Routing is by
  extension/Content-Type, like latex/ipynb (sniff_format stays
  magic-only).

Scale: per-payload line walk inside the standard Arrow-batched
mapInPandas quarantine harness — no shuffle, no driver data-plane;
every emitted char consumes input (no expansion), and the budget
also caps plain oversized documents. Reference anchor: the reference
decodes nothing (fetch_youtube_data.py); this completes the
document-format ladder (SURVEY §7 north star) for code-corpus prose.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .archives import _html_unescape
from .multimodal import DECODE_BYTE_BUDGET, _quarantine_map, check_budget

MARKDOWN_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_headings int, n_code_blocks int, "
    "n_links int, n_chars int, text string, error string, error_kind string"
)

_FENCE = re.compile(r"^( {0,3})(`{3,}|~{3,})\s*(\S*)")
_ATX = re.compile(r"^ {0,3}(#{1,6})\s+(.*?)(?:\s+#+\s*)?$")
_SETEXT = re.compile(r"^ {0,3}(=+|-+)\s*$")
_THEMATIC = re.compile(r"^ {0,3}((\* *){3,}|(- *){3,}|(_ *){3,})$")
_QUOTE = re.compile(r"^ {0,3}> ?")
_BULLET = re.compile(r"^( {0,3})[-*+]\s+")
_TABLE_DELIM = re.compile(r"^ {0,3}\|?\s*:?-+:?\s*(\|\s*:?-+:?\s*)+\|?\s*$")
# a ref DEF's remainder after the destination must be empty or a
# quoted title — '[1]: see the appendix' is a paragraph, not a def
# (r14 review fix: the loose form silently deleted prose lines)
_REF_DEF = re.compile(
    r"^ {0,3}\[[^\]]+\]:\s+\S+\s*"
    r"(?:\"[^\"]*\"|'[^']*'|\([^)]*\))?\s*$")

_IMAGE = re.compile(r"!\[([^\]]*)\]\([^)]*\)")
_LINK = re.compile(r"\[([^\]]*)\]\([^)]*\)")
_REF_LINK = re.compile(r"\[([^\]]*)\]\[[^\]]*\]")
_AUTOLINK = re.compile(r"<(https?://[^ >]+|[^ >@]+@[^ >]+)>")
_CODE_SPAN = re.compile(r"`+([^`]*)`+")
# ** may be intraword (CommonMark), __ may not — dunder identifiers
# in Python READMEs must survive (r14 review fix)
_STRONG_STAR = re.compile(r"\*\*(?=\S)(.+?)(?<=\S)\*\*")
_STRONG_UND = re.compile(r"(?<![\w_])__(?=\S)(.+?)(?<=\S)__(?![\w_])")
_EMPH_STAR = re.compile(r"\*(?=\S)([^*]+?)(?<=\S)\*")
_EMPH_UND = re.compile(r"(?<![\w_])_(?=\S)([^_]+?)(?<=\S)_(?![\w_])")
_HTML_TAG = re.compile(r"</?[A-Za-z][^>\n]*>|<!--.*?-->", re.DOTALL)
_MASK = re.compile("\x00(\\d+)\x00")


def _inline(line: str, counts: dict) -> str:
    """One non-code line through the inline passes (module docstring
    lists them in application order)."""
    # code spans are masked FIRST and restored verbatim LAST — their
    # content is literal, so tags inside must not strip, links inside
    # must not unwrap or count, entities must not decode (r14 review
    # fix); input NULs were scrubbed at decode, so the sentinel is
    # collision-free
    spans: list[str] = []

    def _mask(m: re.Match) -> str:
        spans.append(m.group(1))
        return f"\x00{len(spans) - 1}\x00"

    line = _CODE_SPAN.sub(_mask, line)
    # autolinks unwrap BEFORE the tag strip — <https://x> would
    # otherwise match the tag pattern and vanish
    line, k3 = _AUTOLINK.subn(r"\1", line)
    line = _HTML_TAG.sub("", line)
    line = _IMAGE.sub(r"\1", line)
    line, k1 = _LINK.subn(r"\1", line)
    line, k2 = _REF_LINK.subn(r"\1", line)
    counts["links"] += k1 + k2 + k3
    line = _STRONG_STAR.sub(r"\1", line)
    line = _STRONG_UND.sub(r"\1", line)
    line = _EMPH_STAR.sub(r"\1", line)
    line = _EMPH_UND.sub(r"\1", line)
    line = _html_unescape(line)
    return _MASK.sub(lambda m: spans[int(m.group(1))], line)


def _extract_markdown(raw: bytes) -> dict:
    if not raw:
        raise ValueError("empty/NULL markdown payload")
    check_budget("markdown payload", len(raw), DECODE_BYTE_BUDGET, "byte")
    # CRLF/CR normalize to \n (Windows-authored markdown is the
    # common case in crawls — r14 review fix: stray \r polluted every
    # line and broke $-anchored block regexes); NULs scrub so the
    # code-span mask sentinel cannot collide
    src = raw.decode("utf-8", errors="replace") \
        .replace("\r\n", "\n").replace("\r", "\n") \
        .replace("\x00", "�")
    lines = src.split("\n")
    out: list[str] = []
    counts = {"headings": 0, "code_blocks": 0, "links": 0}
    in_fence: str | None = None  # the fence char when inside a block
    fence_len = 0
    fence_qd = 0  # blockquote depth the open fence sat at
    prev_text = False  # a setext underline needs a paragraph above
    prev_blank = True  # an indented code block needs a gap above

    def _unquote(ln: str, limit: int | None = None) -> tuple[str, int]:
        d = 0
        while _QUOTE.match(ln) and (limit is None or d < limit):
            ln = _QUOTE.sub("", ln, count=1)
            d += 1
        return ln, d

    for ln in lines:
        if in_fence is not None:
            # strip at most the OPENER's quote depth, so a quoted
            # fence's body unquotes while '>' inside unquoted code
            # survives (r14 review fix)
            body, _ = _unquote(ln, fence_qd)
            m = _FENCE.match(body)
            if m and m.group(2)[0] == in_fence \
                    and len(m.group(2)) >= fence_len \
                    and not m.group(3):
                in_fence = None
                prev_text = False
                prev_blank = False
                continue
            out.append(body)  # raw code line
            continue
        stripped, qd = _unquote(ln)
        m = _FENCE.match(stripped)
        if m:
            in_fence = m.group(2)[0]
            fence_len = len(m.group(2))
            fence_qd = qd
            counts["code_blocks"] += 1
            continue
        if qd == 0 and (ln.startswith("    ") or ln.startswith("\t")) \
                and prev_blank and ln.strip():
            # indented code block (pre-fence-era READMEs): raw lines
            # until a non-indented line (r14 review fix); leaving
            # prev_blank True lets the run continue line-by-line
            out.append(ln)
            prev_blank = True
            prev_text = False
            continue
        if _REF_DEF.match(stripped):
            continue
        if _SETEXT.match(stripped) and prev_text:
            prev_text = False
            prev_blank = False
            continue
        if _THEMATIC.match(stripped):
            prev_text = False
            prev_blank = False
            continue
        ma = _ATX.match(stripped)
        if ma:
            counts["headings"] += 1
            out.append(_inline(ma.group(2), counts))
            prev_text = False
            prev_blank = False
            continue
        if _TABLE_DELIM.match(stripped):
            continue
        if "|" in stripped:
            cells = [c.strip() for c in stripped.strip().strip("|")
                     .split("|")]
            stripped = " ".join(c for c in cells if c)
        mb = _BULLET.match(stripped)
        if mb:
            stripped = stripped[:mb.end(1)] + "- " \
                + stripped[mb.end():]
        line = _inline(stripped, counts)
        out.append(line)
        prev_text = bool(line.strip())
        prev_blank = not line.strip()

    text = "\n".join(out)
    text = re.sub(r"\n{3,}", "\n\n", text).strip()
    # no output budget check: chars never exceed input bytes (decode
    # is ≤1 char/byte and every pass shrinks), and the payload was
    # already gated against the same budget at entry
    return {"format": "markdown", "n_headings": counts["headings"],
            "n_code_blocks": counts["code_blocks"],
            "n_links": counts["links"], "n_chars": len(text),
            "text": text}


def markdown_text(blobs: DataFrame) -> DataFrame:
    """``(doc_id, payload)`` → ``(doc_id, format, n_headings,
    n_code_blocks, n_links, n_chars, text[, error, error_kind])`` —
    Markdown flattened to plain prose with code blocks preserved
    (module docstring has the subset contract)."""
    return _quarantine_map(blobs, _extract_markdown, MARKDOWN_TEXT_SCHEMA)
