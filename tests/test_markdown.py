"""markdown_text (operators/markdown.py, r14): the CommonMark-lite
flatten — fences, headings, quotes, lists, tables, inline passes —
against hand-built payloads with hand-derived expectations."""

from __future__ import annotations

import pytest

from youtube_api_data_etl_automation_spark.operators import (
    markdown as M,
)

from tests.test_archives import _blob_df


def test_markdown_basic_extraction(spark):
    md = (b"# Title\n\nSee [docs](https://e.org) and ![logo](i.png) "
          b"with `code` and **bold**.\n\n"
          b"```python\nif x:\n    go()  # **raw**\n```\n\n"
          b"- item one\n* item two\n\n"
          b"| a | b |\n|---|---|\n| 1 | 2 |\n")
    rows = {r["doc_id"]: r for r in M.markdown_text(_blob_df(spark, [
        (1, md),
        (2, b""),
    ])).collect()}
    d = rows[1]
    assert d["format"] == "markdown" and d["error"] is None
    assert d["text"] == (
        "Title\n\nSee docs and logo with code and bold.\n\n"
        "if x:\n    go()  # **raw**\n\n"
        "- item one\n- item two\n\na b\n1 2")
    assert (d["n_headings"], d["n_code_blocks"], d["n_links"]) \
        == (1, 1, 1)
    assert d["n_chars"] == len(d["text"])
    assert rows[2]["error_kind"] == "corrupt"


def test_markdown_block_constructs():
    r = M._extract_markdown(
        b"Head\n====\n\n> quote\n> > nested\n\n---\n\n"
        b"[ref]: https://def.org\n"
        b"## Sub ##\nbody\n")
    assert r["text"] == "Head\n\nquote\nnested\n\nSub\nbody"
    # 'Head' stays a plain prose line (its setext underline drops);
    # only the ATX ## counts as a heading
    assert r["n_headings"] == 1


def test_markdown_setext_vs_thematic():
    # --- under a paragraph is a setext underline (drops); --- after
    # a blank line is a thematic break (drops too) — but a ---
    # directly after a bullet stays a break, never list text
    r = M._extract_markdown(b"para\n---\n\ntext\n\n---\nend")
    assert r["text"] == "para\n\ntext\n\nend"


def test_markdown_inline_passes():
    r = M._extract_markdown(
        b"***both*** __strong__ _em_ snake_case a_b_c "
        b"<b>tag</b> &amp; <https://a.io> `x > y`")
    # tag markup strips but its inner text stays
    assert r["text"] == ("both strong em snake_case a_b_c "
                         "tag & https://a.io x > y")
    assert r["n_links"] == 1


def test_markdown_fences():
    # unterminated fence: rest of input is code (CommonMark)
    r = M._extract_markdown(b"a\n```\ncode **raw**\nmore")
    assert r["text"] == "a\ncode **raw**\nmore"
    assert r["n_code_blocks"] == 1
    # a shorter closing fence does not close; a longer one does
    r = M._extract_markdown(
        b"````\ncode\n```\nstill\n`````\nafter")
    assert r["text"] == "code\n```\nstill\nafter"
    # tilde fence with info string
    r = M._extract_markdown(b"~~~text\n# not a heading\n~~~\n")
    assert r["text"] == "# not a heading"
    assert r["n_headings"] == 0


def test_markdown_never_refuses_text(monkeypatch):
    # markdown has no invalid byte sequence: arbitrary bytes extract
    r = M._extract_markdown(bytes(range(1, 256)))
    assert r["format"] == "markdown"
    with pytest.raises(ValueError, match="empty"):
        M._extract_markdown(b"")
    monkeypatch.setattr(M, "DECODE_BYTE_BUDGET", 100)
    with pytest.raises(NotImplementedError, match="budget"):
        M._extract_markdown(b"x" * 500)


def test_markdown_to_documents_bridge(spark):
    got = {r["doc_id"]: r for r in M.markdown_text(
        _blob_df(spark, [(61, b"# H\n\nBody prose."), (62, b"")])).collect()}
    assert got[61]["error"] is None
    assert got[61]["text"] == "H\n\nBody prose."
    assert got[62]["error"] is not None and got[62]["text"] is None


def test_markdown_review_fixes_r14():
    """The fourth self-review round's findings, pinned (ADVICE r14)."""
    X = M._extract_markdown
    # 1: intraword __ never unwraps; space-delimited __x__ is strong
    # emphasis per CommonMark (unwraps); code-span dunders are safe
    r = X(b"call `__init__` on my__var__x or __bold__")
    assert r["text"] == "call __init__ on my__var__x or bold"
    # 2: fenced code inside a blockquote unquotes at the opener's
    # depth, stays raw, and counts
    r = X(b"> ```python\n> x = '**a**'\n> ```\n")
    assert r["text"] == "x = '**a**'" and r["n_code_blocks"] == 1
    # ... while '>' inside UNQUOTED code survives untouched
    assert X(b"```\n> prompt\n```\n")["text"] == "> prompt"
    # 3: CRLF normalizes; a thematic break with \r still drops
    assert X(b"para\r\n\r\n***\r\nafter\r\n")["text"] \
        == "para\n\nafter"
    # 4: code spans are literal — no tag strip, no link unwrap/count,
    # no entity decode inside
    r = X(b"use `[a](b)` and `<br>` and `&amp;` here")
    assert r["text"] == "use [a](b) and <br> and &amp; here"
    assert r["n_links"] == 0
    # 5: only a strict ref def (optional QUOTED title) drops
    r = X(b"[note]: this stays as prose\n"
          b"[ref]: https://real.def \"title\"\n")
    assert r["text"] == "[note]: this stays as prose"
    # 6: indented code after a blank line stays raw
    r = X(b"para\n\n    code with **stars** and [a](b)\n")
    assert r["text"] == "para\n\n    code with **stars** and [a](b)"
    assert r["n_links"] == 0
