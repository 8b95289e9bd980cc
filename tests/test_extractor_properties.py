"""Hypothesis property tests for the r14 text extractors (latex /
markdown / ipynb / code stats): structural invariants over generated
inputs — determinism, the no-expansion contract the budget math
relies on, count consistency, and the quarantine-exception envelope.
These complement the byte-mutation fuzz gate
(test_decoder_fuzz.py): hypothesis explores the VALID-ish input
space (generated constructs), the fuzz gate the corrupt space."""

from __future__ import annotations

import json
import math
import re
from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st

from youtube_api_data_etl_automation_spark.operators import latex
from youtube_api_data_etl_automation_spark.operators.latex import (
    _extract_latex,
)
from youtube_api_data_etl_automation_spark.operators.markdown import (
    _extract_markdown,
)
from youtube_api_data_etl_automation_spark.operators.notebooks import (
    _extract_ipynb,
)

OK = (ValueError, NotImplementedError, KeyError, IndexError)

# text fragments that exercise the markdown/latex construct space
_MD_FRAGMENTS = st.sampled_from([
    "plain prose here", "# Heading", "## Sub ##", "> quote",
    "- item", "* item", "1. ordered", "```", "```python",
    "    indented", "| a | b |", "|---|---|", "***", "---",
    "[t](u)", "![a](i)", "`span`", "**b**", "__s__", "_e_",
    "<b>t</b>", "&amp;", "<https://x.io>", "[r]: https://d",
    "snake_case", "my__var__x", "", "   ", "\tcode?",
])
_TEX_FRAGMENTS = st.sampled_from([
    "prose words", r"\section{S}", r"\textbf{b}", r"\cite{k}",
    "$x+y$", r"\(m\)", r"\[d\]", r"\begin{equation}e\end{equation}",
    r"\begin{itemize}\item i\end{itemize}",
    r"\begin{verbatim}v\end{verbatim}",
    r"\begin{tabular}{ll}a&b\end{tabular}",
    r"\href{u}{t}", r"\url{https://u}", r"\'e", r"\c{c}", "100\\%",
    "% comment", "~", "``q''", "--", "a_b", "{g}", r"\\",
])


@st.composite
def markdown_docs(draw):
    lines = draw(st.lists(_MD_FRAGMENTS, min_size=1, max_size=30))
    return "\n".join(lines).encode()


@st.composite
def latex_docs(draw):
    frags = draw(st.lists(_TEX_FRAGMENTS, min_size=1, max_size=25))
    body = " ".join(frags)
    return (b"\\documentclass{a}\n\\begin{document}\n"
            + body.encode() + b"\n\\end{document}\n")


@settings(max_examples=150, deadline=None)
@given(markdown_docs())
def test_markdown_invariants(raw):
    try:
        r = _extract_markdown(raw)
    except OK:
        return
    # determinism
    assert _extract_markdown(raw) == r
    # the no-expansion contract the budget math documents
    assert len(r["text"]) <= len(raw)
    assert r["n_chars"] == len(r["text"])
    assert r["n_headings"] >= 0 and r["n_code_blocks"] >= 0
    # NOTE: re-extraction is deliberately NOT idempotent — code
    # blocks are kept raw and may themselves contain markdown-shaped
    # text (hypothesis found b'```\n```python\n# Heading'), which is
    # the preservation contract working as designed


@settings(max_examples=150, deadline=None)
@given(latex_docs())
def test_latex_invariants(raw):
    try:
        nd, text = _extract_latex(raw)
    except OK:
        return
    assert _extract_latex(raw) == (nd, text)
    assert len(text) <= len(raw)
    assert nd >= 0
    # a tighter budget can only flip success -> budget refusal, never
    # change the text (the gate is on OUTPUT size, checked en route)
    if text:
        try:
            with mock.patch.object(latex, "DECODE_BYTE_BUDGET", len(text)):
                assert _extract_latex(raw)[1] == text
        except NotImplementedError:
            # en-route counting may exceed the final normalized size
            pass


@st.composite
def notebooks_json(draw):
    def cell():
        kind = draw(st.sampled_from(
            ["markdown", "code", "raw", "mystery"]))
        src = draw(st.one_of(
            st.text(max_size=40),
            st.lists(st.text(max_size=20), max_size=4)))
        c = {"cell_type": kind, "source": src}
        if kind == "code":
            c["outputs"] = [{"output_type": "stream",
                             "text": draw(st.text(max_size=20))}]
        return c
    nb = {"nbformat": 4,
          "metadata": {"kernelspec": {"language": draw(
              st.sampled_from(["python", "r", None]))}},
          "cells": [cell() for _ in range(draw(
              st.integers(min_value=0, max_value=6)))]}
    return json.dumps(nb).encode()


@settings(max_examples=100, deadline=None)
@given(notebooks_json())
def test_ipynb_invariants(raw):
    try:
        r = _extract_ipynb(raw, True)
    except OK:
        return
    assert _extract_ipynb(raw, True) == r
    assert r["n_cells"] == r["n_code_cells"] + r["n_md_cells"]
    assert r["n_chars"] == len(r["text"])
    # outputs-off text is never longer than outputs-on
    off = _extract_ipynb(raw, False)
    assert off["n_chars"] <= r["n_chars"]
    assert off["n_cells"] == r["n_cells"]


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=400))
def test_code_stats_python_reference_properties(txt):
    """The pure-Python differential from test_code_quality, as
    properties: fractions in [0,1], max >= avg over line lengths."""
    lines = txt.split("\n")
    lens = [len(x) for x in lines]
    total = len(txt)
    for pattern in ("[A-Za-z0-9]", "[A-Za-z]"):
        kept = len(re.sub(pattern, "", txt))
        frac = (total - kept) / total if total else 0.0
        assert 0.0 <= frac <= 1.0
    assert max(lens) >= (sum(lens) / len(lens)) - 1e-9
    assert math.floor(0.5 * 1e6 + 0.5) / 1e6 == 0.5
