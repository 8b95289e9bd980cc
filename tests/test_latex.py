"""latex_text (operators/latex.py, r14): the LaTeX subset walk —
comment/math/environment dropping, command handling, accent
composition, verbatim preservation — against hand-built payloads with
hand-derived expectations."""

from __future__ import annotations

import pytest

from youtube_api_data_etl_automation_spark.operators import latex as L

from tests.test_archives import _blob_df


def _doc(body: bytes) -> bytes:
    return (b"\\documentclass{article}\n\\begin{document}\n" + body
            + b"\n\\end{document}\n")


def test_latex_basic_extraction(spark):
    doc = _doc(
        rb"""\section{Intro}
Models use RNNs~\cite{x14} --- see Section~\ref{s2}.
Cost is $L=\sum_i p_i$ and \$5 (50\% off).
\begin{equation}
y = Wx
\end{equation}
We use \emph{scaled} attention with caf\'e and \c{c}a.""".replace(
            b"\r\n", b"\n"))
    rows = {r["doc_id"]: r for r in L.latex_text(_blob_df(spark, [
        (1, doc),
        (2, b"plain prose, no latex here"),
        (3, b"\\documentclass{a} preamble only"),
    ])).collect()}
    d = rows[1]
    assert d["format"] == "latex" and d["error"] is None
    assert d["text"] == (
        "Intro\nModels use RNNs — see Section .\n"
        "Cost is and $5 (50% off).\n\n"
        "We use scaled attention with café and ça.")
    assert d["n_dropped"] == 2  # $...$ inline + equation env
    assert d["n_chars"] == len(d["text"])
    assert rows[2]["error_kind"] == "corrupt"
    assert rows[3]["error_kind"] == "corrupt"


def test_latex_math_forms_and_typography():
    nd, text = L._extract_latex(_doc(
        rb"A \(x\) B \[ y \] C $$z$$ D `single' ``double'' -- ---"
        rb" a~b & c"))
    assert nd == 3
    # the alignment tab joins the surrounding spaces and the run
    # normalizes to one space — `&` is a soft separator in text form
    assert text == "A B C D ‘single' “double” – — a b c"


def test_latex_skip_envs_nested_and_verbatim():
    nd, text = L._extract_latex(_doc(
        b"before\n"
        b"\\begin{align}\n  x &= 1 \\\\\n  y &= 2\n\\end{align}\n"
        b"\\begin{tikzpicture}\\draw (0,0);\\end{tikzpicture}\n"
        b"\\begin{verbatim}\ndef f(x):\n    return x\n\\end{verbatim}\n"
        b"after"))
    assert nd == 2
    # a blank line follows the verbatim block (its own trailing
    # newline plus the source's), like a rendered code block
    assert text == "before\n\ndef f(x):\n    return x\n\nafter"
    # minted consumes its {language} argument before raw mode
    nd, text = L._extract_latex(_doc(
        b"\\begin{minted}{python}\nprint(1)\n\\end{minted}"))
    assert nd == 0 and text == "print(1)"
    # same-name nesting inside a skipped env resolves by depth count
    nd, text = L._extract_latex(_doc(
        b"x\\begin{comment}a\\begin{comment}b\\end{comment}c"
        b"\\end{comment}y"))
    assert nd == 1 and text == "xy"


def test_latex_commands_and_accents():
    nd, text = L._extract_latex(_doc(
        rb"\href{https://e.org}{the paper} \url{https://u.org}"
        rb" \textbf{bold} \item one \\ two \par three"
        rb" na\"ive \'etude \`a \^o \~nata"))
    assert nd == 0
    assert text == ("the paper https://u.org bold\n- one\ntwo\n\n"
                    "three naïve étude à ô ñata")


def test_latex_item_and_sections_start_lines():
    nd, text = L._extract_latex(_doc(
        rb"\section*{A} body \subsection[short]{B} more"))
    assert text == "A body\nB more"


def test_latex_skip_arg_commands():
    nd, text = L._extract_latex(_doc(
        rb"\includegraphics[width=2cm]{fig.png} x"
        rb" \newcommand{\foo}[1]{bar #1} y"
        rb" \setlength{\parskip}{2em} z"
        rb" \def\brand{Acme} w"))
    assert text == "x y z w"


def test_latex_malformed_and_budget(monkeypatch):
    with pytest.raises(ValueError, match="not a latex"):
        L._extract_latex(b"hello")
    with pytest.raises(ValueError, match="preamble without"):
        L._extract_latex(b"\\documentclass{a} x")
    with pytest.raises(ValueError, match="missing"):
        L._extract_latex(
            b"\\documentclass{a}\\begin{document} x")
    with pytest.raises(ValueError, match="unterminated math"):
        L._extract_latex(_doc(b"a $x b"))
    with pytest.raises(ValueError, match="unterminated environment"):
        L._extract_latex(_doc(b"\\begin{equation} x"))
    with pytest.raises(ValueError, match="trailing backslash"):
        # a truncated body ending mid-escape hits the scanner before
        # the missing-terminator check
        L._extract_latex(
            b"\\documentclass{a}\\begin{document}x\\")
    with pytest.raises(ValueError, match="empty"):
        L._extract_latex(b"")
    monkeypatch.setattr(L, "DECODE_BYTE_BUDGET", 100)
    with pytest.raises(NotImplementedError, match="budget"):
        L._extract_latex(_doc(b"y" * 5000))


def test_latex_comments_strip_but_escaped_percent_stays():
    # a comment eats its newline (TeX joins the lines), so the
    # surviving text flows together
    nd, text = L._extract_latex(_doc(
        b"keep % drop this\nnext 100\\% sure % more\nend"))
    assert text == "keep next 100% sure end"


def test_latex_math_ignores_comment_dollars():
    # a % inside math comments out the rest of ITS line, so a $ after
    # it does not close the segment; the one on the next line does
    nd, text = L._extract_latex(_doc(
        b"a $x % not-close $\n y$ b"))
    assert nd == 1
    assert text == "a b"


def test_latex_to_documents_bridge_and_cli(spark, capsys):
    doc = _doc(b"Visible prose body that survives curation.")
    got = {r["doc_id"]: r for r in L.latex_text(
        _blob_df(spark, [(41, doc), (42, b"junk")])
    ).collect()}
    assert got[41]["error"] is None
    assert got[41]["text"] == "Visible prose body that survives curation."
    assert got[42]["error_kind"] == "corrupt"

    # the media CLI routes op=latextext
    import json as _json
    import tempfile

    from youtube_api_data_etl_automation_spark.__main__ import main

    with tempfile.TemporaryDirectory() as td:
        src = td + "/blobs.parquet"
        _blob_df(spark, [(1, doc), (2, b"nope")]).write.parquet(src)
        main(["media", "--input", src, "--op", "latextext"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # one junk payload → quarantined_payloads status, not a crash
    assert out["status"] == "quarantined_payloads" and out["n"] == 2
    assert out["by_format"] == {"latex": 1, "None": 1}
    assert out["by_error_kind"] == {"corrupt": 1}


def test_latex_review_fixes_r14():
    """The third-wave self-review findings, pinned (ADVICE r14)."""
    # 1: tabular column specs / minipage widths must not leak
    nd, text = L._extract_latex(_doc(
        b"\\begin{tabular}{ll} a & b \\\\ c & d \\end{tabular}"))
    assert text == "a b\nc d"
    nd, text = L._extract_latex(_doc(
        b"\\begin{minipage}[t]{0.5\\textwidth}inside"
        b"\\end{minipage}"))
    assert text == "inside"
    # 2: \url is verbatim-like — %/~ inside never interpreted
    nd, text = L._extract_latex(_doc(
        b"see \\url{http://a.com/~u/x%7E} end"))
    assert text == "see http://a.com/~u/x%7E end"
    # 3: a commented-out \end inside a dropped environment must not
    # terminate it (no math source may leak)
    nd, text = L._extract_latex(_doc(
        b"a\n\\begin{equation}\nx = 1 % \\end{equation}\ny = 2\n"
        b"\\end{equation}\nb"))
    assert nd == 1 and text == "a\n\nb"
    # 4: the body terminator is found by the scanner, not a textual
    # pre-slice — commented or verbatim-quoted \end{document} ignored
    nd, text = L._extract_latex(_doc(
        b"hello % \\end{document}\nworld"))
    assert text == "hello world"
    nd, text = L._extract_latex(_doc(
        b"\\begin{verbatim}\\end{document} shown\\end{verbatim} t"))
    assert text == "\\end{document} shown\nt"
