"""LaTeX text extraction (r14) — the dominant source format of
scientific corpora (arXiv publishes author .tex sources; papers are a
standing pretraining-data family alongside web crawl and books).

:func:`latex_text` implements the subset of public LaTeX syntax a
corpus text pass needs, as a single linear scan (no recursion — hostile
nesting cannot blow the Python stack; the only inner loops are
delimiter searches that always advance):

- **Document body**: a payload must contain ``\\begin{document}`` (the
  scan covers preamble-free *fragments* only when ``\\documentclass``
  is absent too — then it is not LaTeX and is rejected; route plain
  fragments through the plain-text path instead). Body =
  ``\\begin{document}`` … ``\\end{document}``; a missing terminator is
  a truncation → malformed.
- **Comments**: ``%`` to end-of-line drops (``\\%`` is the literal).
- **Math** drops whole — ``$…$``, ``$$…$$``, ``\\(…\\)``,
  ``\\[…\\]`` and the display environments (equation/align/gather/
  multline/eqnarray/displaymath/math, starred forms) — counted in
  ``n_dropped``. Dropping (not flattening) is the published-corpus
  convention: un-rendered math tokens are noise to a text-quality
  funnel, and the TeX source of the math survives in the raw payload
  column for pipelines that want it.
- **Non-text environments** (tikzpicture/picture/pgfpicture/comment/
  filecontents) drop whole, also counted in ``n_dropped``.
- **Verbatim text** (verbatim/lstlisting/minted bodies) is KEPT raw —
  it is visible text (usually code).
- **Commands**: ``\\\\``/``\\newline`` → newline, ``\\par`` →
  paragraph break, ``\\item`` → ``- `` on its own line, sectioning
  commands start a new line and keep their argument text, accent
  commands (``\\'e`` → ``é``) compose via NFC, the escape commands
  (``\\% \\& \\# \\_ \\{ \\} \\$``) yield their literals,
  ``\\href{url}{text}`` keeps the text, ``\\url{u}`` keeps the url.
  Commands whose argument is *not* body text (``\\label \\ref \\cite
  \\includegraphics \\usepackage …``) skip their groups. Unknown
  commands drop (their braced arguments stay transparent — that is
  how ``\\textbf{word}`` keeps ``word`` without a styled-command
  table).
- **Typography**: ``~`` → space, ``---``/``--`` → em/en dash,
  ``` `` ``/`''` → curly quotes, ``&`` (alignment) → a soft space.
- Whitespace collapses like a renderer: runs of spaces/tabs → one
  space, ≥2 blank lines → one paragraph break.

Scale: per-payload linear byte scan inside the standard Arrow-batched
mapInPandas quarantine harness — no shuffle, no driver data-plane; the
output-size budget bounds adversarial expansion (every emitted char
consumes ≥1 input byte, so expansion is impossible, but the budget
also caps plain oversized documents). Reference anchor: the reference
decodes nothing (fetch_youtube_data.py); this extends the
document-format ladder (SURVEY §7 north star) alongside
pdf/docx/odf/epub/rtf.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import DataFrame

from .archives import ARCHIVE_BYTE_BUDGET

LATEX_TEXT_SCHEMA = (
    "doc_id bigint, format string, n_dropped int, n_chars int, "
    "text string, error string, error_kind string"
)

# environments whose body is never visible text; math ones and drawing/
# meta ones are dropped identically (one n_dropped count each)
_SKIP_ENVS = frozenset((
    "equation", "equation*", "align", "align*", "alignat", "alignat*",
    "gather", "gather*", "multline", "multline*", "eqnarray",
    "eqnarray*", "displaymath", "math", "tikzpicture", "picture",
    "pgfpicture", "comment", "filecontents", "filecontents*",
))

# environments whose body is copied raw (visible code/text)
_VERBATIM_ENVS = frozenset(("verbatim", "verbatim*", "lstlisting",
                            "minted", "alltt"))

# commands whose single braced argument is not body text (\caption is
# deliberately ABSENT: caption text is visible prose and stays)
_SKIP_ONE_GROUP = frozenset((
    "label", "ref", "eqref", "pageref", "autoref", "nameref", "cite",
    "citep", "citet", "citealp", "citealt", "citeauthor", "citeyear",
    "bibliography", "bibliographystyle", "includegraphics", "input",
    "include", "usepackage", "documentclass", "vspace", "vspace*",
    "hspace", "hspace*", "pagestyle", "thispagestyle", "graphicspath",
    "bibitem", "newcounter", "hypersetup", "def",
))

# environments whose \begin carries mandatory non-text braced
# arguments (column specs, widths) that must not leak into the text
# (r14 review fix: \begin{tabular}{ll} was emitting 'll'); optional
# [..] arguments may interleave (tabular* is {width}[pos]{cols})
_ENV_GROUP_ARGS = {
    "tabular": 1, "tabular*": 2, "tabularx": 2, "longtable": 1,
    "array": 1, "minipage": 1, "multicols": 1, "wrapfigure": 2,
    "wraptable": 2, "list": 2,
}
# commands with two braced arguments to skip
_SKIP_TWO_GROUPS = frozenset(("setcounter", "setlength", "addtolength",
                              "rule", "newcommand", "renewcommand",
                              "providecommand"))

# sectioning commands: start a fresh line, keep the argument text
_SECTIONING = frozenset((
    "section", "section*", "subsection", "subsection*",
    "subsubsection", "subsubsection*", "chapter", "chapter*", "part",
    "paragraph", "subparagraph", "title",
))

# control words that map straight to characters
_CHAR_WORDS = {
    "newline": "\n", "tabularnewline": "\n", "item": "\n- ",
    "ldots": "…", "dots": "…", "textellipsis": "…",
    "textemdash": "—", "textendash": "–",
    "textquoteleft": "‘", "textquoteright": "’",
    "textquotedblleft": "“", "textquotedblright": "”",
    "textbackslash": "\\", "textasciitilde": "~",
    "textasciicircum": "^", "quad": " ", "qquad": " ",
    "thinspace": " ", "enspace": " ", "noindent": "", "indent": "",
    "centering": "", "raggedright": "", "raggedleft": "",
    "maketitle": "", "tableofcontents": "", "clearpage": "\n",
    "newpage": "\n", "linebreak": "\n", "smallskip": "\n",
    "medskip": "\n", "bigskip": "\n",
}

# accent control symbols/words → combining mark (NFC-composed onto the
# following letter); stdlib unicodedata does the composition, so no
# hand table of precomposed characters is needed
_ACCENTS = {
    "'": "́", "`": "̀", '"': "̈", "^": "̂",
    "~": "̃", "=": "̄", ".": "̇", "c": "̧",
    "u": "̆", "v": "̌", "H": "̋", "k": "̨",
    "r": "̊",
}

_WS_RUN = re.compile(r"[ \t]+")
_NL_SPACE = re.compile(r" ?\n ?")
_BLANKS = re.compile(r"\n{3,}")
# a run of characters with no markup meaning — emitted as one chunk
_PLAIN_RUN = re.compile(r"[^\\{}$%~&`'-]+")


def _skip_ws(s: str, i: int) -> int:
    n = len(s)
    while i < n and s[i] in " \t\n\r":
        i += 1
    return i


def _skip_opt(s: str, i: int) -> int:
    """Past an optional ``[...]`` argument, if present (flat — nested
    brackets are not part of the subset)."""
    j = _skip_ws(s, i)
    if j < len(s) and s[j] == "[":
        k = s.find("]", j + 1)
        if k >= 0:
            return k + 1
    return i


def _skip_opts(s: str, i: int) -> int:
    """Past any run of consecutive optional ``[...]`` arguments."""
    while True:
        j = _skip_opt(s, i)
        if j == i:
            return i
        i = j


def _skip_group(s: str, i: int) -> int:
    """Past one braced group ``{...}`` (balanced, ``\\{``/``\\}``
    escapes respected). Missing group → no movement; unbalanced →
    malformed."""
    j = _skip_ws(s, i)
    n = len(s)
    if j >= n or s[j] != "{":
        return i
    depth = 0
    while j < n:
        c = s[j]
        if c == "\\" and j + 1 < n:
            j += 2
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    raise ValueError("malformed latex: unbalanced group in argument")


def _find_math_close(s: str, i: int, close: str) -> int:
    """Index of the closing delimiter for a math segment starting at
    ``i`` (``close`` = ``$``, ``$$``, ``\\)`` or ``\\]``), honoring
    ``\\$`` escapes and ``%`` comments. Unterminated → malformed."""
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            if s[i:i + 2] == close:
                return i
            i += 2
            continue
        if c == "%":
            j = s.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "$" and close in ("$", "$$"):
            if close == "$$":
                if s[i:i + 2] == "$$":
                    return i
                i += 1
                continue
            return i
        i += 1
    raise ValueError(f"malformed latex: unterminated math ({close!r})")


def _find_env_end(s: str, i: int, name: str) -> int:
    """Index past ``\\end{name}``, counting nested same-name
    ``\\begin{name}`` and honoring ``%`` comments — a commented-out
    ``\\end`` must not terminate the environment (r14 review fix:
    math source was leaking into the text). Unterminated →
    malformed."""
    begin, end = f"\\begin{{{name}}}", f"\\end{{{name}}}"
    depth = 1
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            if s.startswith(end, i):
                depth -= 1
                i += len(end)
                if depth == 0:
                    return i
                continue
            if s.startswith(begin, i):
                depth += 1
                i += len(begin)
                continue
            i += 2  # escape: a \% here never starts a comment
            continue
        if c == "%":
            j = s.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        i += 1
    raise ValueError(
        f"malformed latex: unterminated environment {name}")


def _read_word(s: str, i: int) -> tuple[str, int]:
    """(control word, index past it + its delimiting whitespace) with
    ``i`` at the first letter."""
    j = i
    n = len(s)
    while j < n and s[j].isalpha():
        j += 1
    if j < n and s[j] == "*":
        j += 1
    word = s[i:j]
    while j < n and s[j] in " \t":
        j += 1  # control word eats following horizontal whitespace
    return word, j


def _extract_latex(raw: bytes, budget: int | None) -> tuple[int, str]:
    """(n_dropped, text) from one LaTeX payload — module docstring has
    the subset contract."""
    if not raw:
        raise ValueError("empty/NULL latex payload")
    src = raw.decode("utf-8", errors="replace")
    body_at = src.find("\\begin{document}")
    if body_at < 0:
        if "\\documentclass" in src:
            raise ValueError("malformed latex: preamble without "
                             "\\begin{document}")
        raise ValueError("not a latex document (no \\documentclass / "
                         "\\begin{document})")
    # the body terminates when the MAIN SCAN reaches \end{document} —
    # not a textual pre-slice, so a commented-out or verbatim-quoted
    # \end{document} cannot truncate the body (r14 review fix)
    s = src[body_at + len("\\begin{document}"):]

    # pieces: flushed (is_raw, chunk) segments — raw chunks (verbatim
    # bodies, \url arguments) skip the final whitespace
    # normalization; buf accumulates pending non-raw chunks and is
    # periodically compacted so a large payload cannot amplify into
    # tens of millions of single-char strings (r14 review fix)
    pieces: list[tuple[bool, str]] = []
    buf: list[str] = []
    out_len = 0
    n_dropped = 0
    ended = False
    i, n = 0, len(s)

    def emit(t: str, raw: bool = False):
        nonlocal out_len
        if not t:
            return
        out_len += len(t)
        if budget is not None and out_len > budget:
            raise NotImplementedError(
                f"latex text exceeds the {budget}-byte budget")
        if raw:
            if buf:
                pieces.append((False, "".join(buf)))
                buf.clear()
            pieces.append((True, t))
            return
        buf.append(t)
        if len(buf) >= 65536:
            buf[:] = ["".join(buf)]

    while i < n:
        m = _PLAIN_RUN.match(s, i)
        if m:  # batch the run up to the next special character
            emit(m.group())
            i = m.end()
            continue
        c = s[i]
        if c == "%":
            j = s.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "$":
            if s[i:i + 2] == "$$":
                j = _find_math_close(s, i + 2, "$$")
                i = j + 2
            else:
                j = _find_math_close(s, i + 1, "$")
                i = j + 1
            n_dropped += 1
            continue
        if c == "{" or c == "}":
            i += 1  # grouping is transparent
            continue
        if c == "~":
            emit(" ")
            i += 1
            continue
        if c == "&":
            emit("\t")
            i += 1
            continue
        if c == "-":
            if s[i:i + 3] == "---":
                emit("—")
                i += 3
            elif s[i:i + 2] == "--":
                emit("–")
                i += 2
            else:
                emit("-")
                i += 1
            continue
        if c == "`":
            if s[i:i + 2] == "``":
                emit("“")
                i += 2
            else:
                emit("‘")
                i += 1
            continue
        if c == "'":
            if s[i:i + 2] == "''":
                emit("”")
                i += 2
            else:
                emit("'")
                i += 1
            continue
        if c != "\\":
            emit(c)
            i += 1
            continue

        # --- control sequence ---
        if i + 1 >= n:
            raise ValueError("malformed latex: trailing backslash")
        nxt = s[i + 1]
        if nxt == "\\":
            emit("\n")
            i += 2
            i = _skip_opt(s, i)  # \\[2em] spacing argument
            continue
        if nxt in "%&#_{}$":
            emit(nxt)
            i += 2
            continue
        if nxt == "(":
            j = _find_math_close(s, i + 2, "\\)")
            n_dropped += 1
            i = j + 2
            continue
        if nxt == "[":
            j = _find_math_close(s, i + 2, "\\]")
            n_dropped += 1
            i = j + 2
            continue
        if nxt in _ACCENTS and not nxt.isalpha():
            # control-symbol accent: \'e, \"o — compose onto the next
            # letter (possibly braced: \'{e})
            j = i + 2
            j2 = _skip_ws(s, j)
            if j2 < n and s[j2] == "{" and j2 + 2 < n and \
                    s[j2 + 2] == "}":
                letter = s[j2 + 1]
                i = j2 + 3
            elif j < n and s[j].isalpha():
                letter = s[j]
                i = j + 1
            else:
                i = j  # dangling accent: drop
                continue
            emit(unicodedata.normalize(
                "NFC", letter + _ACCENTS[nxt]))
            continue
        if not nxt.isalpha():
            if nxt == " " or nxt == "\n":
                emit(" ")  # control space
            # \- (discretionary hyphen) and remaining control
            # symbols drop (\~ went to the accent branch above)
            i += 2
            continue

        word, j = _read_word(s, i + 1)
        if word in ("c", "v", "u", "H", "k", "r") and j < n and \
                s[j] == "{" and j + 2 < n and s[j + 2] == "}":
            # control-word accent: \c{c} → ç
            emit(unicodedata.normalize(
                "NFC", s[j + 1] + _ACCENTS[word]))
            i = j + 3
            continue
        if word == "begin":
            j2 = _skip_ws(s, j)
            g = _skip_group(s, j2)
            if g == j2:
                raise ValueError("malformed latex: \\begin without "
                                 "{name}")
            name = s[j2 + 1:g - 1].strip()
            if name in _SKIP_ENVS:
                i = _find_env_end(s, g, name)
                n_dropped += 1
                continue
            if name in _VERBATIM_ENVS:
                g = _skip_opt(s, g)       # lstlisting options
                if name == "minted":
                    g = _skip_group(s, g)  # language argument
                end = f"\\end{{{name}}}"
                e = s.find(end, g)
                if e < 0:
                    raise ValueError("malformed latex: unterminated "
                                     f"environment {name}")
                emit("\n")
                emit(s[g:e].strip("\n"), raw=True)
                emit("\n")
                i = e + len(end)
                continue
            i = _skip_opt(s, g)  # begin's optional argument
            # mandatory non-text arguments (tabular column specs,
            # minipage widths) skip instead of leaking (review fix)
            for _ in range(_ENV_GROUP_ARGS.get(name, 0)):
                i = _skip_opts(s, i)
                i = _skip_group(s, i)
            continue
        if word == "end":
            j2 = _skip_ws(s, j)
            g = _skip_group(s, j2)
            if g != j2 and s[j2 + 1:g - 1].strip() == "document":
                ended = True  # the real body terminator (review fix)
                break
            i = g
            continue
        if word == "par":
            emit("\n\n")
            i = j
            continue
        if word == "href":
            g1 = _skip_group(s, j)  # url argument drops
            if g1 == j:
                i = j
                continue
            i = g1  # the {text} group stays transparent
            continue
        if word in ("url", "path"):
            j2 = _skip_ws(s, j)
            g = _skip_group(s, j2)
            if g == j2:
                i = j2  # non-braced delimiter form: drop the token
                continue
            # the argument is a verbatim-like token: emit raw so %/~
            # and friends inside the URL are never interpreted
            # (review fix: a % in a percent-encoded URL was starting
            # a comment that swallowed following text)
            emit(s[j2 + 1:g - 1], raw=True)
            i = g
            continue
        if word in _SKIP_TWO_GROUPS:
            g = _skip_opt(s, j)
            g = _skip_group(s, g)
            g = _skip_opt(s, g)
            g = _skip_opt(s, g)
            i = _skip_group(s, g)
            continue
        if word in _SKIP_ONE_GROUP:
            g = _skip_opt(s, j)
            g2 = _skip_group(s, g)
            if word == "def" and g2 == g:
                # \def\cmd{body}: the target is a control sequence,
                # not a group — skip it, then the body group
                g = _skip_ws(s, g)
                if g < n and s[g] == "\\":
                    _, g = _read_word(s, g + 1)
                g2 = _skip_group(s, g)
            i = _skip_opt(s, g2)
            continue
        if word in _SECTIONING:
            emit("\n")
            i = _skip_opt(s, j)  # short-title optional
            continue  # argument text flows through transparently
        if word in _CHAR_WORDS:
            emit(_CHAR_WORDS[word])
            i = j
            continue
        # unknown command: drop the token, keep any braced argument
        # content (transparent braces) — \textbf{word} keeps word
        i = _skip_opt(s, j)

    if not ended:
        raise ValueError("malformed latex: missing \\end{document}")

    def norm(t: str) -> str:
        t = _WS_RUN.sub(" ", t)
        t = _NL_SPACE.sub("\n", t)
        return _BLANKS.sub("\n\n", t)

    # buf already fuses contiguous non-raw chunks (emit flushes it
    # only at raw boundaries), so whitespace runs normalize across
    # chunk boundaries; raw chunks pass through untouched
    if buf:
        pieces.append((False, "".join(buf)))
    text = "".join(t if raw_flag else norm(t)
                   for raw_flag, t in pieces).strip()
    return n_dropped, text


def latex_text(blobs: DataFrame,
               byte_budget: int | None = ARCHIVE_BYTE_BUDGET,
               ) -> DataFrame:
    """``(doc_id, payload)`` → ``(doc_id, format, n_dropped, n_chars,
    text[, error, error_kind])`` — LaTeX source to visible text (see
    module docstring for the subset contract). ``n_dropped`` counts
    the math/graphics segments removed."""
    from .multimodal import _quarantine_map

    def one(raw):
        n_dropped, text = _extract_latex(raw, byte_budget)
        return {"format": "latex", "n_dropped": n_dropped,
                "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, LATEX_TEXT_SCHEMA)
