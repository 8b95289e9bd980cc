"""Jupyter notebook text extraction (r14) — .ipynb files are a
first-class member of every public code corpus (they dominate
data-science repositories), and their JSON container needs flattening
before any text/code quality pass can run.

:func:`ipynb_text` implements the public nbformat container (the
``.ipynb`` JSON schema, stable since nbformat 4; nbformat 3's
``worksheets`` nesting is also handled):

- The payload must parse as a JSON object carrying ``cells`` (v4) or
  ``worksheets[*].cells`` (v3); anything else is malformed.
  ``nbformat`` versions outside 3/4 refuse as unsupported (honest-stub
  policy: no guessing at future schemas).
- Each cell's ``source`` may be a string or a list of line strings
  (both spellings are in the wild; the list form concatenates
  verbatim — lines already carry their newlines).
- ``markdown``/``raw`` cells contribute their text directly; ``code``
  cells are fenced with the notebook's kernel language
  (``metadata.kernelspec.language``, falling back to
  ``metadata.language_info.name``, else ``code``) so a downstream
  code-corpus pass can route them.
- With ``include_outputs=True``, textual outputs join the flattened
  text: ``stream`` text and the ``text/plain`` member of
  ``execute_result``/``display_data`` data bags. Binary/rich outputs
  (images) never inline — they are the multimodal table's job.
- Unknown cell types drop (forward compatibility), counted nowhere —
  the per-kind counters cover the known kinds.

Scale: per-payload ``json.loads`` + linear cell walk inside the
standard Arrow-batched mapInPandas quarantine harness — no shuffle, no
driver data-plane. The byte budget is enforced on the PAYLOAD size
before parsing (JSON must be materialized to parse, so the input bound
is the real memory bound) and again on the flattened text. Reference
anchor: the reference decodes nothing (fetch_youtube_data.py); this
extends the document-format ladder (SURVEY §7 north star) for code
corpora.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from .multimodal import DECODE_BYTE_BUDGET, _quarantine_map, check_budget

# CSI escape sequences (colored tracebacks, progress bars) are pure
# noise in flattened outputs — stripped before the text joins the doc
_ANSI = re.compile(r"\x1b\[[0-9;?]*[A-Za-z]|\x1b\][^\x07\x1b]*"
                   r"(?:\x07|\x1b\\)|[\r\x08]")

IPYNB_TEXT_SCHEMA = (
    "doc_id bigint, format string, language string, n_cells int, "
    "n_code_cells int, n_md_cells int, n_chars int, text string, "
    "error string, error_kind string"
)


def _cell_source(cell: dict) -> str:
    src = cell.get("source", cell.get("input", ""))
    if isinstance(src, list):
        parts = []
        for ln in src:
            if not isinstance(ln, str):
                raise ValueError(
                    "malformed ipynb: non-string source line")
            parts.append(ln)
        return "".join(parts)
    if not isinstance(src, str):
        raise ValueError("malformed ipynb: source is neither string "
                         "nor list")
    return src


def _output_text(out: dict) -> str:
    kind = out.get("output_type")
    if kind == "stream":
        txt = out.get("text", "")
        if isinstance(txt, list):
            txt = "".join(t for t in txt if isinstance(t, str))
        return txt if isinstance(txt, str) else ""
    if kind in ("execute_result", "display_data"):
        data = out.get("data")
        if isinstance(data, dict):
            txt = data.get("text/plain", "")
            if isinstance(txt, list):
                txt = "".join(t for t in txt if isinstance(t, str))
            return txt if isinstance(txt, str) else ""
        # nbformat 3 spelled execute_result as pyout with top-level
        # text; tolerate the common member
        txt = out.get("text", "")
        if isinstance(txt, list):
            txt = "".join(t for t in txt if isinstance(t, str))
        return txt if isinstance(txt, str) else ""
    if kind == "pyout" or kind == "pyerr":
        txt = out.get("text", "")
        if isinstance(txt, list):
            txt = "".join(t for t in txt if isinstance(t, str))
        return txt if isinstance(txt, str) else ""
    return ""


def _extract_ipynb(raw: bytes, include_outputs: bool) -> dict:
    if not raw:
        raise ValueError("empty/NULL ipynb payload")
    check_budget("ipynb payload", len(raw), DECODE_BYTE_BUDGET, "byte")
    try:
        nb = json.loads(raw.decode("utf-8", errors="replace"))
    except json.JSONDecodeError as e:
        raise ValueError(f"malformed ipynb: not JSON ({e.msg})")
    if not isinstance(nb, dict):
        raise ValueError("malformed ipynb: top level is not an object")
    ver = nb.get("nbformat", 4 if "cells" in nb else None)
    if not isinstance(ver, int) or ver not in (3, 4):
        raise NotImplementedError(
            f"unsupported nbformat version: {ver!r}")
    if ver == 4:
        cells = nb.get("cells")
        if not isinstance(cells, list):
            raise ValueError("malformed ipynb: missing cells list")
    else:
        sheets = nb.get("worksheets")
        if not isinstance(sheets, list):
            raise ValueError(
                "malformed ipynb: missing worksheets list")
        cells = []
        for ws in sheets:
            if not isinstance(ws, dict) or not isinstance(
                    ws.get("cells"), list):
                raise ValueError(
                    "malformed ipynb: worksheet without cells")
            cells.extend(ws["cells"])

    meta = nb.get("metadata")
    language = None
    if isinstance(meta, dict):
        ks = meta.get("kernelspec")
        if isinstance(ks, dict) and isinstance(ks.get("language"),
                                               str):
            language = ks["language"]
        if language is None:
            li = meta.get("language_info")
            if isinstance(li, dict) and isinstance(li.get("name"),
                                                   str):
                language = li["name"]

    parts: list[str] = []
    out_len = 0
    n_code = n_md = n_known = 0

    def emit(t: str):
        nonlocal out_len
        if not t:
            return
        parts.append(t)
        out_len += len(t)
        check_budget("ipynb text", out_len, DECODE_BYTE_BUDGET, "byte")

    for cell in cells:
        if not isinstance(cell, dict):
            raise ValueError("malformed ipynb: cell is not an object")
        kind = cell.get("cell_type")
        if kind in ("markdown", "raw", "heading"):
            n_md += 1
            n_known += 1
            src = _cell_source(cell)
            if kind == "heading":
                # nbformat 3 heading cells carry a level
                lvl = cell.get("level", 1)
                lvl = lvl if isinstance(lvl, int) and 1 <= lvl <= 6 \
                    else 1
                src = "#" * lvl + " " + src
            emit(src.rstrip("\n") + "\n\n")
        elif kind == "code":
            n_code += 1
            n_known += 1
            src = _cell_source(cell)
            emit("```" + (language or "code") + "\n"
                 + src.rstrip("\n") + "\n```\n\n")
            if include_outputs:
                for out in cell.get("outputs") or []:
                    if isinstance(out, dict):
                        txt = _ANSI.sub("", _output_text(out))
                        if txt:
                            emit(txt.rstrip("\n") + "\n\n")
        # unknown cell types drop (forward compatibility)

    text = "".join(parts).strip()
    return {"format": "ipynb", "language": language,
            "n_cells": n_known, "n_code_cells": n_code,
            "n_md_cells": n_md, "n_chars": len(text), "text": text}


def ipynb_text(blobs: DataFrame,
               include_outputs: bool = False) -> DataFrame:
    """``(doc_id, payload)`` → ``(doc_id, format, language, n_cells,
    n_code_cells, n_md_cells, n_chars, text[, error, error_kind])`` —
    .ipynb JSON flattened to markdown-plus-fenced-code text (see
    module docstring for the container contract)."""
    def one(raw):
        return _extract_ipynb(raw, include_outputs)

    return _quarantine_map(blobs, one, IPYNB_TEXT_SCHEMA)
