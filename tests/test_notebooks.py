"""ipynb_text (operators/notebooks.py, r14): the nbformat 3/4
container flatten — cell kinds, source spellings, language fallbacks,
output inclusion — against hand-built notebooks."""

from __future__ import annotations

import json

import pytest

from youtube_api_data_etl_automation_spark.operators import (
    notebooks as N,
)

from tests.test_archives import _blob_df


def _nb4(cells, **meta) -> bytes:
    return json.dumps({"nbformat": 4, "nbformat_minor": 5,
                       "metadata": meta, "cells": cells}).encode()


def test_ipynb_basic_extraction(spark):
    nb = _nb4(
        [{"cell_type": "markdown",
          "source": ["# Title\n", "Some *prose*.\n"]},
         {"cell_type": "code", "source": "print('hi')",
          "outputs": [{"output_type": "stream", "text": ["hi\n"]}]},
         {"cell_type": "raw", "source": "raw text"},
         {"cell_type": "mystery", "source": "dropped"}],
        kernelspec={"language": "python", "name": "python3"})
    rows = {r["doc_id"]: r for r in N.ipynb_text(_blob_df(spark, [
        (1, nb),
        (2, b"not json at all"),
        (3, b"[1, 2, 3]"),
    ])).collect()}
    d = rows[1]
    assert d["format"] == "ipynb" and d["error"] is None
    assert d["language"] == "python"
    assert (d["n_cells"], d["n_code_cells"], d["n_md_cells"]) \
        == (3, 1, 2)
    assert d["text"] == ("# Title\nSome *prose*.\n\n"
                         "```python\nprint('hi')\n```\n\nraw text")
    assert d["n_chars"] == len(d["text"])
    assert rows[2]["error_kind"] == "corrupt"
    assert rows[3]["error_kind"] == "corrupt"


def test_ipynb_outputs_opt_in():
    nb = _nb4([{"cell_type": "code", "source": "1+1", "outputs": [
        {"output_type": "execute_result",
         "data": {"text/plain": ["2"], "image/png": "AAAA"}},
        {"output_type": "stream", "text": "done\n"},
        {"output_type": "display_data", "data": {"image/png": "BB"}},
    ]}], language_info={"name": "python"})
    off = N._extract_ipynb(nb, False)
    assert off["text"] == "```python\n1+1\n```"
    on = N._extract_ipynb(nb, True)
    assert on["text"] == "```python\n1+1\n```\n\n2\n\ndone"


def test_ipynb_nbformat3_worksheets_and_heading():
    nb = json.dumps({
        "nbformat": 3,
        "metadata": {},
        "worksheets": [{"cells": [
            {"cell_type": "heading", "level": 2, "source": "Section"},
            {"cell_type": "code", "input": "x = 1", "outputs": []},
        ]}],
    }).encode()
    r = N._extract_ipynb(nb, False)
    assert r["language"] is None
    assert r["text"] == "## Section\n\n```code\nx = 1\n```"
    assert r["n_cells"] == 2


def test_ipynb_malformed_and_unsupported():
    with pytest.raises(ValueError, match="not JSON"):
        N._extract_ipynb(b"{", False)
    with pytest.raises(ValueError, match="top level"):
        N._extract_ipynb(b"[1]", False)
    with pytest.raises(ValueError, match="missing cells"):
        N._extract_ipynb(b'{"nbformat": 4}', False)
    with pytest.raises(ValueError, match="missing worksheets"):
        N._extract_ipynb(b'{"nbformat": 3}', False)
    with pytest.raises(NotImplementedError, match="unsupported"):
        N._extract_ipynb(b'{"nbformat": 5, "cells": []}', False)
    with pytest.raises(ValueError, match="non-string source line"):
        N._extract_ipynb(
            _nb4([{"cell_type": "markdown", "source": [1]}]), False)
    with pytest.raises(ValueError, match="cell is not"):
        N._extract_ipynb(b'{"nbformat": 4, "cells": [7]}',
                         False)
    with pytest.raises(ValueError, match="empty"):
        N._extract_ipynb(b"", False)


def test_ipynb_budget(monkeypatch):
    # the payload-size gate fires before json parsing; the emit-side
    # budget is defense-in-depth (flattened text is always smaller
    # than the JSON that carried it, so the input gate is the one
    # adversaries can reach)
    big = _nb4([{"cell_type": "markdown", "source": "x" * 500}])
    monkeypatch.setattr(N, "DECODE_BYTE_BUDGET", 100)
    with pytest.raises(NotImplementedError, match="payload exceeds"):
        N._extract_ipynb(big, False)


def test_ipynb_missing_nbformat_defaults_to_cells():
    # some exporters omit nbformat; a top-level cells list is v4
    nb = json.dumps({"cells": [
        {"cell_type": "markdown", "source": "hello"}]}).encode()
    assert N._extract_ipynb(nb, False)["text"] == "hello"


def test_ipynb_to_documents_bridge_and_cli(spark, capsys):
    nb = _nb4([{"cell_type": "markdown", "source": "Notebook prose."}],
              kernelspec={"language": "python"})
    got = {r["doc_id"]: r for r in N.ipynb_text(
        _blob_df(spark, [(51, nb), (52, b"{bad")])
    ).collect()}
    assert got[51]["error"] is None
    assert got[51]["text"] == "Notebook prose."
    assert got[52]["error"] is not None and got[52]["text"] is None

    import tempfile

    from youtube_api_data_etl_automation_spark.__main__ import main

    with tempfile.TemporaryDirectory() as td:
        src = td + "/blobs.parquet"
        _blob_df(spark, [(1, nb)]).write.parquet(src)
        main(["media", "--input", src, "--op", "ipynbtext"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "ok" and out["n"] == 1
    assert out["by_format"] == {"ipynb": 1}


def test_ipynb_output_ansi_stripped():
    # colored tracebacks / progress bars flatten to clean text
    nb = _nb4([{"cell_type": "code", "source": "x", "outputs": [
        {"output_type": "stream",
         "text": "\x1b[31mError\x1b[0m: bad\n50%\r"},
    ]}])
    on = N._extract_ipynb(nb, True)
    assert on["text"].endswith("Error: bad\n50%")
