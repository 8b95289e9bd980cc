"""Code-corpus quality filters (r14) — the published The-Stack /
StarCoder-style source-file funnel, as pure Column math.

Public code corpora (The Stack, StarCoderData) filter raw source files
with a small set of structural rules before any model-based scoring:
line-length bounds (minified / machine-generated files have kilometric
lines), alphanumeric-fraction bounds (binary-ish or data-blob files),
long hex / base64 runs (embedded binaries masquerading as text), and
auto-generation markers in the header. This module reproduces that
funnel the same way ``quality_presets.py`` reproduces Gopher/C4: every
feature is a JVM-side Column expression over ONE ``split``/``length``
projection — zero Python in the hot path, map-only, so the funnel
costs one pass over a 100 TB code corpus.

Operators:

- :func:`lang_from_path` — file extension → language name (the
  routing column every per-language cap/sample keys on). The map is
  a literal ``CASE``; unknown extensions → NULL.
- :func:`code_stats` — per-file structural features:
  ``cq_n_lines, cq_max_line_len, cq_avg_line_len, cq_alnum_frac,
  cq_alpha_frac, cq_hex_frac, cq_b64_frac, cq_autogen``. Fractions
  are ``round6``-pinned so the DuckDB oracle reproduces them exactly.
- :func:`stack_filter` — first-fail verdict
  (``empty → long_lines → avg_line_len → low_alnum → hex_blob →
  b64_blob → autogenerated → keep``) with the published defaults as
  keyword knobs (``max_line_len=1000, max_avg_line_len=100,
  min_alnum_frac=0.25, max_hex_frac=0.4, max_b64_frac=0.4``).

Reference anchor: the reference computes none of this
(fetch_youtube_data.py is a YouTube-API ETL); the family belongs to
the declared LLM-training-pipeline north star (SURVEY §7) beside the
Gopher/C4 presets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.rounding import round6

# extension → language, the common public-corpus routing table
EXT_LANG = {
    "py": "python", "ipynb": "jupyter", "js": "javascript",
    "jsx": "javascript", "mjs": "javascript", "ts": "typescript",
    "tsx": "typescript", "java": "java", "c": "c", "h": "c",
    "cc": "cpp", "cpp": "cpp", "cxx": "cpp", "hpp": "cpp",
    "hh": "cpp", "cs": "c-sharp", "go": "go", "rs": "rust",
    "rb": "ruby", "php": "php", "swift": "swift", "kt": "kotlin",
    "kts": "kotlin", "scala": "scala", "pl": "perl", "pm": "perl",
    "lua": "lua", "r": "r", "jl": "julia", "hs": "haskell",
    "ml": "ocaml", "ex": "elixir", "exs": "elixir", "erl": "erlang",
    "clj": "clojure", "dart": "dart", "sh": "shell",
    "bash": "shell", "zsh": "shell", "ps1": "powershell",
    "sql": "sql", "html": "html", "htm": "html", "css": "css",
    "scss": "css", "less": "css", "xml": "xml", "json": "json",
    "yaml": "yaml", "yml": "yaml", "toml": "toml", "ini": "ini",
    "cfg": "ini", "md": "markdown", "rst": "restructuredtext",
    "tex": "latex", "dockerfile": "dockerfile", "mk": "makefile",
    "cmake": "cmake", "gradle": "gradle", "proto": "protobuf",
    "thrift": "thrift", "sol": "solidity", "vb": "visual-basic",
    "f90": "fortran", "f": "fortran", "asm": "assembly",
    "s": "assembly", "zig": "zig", "nim": "nim", "v": "verilog",
    "vhd": "vhdl", "m": "objective-c", "mm": "objective-c",
    "groovy": "groovy", "bat": "batchfile", "cmd": "batchfile",
}

# auto-generation markers probed in the first header bytes
AUTOGEN_MARKERS = ("auto-generated", "autogenerated",
                   "automatically generated", "do not edit",
                   "generated by", "@generated")

_HEX_RUN = "(0[xX])?[0-9a-fA-F]{16,}"
_B64_RUN = "[A-Za-z0-9+/=]{64,}"


def lang_from_path(path: str | Column) -> Column:
    """Language name from a file path's extension (lowercased; the
    extensionless special names ``Dockerfile``/``Makefile`` resolve by
    basename). Unknown → NULL."""
    p = F.col(path) if isinstance(path, str) else path
    base = F.lower(F.element_at(F.split(p, "/"), -1))
    ext = F.lower(F.regexp_extract(p, r"\.([A-Za-z0-9_]+)$", 1))
    expr = (F.when(base == "dockerfile", F.lit("dockerfile"))
            .when(base == "makefile", F.lit("makefile"))
            .when(base == "cmakelists.txt", F.lit("cmake")))
    m = F.create_map(*[F.lit(x) for kv in EXT_LANG.items()
                       for x in kv])
    return expr.otherwise(m[ext])


def code_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-file structural features (see module docstring). One
    ``split`` projection feeds every line statistic; the character
    fractions are length deltas after global ``regexp_replace`` — all
    JVM Column math, ``round6``-pinned doubles."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    lens = F.transform(lines, lambda x: F.length(x))
    n_lines = F.size(lines)
    total = F.length(txt)
    totald = total.cast("double")

    def frac_removed(pattern: str) -> Column:
        kept = F.length(F.regexp_replace(txt, pattern, ""))
        return round6(
            F.when(total > 0, (total - kept).cast("double") / totald)
            .otherwise(F.lit(0.0)))

    head = F.lower(F.substring(txt, 1, 2000))
    autogen = None
    for mk in AUTOGEN_MARKERS:
        c = F.contains(head, F.lit(mk))
        autogen = c if autogen is None else (autogen | c)
    return df.withColumns({
        "cq_n_lines": n_lines,
        "cq_max_line_len": F.coalesce(F.array_max(lens), F.lit(0)),
        "cq_avg_line_len": round6(
            F.when(n_lines > 0,
                   F.aggregate(lens, F.lit(0),
                               lambda a, x: a + x).cast("double")
                   / n_lines.cast("double"))
            .otherwise(F.lit(0.0))),
        "cq_alnum_frac": frac_removed("[A-Za-z0-9]"),
        "cq_alpha_frac": frac_removed("[A-Za-z]"),
        "cq_hex_frac": frac_removed(_HEX_RUN),
        "cq_b64_frac": frac_removed(_B64_RUN),
        "cq_autogen": autogen,
    })


def stack_filter(df: DataFrame, text_col: str = "text", *,
                 max_line_len: int = 1000,
                 max_avg_line_len: float = 100.0,
                 min_alnum_frac: float = 0.25,
                 max_hex_frac: float = 0.4,
                 max_b64_frac: float = 0.4) -> DataFrame:
    """First-fail verdict column ``cq_verdict`` over
    :func:`code_stats` features, published-default knobs (module
    docstring). Rule order is part of the contract — a funnel
    attributes each file to the FIRST rule it breaks."""
    out = code_stats(df, text_col)
    verdict = (
        F.when(F.length(F.coalesce(F.col(text_col), F.lit(""))) == 0,
               "empty")
        .when(F.col("cq_max_line_len") > max_line_len, "long_lines")
        .when(F.col("cq_avg_line_len") > max_avg_line_len,
              "avg_line_len")
        .when(F.col("cq_alnum_frac") < min_alnum_frac, "low_alnum")
        .when(F.col("cq_hex_frac") > max_hex_frac, "hex_blob")
        .when(F.col("cq_b64_frac") > max_b64_frac, "b64_blob")
        .when(F.col("cq_autogen"), "autogenerated")
        .otherwise("keep")
    )
    return out.withColumn("cq_verdict", verdict)
