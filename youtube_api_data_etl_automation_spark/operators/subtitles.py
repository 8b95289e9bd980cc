"""Subtitle/caption extraction: SRT and WebVTT → text rows.

The reference pipeline's corpus is YouTube-shaped
(fetch_youtube_data.py:121-134 captures per-video metadata); the
video-adjacent TEXT a training pipeline wants is the caption track,
and the two formats that carry it everywhere are SubRip (.srt) and
WebVTT (.vtt). Both are line-oriented text: cues of
``start --> end`` timestamps followed by text lines, blank-line
separated. This parses exactly that — cue timing validated, VTT
styling/voice tags stripped, NOTE/STYLE/REGION blocks skipped — and
emits one corpus-ready text row per payload with cue count and the
spoken duration, so downstream stages can filter on caption density
(auto-captions with second-long cues vs. full transcripts).

Same contract as every payload operator: Arrow-batched mapInPandas
through the one quarantine harness, total over crawl garbage (utf-8
replacement decode; a text file that is neither format becomes an
'unsupported' quarantine row, a structurally broken cue a 'corrupt'
one).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

SUBTITLE_SCHEMA = (
    "doc_id bigint, format string, n_cues int, duration_sec double, "
    "n_chars int, text string, error string, error_kind string"
)

# SRT: 00:00:01,000  VTT: 00:00:01.000 (hours optional in VTT)
_TS = r"(?:(\d{1,3}):)?(\d{1,2}):(\d{2})[,.](\d{3})"
_CUE_RE = re.compile(rf"^\s*{_TS}\s*-->\s*{_TS}")
_VTT_TAG_RE = re.compile(r"</?[^>\n]*>")  # <i>, <c.color>, <v Name>, …

SUBTITLE_CUE_BUDGET = 200_000  # cues per payload (≈55 h of captions)


def _ts_seconds(m: re.Match, base: int) -> float:
    h = int(m.group(base) or 0)
    return (h * 3600 + int(m.group(base + 1)) * 60
            + int(m.group(base + 2)) + int(m.group(base + 3)) / 1000.0)


def parse_subtitles(payload: bytes,
                    cue_budget: int | None = SUBTITLE_CUE_BUDGET,
                    ) -> tuple[str, int, float, str]:
    """(format, n_cues, duration_sec, text) for one SRT/VTT payload."""
    raw = bytes(payload)
    if raw[:3] == b"\xef\xbb\xbf":  # UTF-8 BOM (common in SRT)
        raw = raw[3:]
    text = raw.decode("utf-8", "replace")
    lines = text.splitlines()
    is_vtt = bool(lines) and lines[0].strip().startswith("WEBVTT")
    # SRT detection: the first cue timestamp within the leading lines
    # (index numbers and blank lines precede it)
    if not is_vtt:
        head_has_cue = any(_CUE_RE.match(ln) for ln in lines[:8])
        if not head_has_cue:
            raise NotImplementedError(
                "payload is neither WebVTT (no WEBVTT header) nor SRT "
                "(no cue timestamp in the leading lines); other caption "
                "formats (TTML/SSA) need a format-specific parser"
            )
    fmt = "vtt" if is_vtt else "srt"
    cues: list[str] = []
    last_end = 0.0
    n = len(lines)
    i = 0
    if is_vtt:
        # Per the WebVTT spec, the WEBVTT signature line may be followed
        # by header metadata lines (YouTube emits 'Kind: captions' /
        # 'Language: en') — everything up to the first blank line is
        # header, not cues. Lenient writers omit that blank line, so
        # the scan also stops at the first cue timing line rather than
        # swallowing the cues as header (r12 review fix).
        i = 1
        while i < n and lines[i].strip() \
                and not _CUE_RE.match(lines[i]):
            i += 1
    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            i += 1
            continue
        if is_vtt and stripped.split(" ")[0] in ("NOTE", "STYLE",
                                                 "REGION"):
            while i < n and lines[i].strip():
                i += 1
            continue
        m = _CUE_RE.match(line)
        if m is None:
            # a cue identifier (SRT index / VTT cue id) — the NEXT line
            # must then be the timing line
            if i + 1 < n and _CUE_RE.match(lines[i + 1]):
                i += 1
                m = _CUE_RE.match(lines[i])
            else:
                raise ValueError(
                    f"malformed {fmt}: expected a cue timing line near "
                    f"line {i + 1}"
                )
        start = _ts_seconds(m, 1)
        end = _ts_seconds(m, 5)
        if end < start:
            raise ValueError(
                f"malformed {fmt}: cue ends ({end:.3f}s) before it "
                f"starts ({start:.3f}s)"
            )
        last_end = max(last_end, end)
        i += 1
        block: list[str] = []
        while i < n and lines[i].strip():
            cue_text = lines[i]
            if is_vtt:
                cue_text = _VTT_TAG_RE.sub("", cue_text)
            block.append(cue_text.strip())
            i += 1
        if block:
            cues.append(" ".join(block))
        if cue_budget is not None and len(cues) > cue_budget:
            raise NotImplementedError(
                f"subtitle payload exceeds the {cue_budget}-cue budget; "
                "raise cue_budget (or pass None)"
            )
    return fmt, len(cues), last_end, "\n".join(cues)


def subtitles_text(blobs: DataFrame,
                   cue_budget: int | None = SUBTITLE_CUE_BUDGET,
                   ) -> DataFrame:
    """SRT/WebVTT caption payloads → one text row each: format, cue
    count, spoken duration (max cue end), extracted text (one line per
    cue, styling tags stripped). Quarantine contract; TTML/SSA refuse
    as 'unsupported'."""
    from .multimodal import _quarantine_map

    def one(payload):
        if not payload:
            raise ValueError("empty/NULL subtitle payload")
        fmt, n_cues, dur, text = parse_subtitles(payload, cue_budget)
        return {"format": fmt, "n_cues": n_cues,
                "duration_sec": dur, "n_chars": len(text), "text": text}

    return _quarantine_map(blobs, one, SUBTITLE_SCHEMA)
