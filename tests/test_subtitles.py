"""Subtitle extraction (operators/subtitles.py): hand-written SRT/VTT
payloads with human-specified expected text (no shared-encoder risk),
format detection, tag stripping, timing validation, budget, fuzz."""

from __future__ import annotations

import random

import pytest

from youtube_api_data_etl_automation_spark.operators import subtitles as S

SRT = b"""\xef\xbb\xbf1
00:00:01,000 --> 00:00:03,500
Hello there,
caption one.

2
00:00:04,000 --> 00:00:06,250
Second cue text.
"""

VTT = b"""WEBVTT - some header note

NOTE
this block is skipped entirely

intro-cue
00:01.000 --> 00:03.000
<v Speaker>Styled <i>text</i> here</v>

00:00:04.000 --> 01:00:05.500
Plain second cue
"""


def test_srt_parses_with_bom_and_indices():
    fmt, n, dur, text = S.parse_subtitles(SRT)
    assert (fmt, n) == ("srt", 2)
    assert dur == 6.25
    assert text == "Hello there, caption one.\nSecond cue text."


def test_vtt_strips_tags_skips_notes_handles_cue_ids():
    fmt, n, dur, text = S.parse_subtitles(VTT)
    assert (fmt, n) == ("vtt", 2)
    assert dur == 3605.5  # 01:00:05.500 with hours
    assert text == "Styled text here\nPlain second cue"


def test_vtt_header_metadata_lines_are_skipped():
    """r12 (ADVICE): YouTube's real VTT shape — 'Kind: captions' /
    'Language: en' header lines after WEBVTT, spec-valid until the
    first blank line — must parse as header, not as cue identifiers."""
    vtt = (b"WEBVTT\n"
           b"Kind: captions\n"
           b"Language: en\n"
           b"\n"
           b"00:00:01.000 --> 00:00:02.000\n"
           b"First cue.\n"
           b"\n"
           b"00:00:03.000 --> 00:00:04.500\n"
           b"Second cue.\n")
    fmt, n, dur, text = S.parse_subtitles(vtt)
    assert (fmt, n) == ("vtt", 2)
    assert dur == 4.5
    assert text == "First cue.\nSecond cue."
    # header-only file (no cues) parses to zero cues, not an error
    fmt, n, dur, text = S.parse_subtitles(
        b"WEBVTT\nKind: captions\nLanguage: en\n")
    assert (fmt, n, dur, text) == ("vtt", 0, 0.0, "")
    # lenient writers omit the blank line after WEBVTT — the cue must
    # not be swallowed as header (r12 review fix)
    fmt, n, dur, text = S.parse_subtitles(
        b"WEBVTT\n00:00:01.000 --> 00:00:02.000\nHi")
    assert (fmt, n, dur, text) == ("vtt", 1, 2.0, "Hi")
    fmt, n, dur, text = S.parse_subtitles(
        b"WEBVTT\nKind: captions\n00:00:01.000 --> 00:00:02.000\nHi")
    assert (fmt, n, dur, text) == ("vtt", 1, 2.0, "Hi")


def test_refusals(monkeypatch):
    with pytest.raises(NotImplementedError, match="neither WebVTT"):
        S.parse_subtitles(b"just some plain text\nwith lines\n")
    bad_order = (b"1\n00:00:05,000 --> 00:00:01,000\nbackwards\n")
    with pytest.raises(ValueError, match="ends.*before"):
        S.parse_subtitles(bad_order)
    missing_timing = b"1\nnot a timestamp\ntext\n"
    with pytest.raises((ValueError, NotImplementedError)):
        S.parse_subtitles(missing_timing)
    many = b"WEBVTT\n\n" + b"".join(
        b"00:00:01.000 --> 00:00:02.000\ncue\n\n" for _ in range(30))
    monkeypatch.setattr(S, "SUBTITLE_CUE_BUDGET", 10)
    with pytest.raises(NotImplementedError, match="cue budget"):
        S.parse_subtitles(many)


def test_spark_quarantine(spark):
    df = spark.createDataFrame(
        [(1, bytearray(SRT)), (2, bytearray(VTT)),
         (3, bytearray(b"neither format")),
         (4, bytearray(b"1\n00:00:09,000 --> 00:00:01,000\nx\n"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in S.subtitles_text(df).collect()}
    assert rows[1]["format"] == "srt" and rows[1]["n_cues"] == 2
    assert rows[1]["n_chars"] == len(rows[1]["text"])
    assert rows[2]["format"] == "vtt"
    assert rows[2]["duration_sec"] == 3605.5
    assert rows[3]["error_kind"] == "unsupported"
    assert rows[4]["error_kind"] == "corrupt"


def test_fuzz_quarantine_contract():
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        DECODE_ERRORS,
    )

    rng = random.Random(0x5AB)
    for base in (SRT, VTT):
        for _ in range(200):
            buf = bytearray(base)
            for _ in range(rng.randint(1, 6)):
                buf[rng.randrange(len(buf))] = rng.randrange(256)
            try:
                S.parse_subtitles(bytes(buf))
            except DECODE_ERRORS:
                pass
    for _ in range(100):
        junk = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 300)))
        try:
            S.parse_subtitles(junk)
        except DECODE_ERRORS:
            pass


def test_subtitles_to_documents_composition(spark):
    df = spark.createDataFrame(
        [(21, bytearray(SRT)), (22, bytearray(b"nope"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in S.subtitles_text(df).collect()}
    assert rows[21]["error"] is None and rows[21]["format"] == "srt"
    assert "Second cue" in rows[21]["text"]
    assert rows[22]["error"] is not None and rows[22]["text"] is None
