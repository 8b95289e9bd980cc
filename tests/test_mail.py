"""eml_text / mbox_split (operators/mail.py, r14): RFC 5322 + MIME
message extraction and mbox mailbox splitting, stdlib-only, under the
decode family's quarantine contract."""

from __future__ import annotations

import base64
import quopri

import pytest

from youtube_api_data_etl_automation_spark.operators import mail as M

from tests.test_archives import _blob_df


def _mime_alt() -> bytes:
    plain = quopri.encodestring("café plain body".encode("utf-8"))
    html = base64.encodebytes(
        b"<html><head><title>x</title></head>"
        b"<body><p>html &amp; body</p></body></html>")
    return (b"From: Ada <ada@example.com>\r\n"
            b"To: grace@example.com\r\n"
            b"Subject: =?utf-8?B?" + base64.b64encode(
                "Résumé".encode("utf-8")) + b"?=\r\n"
            b"Date: Mon, 01 Jan 2024 10:00:00 +0000\r\n"
            b"MIME-Version: 1.0\r\n"
            b"Content-Type: multipart/mixed; boundary=OUTER\r\n\r\n"
            b"--OUTER\r\n"
            b"Content-Type: multipart/alternative; boundary=INNER\r\n"
            b"\r\n"
            b"--INNER\r\n"
            b"Content-Type: text/plain; charset=utf-8\r\n"
            b"Content-Transfer-Encoding: quoted-printable\r\n\r\n"
            + plain + b"\r\n"
            b"--INNER\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Transfer-Encoding: base64\r\n\r\n"
            + html + b"\r\n"
            b"--INNER--\r\n"
            b"--OUTER\r\n"
            b"Content-Type: application/pdf\r\n"
            b"Content-Disposition: attachment; filename=a.pdf\r\n"
            b"Content-Transfer-Encoding: base64\r\n\r\n"
            + base64.encodebytes(b"%PDF-fake") + b"\r\n"
            b"--OUTER--\r\n")


def test_eml_multipart_alternative_prefers_plain(spark):
    rows = {r["doc_id"]: r for r in M.eml_text(_blob_df(spark, [
        (1, _mime_alt()),
        (2, b"no headers here, just junk bytes \x00\x01"),
    ])).collect()}
    e = rows[1]
    assert e["error"] is None and e["format"] == "eml"
    assert e["subject"] == "Résumé"           # RFC 2047 decoded
    assert e["sender"] == "Ada <ada@example.com>"
    assert e["recipient"] == "grace@example.com"
    assert "2024" in e["msg_date"]
    assert e["text"] == "café plain body"     # plain arm wins
    assert e["n_attachments"] == 1            # the PDF never decodes
    assert e["n_chars"] == len(e["text"])
    assert rows[2]["error_kind"] == "corrupt"


def test_eml_html_only_strips():
    raw = (b"Subject: h\r\nContent-Type: text/html; charset=utf-8\r\n"
           b"\r\n<html><body><p>only &#72;tml</p></body></html>")
    row = M._extract_eml(raw, None)
    assert row["text"] == "only Html"
    # alternative with ONLY an html arm falls back to it
    alt = (b"Subject: h\r\n"
           b"Content-Type: multipart/alternative; boundary=B\r\n\r\n"
           b"--B\r\nContent-Type: text/html\r\n\r\n<p>alt html</p>\r\n"
           b"--B--\r\n")
    assert M._extract_eml(alt, None)["text"] == "alt html"


def test_eml_budget_refuses():
    raw = (b"Subject: big\r\n\r\n" + b"x" * 5000)
    with pytest.raises(NotImplementedError, match="budget"):
        M._extract_eml(raw, 100)


def test_mbox_split_and_bridge(spark):
    mbox = (b"From ada@example.com Mon Jan  1 10:00:00 2024\n"
            b"Subject: first\n\nbody one\n"
            b">From quoted line survives\n"
            b"From grace@example.com Tue Jan  2 10:00:00 2024\n"
            b"Subject: second\n\nbody two\n")
    rows = M.mbox_split(_blob_df(spark, [
        (1, mbox), (2, b"not an mbox")])).collect()
    good = sorted((r["msg_idx"] for r in rows if r["error"] is None))
    assert good == [0, 1]
    bad = [r for r in rows if r["doc_id"] == 2]
    assert bad[0]["error_kind"] == "corrupt" and bad[0]["msg_idx"] is None


def test_mail_to_documents_and_cli(spark, capsys):
    import json
    import tempfile

    from youtube_api_data_etl_automation_spark.__main__ import main

    mbox = (b"From a@x Mon Jan  1 10:00:00 2024\n"
            b"Subject: greetings\n\nhello corpus\n"
            b"From b@x Tue Jan  2 10:00:00 2024\n"
            b"Subject: again\n\nsecond message\n")

    base = tempfile.mkdtemp(prefix="cli_mail_")
    _blob_df(spark, [(1, mbox)]).write.mode("overwrite") \
        .parquet(base + "/mbox")
    rc = main(["media", "--input", base + "/mbox", "--op", "mboxsplit"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["n"] == 2
    eml = (b"Subject: cli\r\n\r\nplain body")
    _blob_df(spark, [(1, eml)]).write.mode("overwrite") \
        .parquet(base + "/eml")
    rc = main(["media", "--input", base + "/eml", "--op", "emltext"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["by_format"] == {"eml": 1}


def test_mbox_empty_message_keeps_its_slot():
    """r14 review fix: an empty message between consecutive From_
    lines occupies its msg_idx so later doc_ids stay stable."""
    mbox = (b"From a@x Mon\n"
            b"From b@x Tue\nSubject: s\n\nbody\n")
    msgs = M.split_mbox(mbox)
    assert len(msgs) == 2 and msgs[0] == b""
