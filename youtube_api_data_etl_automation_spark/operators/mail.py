"""Email-corpus ingestion: RFC 5322 .eml messages and mbox mailboxes
(r14) — the mailing-list/archive slice of a document crawl, all
stdlib (``email``), all Arrow-batched mapInPandas under the decode
family's quarantine contract.

- :func:`eml_text` — one message payload → headers + visible body
  text: MIME multiparts walked with ``multipart/alternative``
  preferring ``text/plain`` over ``text/html`` (the HTML arm strips
  through the same tag/entity machinery as epub_text), transfer
  encodings (base64 / quoted-printable) and part charsets decoded by
  the stdlib parser, non-text attachments counted but never decoded.
- :func:`mbox_split` — one mbox payload → one row per message (the
  ``From `` envelope-line split, ``>From `` unstuffing), each a
  standalone .eml payload for :func:`eml_text` — the warc_records
  shape for mail archives.

Scale: both are per-payload Python inside mapInPandas — no shuffle,
no driver data-plane; the byte budget bounds decoded body text (a
base64 part inflates ≤4/3, but many parts add up). Reference anchor:
the reference ingests one JSON API (fetch_youtube_data.py); mail
archives are the same ingestion stage for list/archive corpora
(SURVEY §7 north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .multimodal import DECODE_BYTE_BUDGET, _quarantine_map, check_budget

EML_TEXT_SCHEMA = (
    "doc_id bigint, format string, subject string, sender string, "
    "recipient string, msg_date string, n_parts int, n_attachments "
    "int, n_chars int, text string, error string, error_kind string"
)

MBOX_SPLIT_SCHEMA = (
    "doc_id bigint, msg_idx int, payload binary, "
    "error string, error_kind string"
)

def _decode_part(part) -> str:
    payload = part.get_payload(decode=True)
    if payload is None:
        return ""
    charset = part.get_content_charset() or "utf-8"
    try:
        return payload.decode(charset, "replace")
    except LookupError:  # unknown charset label in the wild
        return payload.decode("utf-8", "replace")


def _extract_eml(raw: bytes) -> dict:
    """One RFC 5322 message → the eml_text row dict."""
    import email
    import email.policy

    if not raw:
        raise ValueError("empty/NULL eml payload")
    try:
        msg = email.message_from_bytes(
            raw, policy=email.policy.compat32)
    except Exception as e:
        raise ValueError(f"malformed eml: {e}") from None
    if not msg.keys():
        raise ValueError("malformed eml: no RFC 5322 headers")

    def hdr(name):
        v = msg.get(name)
        if v is None:
            return None
        from email.header import decode_header, make_header

        try:
            return str(make_header(decode_header(v))).strip() or None
        except Exception:
            return str(v).strip() or None

    texts: list[str] = []
    n_parts = 0
    n_attach = 0
    total = 0

    def walk(m):
        nonlocal n_parts, n_attach, total
        if m.is_multipart():
            parts = m.get_payload()
            if m.get_content_subtype() == "alternative":
                # prefer the plain arm; fall back to html, then first
                by_type = {p.get_content_type(): p for p in parts}
                pick = by_type.get("text/plain") \
                    or by_type.get("text/html") \
                    or (parts[0] if parts else None)
                if pick is not None:
                    walk(pick)
                return
            for p in parts:
                walk(p)
            return
        n_parts += 1
        ctype = m.get_content_type()
        # str(): compat32 may hand back a Header object for headers
        # with damaged encodings (fuzz-found r14) — .lower() on it
        # would kill the task instead of quarantining
        dispo = str(m.get("Content-Disposition") or "").lower()
        if dispo.startswith("attachment") or not \
                ctype.startswith("text/"):
            n_attach += 1
            return
        body = _decode_part(m)
        if ctype == "text/html":
            from .archives import _strip_xhtml_text

            body = _strip_xhtml_text(body.encode("utf-8"))
        body = body.strip()
        total += len(body)
        check_budget("eml decoded text", total, DECODE_BYTE_BUDGET, "byte")
        if body:
            texts.append(body)

    walk(msg)
    text = "\n\n".join(texts)
    return {
        "format": "eml",
        "subject": hdr("Subject"),
        "sender": hdr("From"),
        "recipient": hdr("To"),
        "msg_date": hdr("Date"),
        "n_parts": n_parts,
        "n_attachments": n_attach,
        "n_chars": len(text),
        "text": text,
    }


def eml_text(blobs: DataFrame) -> DataFrame:
    """RFC 5322 / MIME message payloads → one row per message with
    decoded headers (RFC 2047 encoded-words handled) and visible body
    text (module docstring has the part-selection rules). Quarantine
    contract: a payload with no parseable headers is 'corrupt'; a
    text bomb past ``DECODE_BYTE_BUDGET`` refuses as 'unsupported'."""
    return _quarantine_map(blobs, _extract_eml, EML_TEXT_SCHEMA)


def split_mbox(payload: bytes) -> list[bytes]:
    """One mbox payload → the list of raw message bytes. Messages are
    delimited by ``From `` envelope lines at line start (mboxrd
    quoting: ``>From `` lines inside a body unstuff by dropping one
    ``>``)."""
    payload = bytes(payload)
    if not payload.startswith(b"From "):
        raise ValueError("malformed mbox: no 'From ' envelope line")
    msgs: list[bytes] = []
    # None until the first envelope line: an EMPTY message between two
    # consecutive 'From ' lines must still occupy its msg_idx slot —
    # silently dropping it shifts every later message's index and its
    # xxhash64-stable doc_id (r14 review fix)
    cur: list[bytes] | None = None
    for line in payload.splitlines(keepends=True):
        if line.startswith(b"From "):
            if cur is not None:
                msgs.append(b"".join(cur))
            cur = []  # envelope line itself is not part of the message
            continue
        if line.lstrip(b">").startswith(b"From ") and \
                line.startswith(b">"):
            line = line[1:]  # mboxrd unstuffing
        cur.append(line)
    if cur is not None:
        msgs.append(b"".join(cur))
    return msgs


def mbox_split(blobs: DataFrame) -> DataFrame:
    """mbox payload table → one row per contained message, each a
    standalone .eml payload (feed :func:`eml_text`): the warc_records
    shape for mail archives. One bad mailbox quarantines alone
    (``msg_idx`` NULL)."""
    def messages(raw):
        return [{"msg_idx": i, "payload": m}
                for i, m in enumerate(split_mbox(raw))]

    return _quarantine_map(blobs, messages, MBOX_SPLIT_SCHEMA)
