"""Container-metadata extraction for multimodal payloads — no codecs.

The multimodal decode family (:mod:`.multimodal`) reconstructs pixels
and samples for the formats stdlib can honestly decode. For VIDEO — and
for triage over mixed image corpora — the 100 TB-relevant operation is
usually cheaper: read the CONTAINER metadata (duration, track layout,
codec fourcc, dimensions) without touching compressed essence at all.
That is pure struct parsing, which this module does for real:

- ``video_meta`` / ``_parse_mp4``: ISO-BMFF (MP4/MOV/M4A) box walk —
  ftyp brand, mvhd timescale/duration, one row-level summary of the
  traks (handler types via mdia/hdlr, visual dimensions via tkhd, codec
  fourccs via stbl/stsd). Handles 64-bit largesize boxes, version 0/1
  mvhd/tkhd, and nested box recursion with explicit bounds checks —
  truncated/overlapping boxes refuse with ValueError (quarantine
  'corrupt'), non-BMFF payloads (AVI/MKV/…) raise NotImplementedError
  ('unsupported': a demuxer library would read them).
- ``video_meta`` / ``_parse_mkv`` (r10): the EBML twin — Matroska/WebM
  element walk (TimestampScale×Duration, per-track type + CodecID,
  first video track's pixel dimensions), cluster data skipped by size.
- ``image_meta`` / ``_probe_image``: header-only dimension/format probe
  for PNG, JPEG (incl. progressive — SOF scan), GIF, BMP, PPM, and all
  three WebP flavors (VP8 key-frame size, VP8L 14-bit packed size, VP8X
  canvas size) — lossy-VP8 WebP pixels still need a codec library
  (VP8L decodes for real since r10, operators/vp8l.py), but dimensions
  never do, so corpus triage (resolution filters, aspect buckets,
  thumbnail routing) works over every common web format without
  decoding anything.
- ``audio_meta`` (r10): MP3 (ID3v2 skip, frame-header tables, Xing/Info
  frame count else CBR estimate), FLAC STREAMINFO, and WAV fmt-chunk
  probing — rate/channels/duration without touching one sample.
- ``triage_decode_images`` (r10): the probe-first decode router.
- ``image_exif`` / ``audio_tags`` (r10): EXIF (JPEG APP1 / PNG eXIf /
  WebP EXIF) and embedded text tags (ID3v2.3/2.4, FLAC VORBIS_COMMENT,
  WAV LIST/INFO).

All run through the decoders' one harness
(:func:`.multimodal._quarantine_map`, Arrow-batched ``mapInPandas``):
one bad payload in 10^12 is a quarantine row with ``error`` /
``error_kind`` set, not a task failure. Parsing cost is O(header bytes)
per payload — there is no budget knob because there is no per-pixel
loop.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tiff import _tiff_ifd_entries


VIDEO_META_SCHEMA = (
    "doc_id bigint, brand string, duration_sec double, n_tracks int, "
    "n_video_tracks int, n_audio_tracks int, n_frames bigint, "
    "width int, height int, codecs string, error string, error_kind string"
)

IMAGE_META_SCHEMA = (
    "doc_id bigint, format string, width int, height int, "
    "error string, error_kind string"
)


def _boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the boxes in [start, end);
    refuse on truncation/overlap rather than misreport."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError(
                f"malformed MP4: truncated box header at offset {pos}"
            )
        (size,) = struct.unpack_from(">I", payload, pos)
        btype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError(
                    f"malformed MP4: truncated largesize box at {pos}"
                )
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            body = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(
                f"malformed MP4: box {btype!r} at {pos} declares {size} "
                f"bytes beyond its scope"
            )
        yield btype, body, pos + size
        pos += size


def _parse_mp4(payload: bytes) -> dict:
    """One metadata summary dict for an ISO-BMFF payload (see module
    docstring for the fields)."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise NotImplementedError(
            "unknown video container (no ftyp box): raw streams need a "
            "demuxer library, not available in this container"
        )
    brand = payload[8:12].decode("latin-1")
    out = {
        "brand": brand, "duration_sec": None, "n_tracks": 0,
        "n_video_tracks": 0, "n_audio_tracks": 0,
        "n_frames": None, "width": None, "height": None, "codecs": [],
    }

    def walk_trak(body_start, body_end):
        out["n_tracks"] += 1
        t_w = t_h = None
        nonlocal_frames = [None]  # stsz sample count of this trak
        handler = None
        for btype, b0, b1 in _boxes(payload, body_start, body_end):
            if btype == b"tkhd":
                # width/height are the LAST two 16.16 fields of tkhd;
                # _boxes guarantees b1 <= len(payload), so the read is
                # in-bounds whenever the body holds 8 bytes at all
                off = b1 - 8
                if off >= b0:
                    w_fx, h_fx = struct.unpack_from(">II", payload, off)
                    t_w, t_h = w_fx >> 16, h_fx >> 16
            elif btype == b"mdia":
                for mtype, m0, m1 in _boxes(payload, b0, b1):
                    if mtype == b"hdlr" and m1 - m0 >= 12:
                        handler = payload[m0 + 8 : m0 + 12]
                    elif mtype == b"minf":
                        for ntype, n0, n1 in _boxes(payload, m0, m1):
                            if ntype != b"stbl":
                                continue
                            for stype, s0, s1 in _boxes(payload, n0, n1):
                                if stype == b"stsd" and s1 - s0 >= 16:
                                    # full box header (4) + entry count
                                    # (4), then the first sample
                                    # entry's fourcc
                                    out["codecs"].append(
                                        payload[s0 + 12 : s0 + 16]
                                        .decode("latin-1")
                                    )
                                elif stype == b"stsz" and s1 - s0 >= 12:
                                    # sample count at offset 8 (after
                                    # fullbox header + sample_size)
                                    (t_cnt,) = struct.unpack_from(
                                        ">I", payload, s0 + 8)
                                    nonlocal_frames[0] = t_cnt
        t_frames = nonlocal_frames[0]
        if handler == b"vide":
            out["n_video_tracks"] += 1
            if t_w and t_h and out["width"] is None:
                out["width"], out["height"] = t_w, t_h
            if t_frames is not None and out["n_frames"] is None:
                out["n_frames"] = t_frames
        elif handler == b"soun":
            out["n_audio_tracks"] += 1

    for btype, b0, b1 in _boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for mtype, m0, m1 in _boxes(payload, b0, b1):
            if mtype == b"mvhd":
                if m1 - m0 < 1:
                    raise ValueError("malformed MP4: empty mvhd body")
                version = payload[m0]
                # v1: 4 fullbox + 8+8 times + 4 scale + 8 dur = 32 bytes;
                # v0: 4 fullbox + 4+4 times + 4 scale + 4 dur = 20 bytes
                need = 32 if version == 1 else 20
                if m1 - m0 < need:
                    raise ValueError(
                        f"malformed MP4: truncated mvhd v{version} body "
                        f"({m1 - m0} < {need} bytes)"
                    )
                if version == 1:
                    scale, dur = struct.unpack_from(">IQ", payload, m0 + 20)
                else:
                    scale, dur = struct.unpack_from(">II", payload, m0 + 12)
                if scale == 0:
                    raise ValueError("malformed MP4: mvhd timescale=0")
                out["duration_sec"] = dur / scale
            elif mtype == b"trak":
                walk_trak(m0, m1)
    if out["duration_sec"] is None:
        raise ValueError("malformed MP4: no moov/mvhd box")
    out["codecs"] = ",".join(out["codecs"])
    return out


def _probe_image(payload: bytes) -> tuple[str, int, int]:
    """(format, width, height) from headers only — no pixel decode."""
    if not payload:
        raise ValueError("empty/NULL image payload")
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) < 24:
            raise ValueError("malformed PNG: truncated IHDR")
        w, h = struct.unpack_from(">II", payload, 16)
        return "png", w, h
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            raise ValueError("malformed GIF: truncated screen descriptor")
        w, h = struct.unpack_from("<HH", payload, 6)
        return "gif", w, h
    if payload[:2] == b"BM":
        if len(payload) < 26:
            raise ValueError("malformed BMP: truncated header")
        w = struct.unpack_from("<i", payload, 18)[0]
        h = abs(struct.unpack_from("<i", payload, 22)[0])
        return "bmp", w, h
    if payload[:2] in (b"P4", b"P5", b"P6"):
        from .multimodal import _ppm_header  # O(header) — never pixels

        kind = {b"P4": "pbm", b"P5": "pgm", b"P6": "ppm"}[payload[:2]]
        w, h, _maxval, _off = _ppm_header(
            payload, n_vals=2 if payload[:2] == b"P4" else 3)
        return kind, w, h
    if payload[:2] == b"\xff\xd8":
        # walk segments to the first SOF (any Huffman/arithmetic kind)
        pos = 2
        n = len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                raise ValueError("malformed JPEG: expected marker")
            marker = payload[pos + 1]
            if marker == 0xFF:
                pos += 1
                continue
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if pos + 9 > n:
                    raise ValueError("malformed JPEG: truncated SOF")
                h, w = struct.unpack_from(">HH", payload, pos + 5)
                return "jpeg", w, h
            pos += 2 + seg_len
        raise ValueError("malformed JPEG: no SOF marker")
    if payload[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF (r10)
        lt = "<" if payload[:2] == b"II" else ">"
        (ifd0,) = struct.unpack_from(lt + "I", payload, 4)
        w = h = None
        for tag, ftype, count, vb in _tiff_ifd_entries(
            payload, 0, ifd0, lt
        ):
            if tag == 256:
                w = _tiff_scalar(vb, ftype, lt)
            elif tag == 257:
                h = _tiff_scalar(vb, ftype, lt)
        if w is None or h is None:
            raise ValueError("malformed TIFF: missing dimension tags")
        return "tiff", w, h
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        if len(payload) < 30:
            raise ValueError("malformed WebP: truncated chunk")
        kind = payload[12:16]
        if kind == b"VP8 ":  # lossy key frame: 14.16le sizes at +26
            w, h = struct.unpack_from("<HH", payload, 26)
            return "webp", (w & 0x3FFF), (h & 0x3FFF)
        if kind == b"VP8L":  # lossless: 14+14 bits packed after 0x2F
            if payload[20] != 0x2F:
                raise ValueError("malformed WebP: bad VP8L signature")
            bits = struct.unpack_from("<I", payload, 21)[0]
            return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if kind == b"VP8X":  # extended: 24-bit canvas minus one
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return "webp", w, h
        raise ValueError(f"malformed WebP: unknown chunk {kind!r}")
    if payload[:8] == b"\x97JB2\r\n\x1a\n":
        from .jbig2 import jbig2_file_size

        return ("jbig2", *jbig2_file_size(payload))
    raise NotImplementedError(
        f"unknown image format (magic {payload[:2]!r}); header probing "
        "covers PNG/JPEG/GIF/BMP/PPM/WebP/TIFF/JBIG2"
    )


AUDIO_META_SCHEMA = (
    "doc_id bigint, format string, sample_rate int, n_channels int, "
    "duration_sec double, detail string, error string, error_kind string"
)

# MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3). Bitrate
# kbps by (version-group, layer, index 1..14); index 0 is 'free format'
# and 15 is invalid.
_MP3_BITRATES = {
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384,
             416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def _parse_mp3(payload: bytes) -> dict:
    """Header-only MPEG-audio probe: skip ID3v2, parse the first frame
    header; duration from the Xing/Info frame count when present, else
    the CBR estimate (stream bytes × 8 / bitrate). O(header bytes)."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("malformed MP3: truncated ID3v2 header")
        size = 0
        for b in payload[6:10]:  # syncsafe 7-bit bytes
            if b & 0x80:
                raise ValueError("malformed MP3: non-syncsafe ID3 size")
            size = (size << 7) | b
        pos = 10 + size
    if pos + 4 > len(payload):
        raise ValueError("malformed MP3: no frame header after ID3 tag")
    b1, b2, b3, b4 = payload[pos : pos + 4]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        raise ValueError("malformed MP3: no frame sync")
    ver_bits = (b2 >> 3) & 0x3
    if ver_bits == 1:
        raise ValueError("malformed MP3: reserved MPEG version")
    vgroup = 1 if ver_bits == 3 else 2  # MPEG2 and 2.5 share tables
    layer = 4 - ((b2 >> 1) & 0x3)
    if layer == 4:
        raise ValueError("malformed MP3: reserved layer")
    br_idx = (b3 >> 4) & 0xF
    if br_idx in (0, 15):
        raise ValueError(
            f"malformed MP3: bitrate index {br_idx} (free-format/invalid)"
        )
    rate_idx = (b3 >> 2) & 0x3
    if rate_idx == 3:
        raise ValueError("malformed MP3: reserved sample-rate index")
    rate = _MP3_RATES[ver_bits][rate_idx]
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx - 1] * 1000
    mode = (b4 >> 6) & 0x3
    n_ch = 1 if mode == 3 else 2
    version_name = {3: "1", 2: "2", 0: "2.5"}[ver_bits]

    # Xing/Info header sits after the Layer-III side info
    duration = None
    detail_kind = "cbr"
    if layer == 3:
        side = (17 if n_ch == 1 else 32) if vgroup == 1 else \
            (9 if n_ch == 1 else 17)
        xat = pos + 4 + side
        if payload[xat : xat + 4] in (b"Xing", b"Info") and \
                xat + 12 <= len(payload):
            (flags,) = struct.unpack_from(">I", payload, xat + 4)
            if flags & 0x1:
                (n_frames,) = struct.unpack_from(">I", payload, xat + 8)
                spf = 1152 if vgroup == 1 else 576
                duration = n_frames * spf / rate
                detail_kind = "vbr-xing"
    if duration is None:
        duration = (len(payload) - pos) * 8 / bitrate
    return {
        "format": "mp3", "sample_rate": rate, "n_channels": n_ch,
        "duration_sec": duration,
        "detail": f"mpeg{version_name}-layer{layer},{detail_kind},"
                  f"{bitrate // 1000}kbps",
    }


def _parse_flac(payload: bytes) -> dict:
    """FLAC STREAMINFO probe (the mandatory first metadata block):
    rate/channels/bit-depth/total-samples from 34 header bytes."""
    if len(payload) < 8:
        raise ValueError("malformed FLAC: truncated metadata header")
    pos = 4
    while True:
        if pos + 4 > len(payload):
            raise ValueError("malformed FLAC: truncated metadata header")
        head = payload[pos]
        btype, last = head & 0x7F, bool(head & 0x80)
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            if blen < 34 or len(body) < 34:
                raise ValueError("malformed FLAC: short STREAMINFO")
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            n_ch = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            if rate == 0:
                raise ValueError("malformed FLAC: sample rate 0")
            return {
                "format": "flac", "sample_rate": rate, "n_channels": n_ch,
                "duration_sec": total / rate,
                "detail": f"bps={bps},total_samples={total}",
            }
        if last:
            raise ValueError("malformed FLAC: no STREAMINFO block")
        pos += 4 + blen


def _parse_wav_header(payload: bytes) -> dict:
    """RIFF/WAVE probe from the fmt chunk + data chunk SIZE only — the
    triage twin of multimodal._decode_pcm that never touches samples."""
    if len(payload) < 12:
        raise ValueError("malformed WAV: truncated RIFF header")
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            if clen < 16 or pos + 8 + 16 > len(payload):
                raise ValueError("malformed WAV: short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data_len = clen
            break  # header probe stops at the data chunk — never reads it
        pos += 8 + clen + (clen & 1)
    if fmt is None or data_len is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    fmt_code, n_ch, rate, byte_rate, block_align, bits = fmt
    if rate == 0 or byte_rate == 0:
        raise ValueError("malformed WAV: zero rate")
    return {
        "format": "wav", "sample_rate": rate, "n_channels": n_ch,
        "duration_sec": data_len / byte_rate,
        "detail": f"fmt_code={fmt_code},bits={bits},"
                  f"block_align={block_align}",
    }


def _parse_ogg(payload: bytes) -> dict:
    """Ogg Vorbis/Opus probe: the identification header of the first
    page gives rate/channels; the LAST page's granule position gives the
    duration (total PCM samples for Vorbis; 48 kHz ticks minus pre-skip
    for Opus) — O(header + tail scan), no packet decode."""
    if len(payload) < 28:
        raise ValueError("malformed OGG: truncated first page")
    if payload[4] != 0:
        raise ValueError(f"malformed OGG: stream version {payload[4]}")
    n_segs = payload[26]
    body_at = 27 + n_segs
    if body_at >= len(payload):
        raise ValueError("malformed OGG: truncated segment table")
    packet = payload[body_at : body_at + 32]
    if packet[:7] == b"\x01vorbis":
        if len(packet) < 16:
            raise ValueError("malformed OGG: short Vorbis id header")
        n_ch = packet[11]
        (rate,) = struct.unpack_from("<I", packet, 12)
        codec, gran_rate, pre_skip = "vorbis", rate, 0
    elif packet[:8] == b"OpusHead":
        if len(packet) < 19:
            raise ValueError("malformed OGG: short OpusHead")
        n_ch = packet[9]
        (pre_skip,) = struct.unpack_from("<H", packet, 10)
        (rate,) = struct.unpack_from("<I", packet, 12)  # input rate
        codec, gran_rate = "opus", 48000  # granules are 48 kHz ticks
    else:
        raise NotImplementedError(
            f"OGG stream {packet[:8]!r} not supported (Vorbis/Opus "
            "probe only; Theora/FLAC-in-Ogg need their own id parse)"
        )
    if rate == 0:
        raise ValueError("malformed OGG: sample rate 0")
    # last page's granule: scan back for a plausible page header
    at = payload.rfind(b"OggS")
    granule = None
    while at != -1:  # -1 is rfind's miss sentinel; offset 0 is a valid page
        if at + 14 <= len(payload) and payload[at + 4] == 0:
            (granule,) = struct.unpack_from("<q", payload, at + 6)
            if granule >= 0:
                break
            granule = None
        if at == 0:
            break
        at = payload.rfind(b"OggS", 0, at)
    if granule is None or granule < 0:
        raise ValueError("malformed OGG: no final granule position")
    duration = max(0, granule - pre_skip) / gran_rate
    return {
        "format": "ogg", "sample_rate": rate, "n_channels": n_ch,
        "duration_sec": duration, "detail": codec,
    }


def _parse_audio_meta(payload: bytes) -> dict:
    if not payload:
        raise ValueError("empty/NULL audio payload")
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and
        (payload[1] & 0xE0) == 0xE0
    ):
        return _parse_mp3(payload)
    if payload[:4] == b"fLaC":
        return _parse_flac(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _parse_wav_header(payload)
    if payload[:4] == b"OggS":
        return _parse_ogg(payload)
    raise NotImplementedError(
        f"unknown audio container (magic {payload[:4]!r}); header "
        "probing covers MP3 (ID3/frame-sync), FLAC, WAV, Ogg "
        "Vorbis/Opus"
    )


def _riff_chunks(payload: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for RIFF subchunks in
    [start, end); LIST bodies begin with their 4-byte list type."""
    pos = start
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + clen > end:
            raise ValueError(
                f"malformed AVI: chunk {cid!r} overruns its scope"
            )
        yield cid, pos + 8, pos + 8 + clen
        pos += 8 + clen + (clen & 1)


def _parse_avi(payload: bytes) -> dict:
    """AVI (RIFF) metadata walk — avih gives frame timing/dimensions,
    each LIST/strl's strh gives the track type + codec fourcc. Movi
    (essence) data is skipped by chunk size, like MP4 mdat."""
    out = {
        "brand": "avi", "duration_sec": None, "n_tracks": 0,
        "n_video_tracks": 0, "n_audio_tracks": 0,
        "n_frames": None, "width": None, "height": None, "codecs": [],
    }
    us_per_frame = total_frames = None
    for cid, b0, b1 in _riff_chunks(payload, 12, len(payload)):
        if cid != b"LIST" or payload[b0 : b0 + 4] != b"hdrl":
            continue
        for hid, h0, h1 in _riff_chunks(payload, b0 + 4, b1):
            if hid == b"avih":
                if h1 - h0 < 40:
                    raise ValueError("malformed AVI: short avih")
                us_per_frame, = struct.unpack_from("<I", payload, h0)
                total_frames, = struct.unpack_from("<I", payload, h0 + 16)
                w, h = struct.unpack_from("<II", payload, h0 + 32)
                out["width"] = w or None
                out["height"] = h or None
            elif hid == b"LIST" and payload[h0 : h0 + 4] == b"strl":
                for sid, s0, s1 in _riff_chunks(payload, h0 + 4, h1):
                    if sid != b"strh":
                        continue
                    if s1 - s0 < 8:
                        raise ValueError("malformed AVI: short strh")
                    out["n_tracks"] += 1
                    fcc_type = payload[s0 : s0 + 4]
                    handler = payload[s0 + 4 : s0 + 8]
                    if fcc_type == b"vids":
                        out["n_video_tracks"] += 1
                    elif fcc_type == b"auds":
                        out["n_audio_tracks"] += 1
                    codec = handler.decode("latin-1").strip("\x00 ")
                    if codec:
                        out["codecs"].append(codec)
    if us_per_frame is None:
        raise ValueError("malformed AVI: no hdrl/avih header")
    if us_per_frame == 0 or total_frames is None:
        raise ValueError("malformed AVI: zero frame timing")
    out["duration_sec"] = total_frames * us_per_frame / 1e6
    out["n_frames"] = total_frames
    out["codecs"] = ",".join(out["codecs"])
    return out


def _parse_gif_meta(payload: bytes) -> dict:
    """Animated-GIF triage metadata (late r10): frame count and total
    duration from the block walk ALONE — image descriptors counted, LZW
    pixel data skipped sub-block by sub-block, Graphic Control
    Extension delays summed (centiseconds). The decode family only
    reconstructs the FIRST frame (operators/gif.py); this is how a
    pipeline ROUTES animated vs static GIFs without decoding any."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("malformed GIF: bad signature")
    if len(payload) < 13:
        raise ValueError("malformed GIF: truncated screen descriptor")
    w, h = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    if flags & 0x80:  # global color table
        pos += 3 * (2 << (flags & 0x07))
    n_frames = 0
    delay_cs = 0

    def skip_subblocks(at: int) -> int:
        while True:
            if at >= len(payload):
                raise ValueError("malformed GIF: truncated sub-blocks")
            n = payload[at]
            at += 1 + n
            if n == 0:
                return at

    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("malformed GIF: truncated descriptor")
            n_frames += 1
            lflags = payload[pos + 9]
            pos += 10
            if lflags & 0x80:  # local color table
                pos += 3 * (2 << (lflags & 0x07))
            if pos >= len(payload):
                raise ValueError("malformed GIF: truncated image data")
            pos = skip_subblocks(pos + 1)  # min code size byte + LZW
        elif b == 0x21:  # extension
            if pos + 2 > len(payload):
                raise ValueError("malformed GIF: truncated extension")
            label = payload[pos + 1]
            if label == 0xF9 and pos + 7 <= len(payload) and                     payload[pos + 2] == 4:
                (d,) = struct.unpack_from("<H", payload, pos + 4)
                delay_cs += d
            pos = skip_subblocks(pos + 2)
        else:
            raise ValueError(
                f"malformed GIF: unknown block 0x{b:02x} at {pos}"
            )
    if n_frames == 0:
        raise ValueError("malformed GIF: no image descriptor")
    return {
        "brand": payload[:6].decode("latin-1").lower(),
        "duration_sec": delay_cs / 100.0,
        "n_tracks": 1, "n_video_tracks": 1, "n_audio_tracks": 0,
        "n_frames": n_frames, "width": w, "height": h, "codecs": "gif",
    }


# --- EBML / Matroska (and WebM) -------------------------------------

def _parse_apng_meta(payload: bytes) -> dict:
    """PNG/APNG triage metadata (r11): IHDR dimensions from the chunk
    walk; an acTL chunk (animated PNG — it must precede IDAT) gives the
    frame count and per-frame fcTL delays sum to the duration
    (delay_den 0 means 100 per the APNG spec). Static PNGs report one
    frame, zero duration — the same animated-vs-static routing signal
    as the GIF walk, without decoding a pixel."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("malformed PNG: bad signature")
    pos = 8
    w = h = None
    n_frames = None
    duration = 0.0
    animated = False
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if body + clen + 4 > len(payload):
            raise ValueError(
                f"malformed PNG: chunk {ctype!r} overruns the payload"
            )
        if ctype == b"IHDR":
            if clen < 8:
                raise ValueError("malformed PNG: short IHDR")
            w, h = struct.unpack_from(">II", payload, body)
        elif ctype == b"acTL":
            if clen < 8:
                raise ValueError("malformed PNG: short acTL")
            (n_frames, _plays) = struct.unpack_from(">II", payload, body)
            animated = True
        elif ctype == b"fcTL":
            if clen < 26:
                raise ValueError("malformed PNG: short fcTL")
            num, den = struct.unpack_from(">HH", payload, body + 20)
            duration += num / (den or 100)
        elif ctype == b"IEND":
            break
        pos = body + clen + 4  # skip data + CRC
    if w is None:
        raise ValueError("malformed PNG: no IHDR chunk")
    return {
        "brand": "apng" if animated else "png",
        "duration_sec": duration,
        "n_tracks": 1, "n_video_tracks": 1, "n_audio_tracks": 0,
        "n_frames": n_frames if n_frames is not None else 1,
        "width": w, "height": h, "codecs": "png",
    }


def _ebml_vint(payload: bytes, pos: int, *, keep_marker: bool):
    """(value, next_pos) for an EBML variable-length integer at ``pos``.
    Element IDs keep the length-marker bit (``keep_marker=True``);
    sizes strip it."""
    if pos >= len(payload):
        raise ValueError("malformed EBML: truncated vint")
    first = payload[pos]
    if first == 0:
        raise ValueError("malformed EBML: invalid vint lead byte 0")
    n = 8 - first.bit_length() + 1  # leading-zero count + 1
    if pos + n > len(payload):
        raise ValueError("malformed EBML: truncated vint body")
    raw = int.from_bytes(payload[pos : pos + n], "big")
    if not keep_marker:
        raw &= (1 << (7 * n)) - 1
    return raw, pos + n


def _ebml_children(payload: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) for EBML elements in
    [start, end) — the _boxes() twin for Matroska."""
    pos = start
    while pos < end:
        eid, pos = _ebml_vint(payload, pos, keep_marker=True)
        spos = pos
        size, pos = _ebml_vint(payload, pos, keep_marker=False)
        # an all-data-bits-one size vint means 'unknown size'
        # (streaming): treat as extends-to-scope, like an MP4 size-0 box
        if size == (1 << (7 * (pos - spos))) - 1:
            size = end - pos
        if pos + size > end:
            raise ValueError(
                f"malformed EBML: element 0x{eid:X} overruns its scope"
            )
        yield eid, pos, pos + size
        pos += size


_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TSCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_TRACK_TYPE = 0x83
_MKV_CODEC_ID = 0x86
_MKV_VIDEO = 0xE0
_MKV_PIXEL_W = 0xB0
_MKV_PIXEL_H = 0xBA


def _parse_mkv(payload: bytes) -> dict:
    """Matroska/WebM metadata walk — the EBML twin of :func:`_parse_mp4`:
    duration via TimestampScale×Duration, per-track type/codec, first
    video track's pixel dimensions. Never touches cluster (essence)
    data: clusters are skipped by their size vints."""
    out = {
        "brand": "mkv", "duration_sec": None, "n_tracks": 0,
        "n_video_tracks": 0, "n_audio_tracks": 0,
        "n_frames": None, "width": None, "height": None, "codecs": [],
    }
    tscale = 1_000_000  # ns per tick, Matroska default
    duration_ticks = None

    def walk_track(t0, t1):
        out["n_tracks"] += 1
        ttype, t_w, t_h = None, None, None
        for eid, b0, b1 in _ebml_children(payload, t0, t1):
            if eid == _MKV_TRACK_TYPE:
                ttype = int.from_bytes(payload[b0:b1], "big")
            elif eid == _MKV_CODEC_ID:
                out["codecs"].append(
                    payload[b0:b1].decode("latin-1").rstrip("\x00")
                )
            elif eid == _MKV_VIDEO:
                for vid, v0, v1 in _ebml_children(payload, b0, b1):
                    if vid == _MKV_PIXEL_W:
                        t_w = int.from_bytes(payload[v0:v1], "big")
                    elif vid == _MKV_PIXEL_H:
                        t_h = int.from_bytes(payload[v0:v1], "big")
        if ttype == 1:
            out["n_video_tracks"] += 1
            if t_w and t_h and out["width"] is None:
                out["width"], out["height"] = t_w, t_h
        elif ttype == 2:
            out["n_audio_tracks"] += 1

    for eid, b0, b1 in _ebml_children(payload, 0, len(payload)):
        if eid != _MKV_SEGMENT:
            continue
        for sid, s0, s1 in _ebml_children(payload, b0, b1):
            if sid == _MKV_INFO:
                for iid, i0, i1 in _ebml_children(payload, s0, s1):
                    if iid == _MKV_TSCALE:
                        tscale = int.from_bytes(payload[i0:i1], "big")
                    elif iid == _MKV_DURATION:
                        w = i1 - i0
                        if w == 4:
                            (duration_ticks,) = struct.unpack_from(
                                ">f", payload, i0
                            )
                        elif w == 8:
                            (duration_ticks,) = struct.unpack_from(
                                ">d", payload, i0
                            )
                        else:
                            raise ValueError(
                                "malformed MKV: Duration is a 4/8-byte "
                                f"float, got {w} bytes"
                            )
            elif sid == _MKV_TRACKS:
                for tid, t0, t1 in _ebml_children(payload, s0, s1):
                    if tid == _MKV_TRACK_ENTRY:
                        walk_track(t0, t1)
    if duration_ticks is None:
        raise ValueError("malformed MKV: no Segment/Info/Duration")
    out["duration_sec"] = duration_ticks * tscale / 1e9
    out["codecs"] = ",".join(out["codecs"])
    return out


def video_meta(blobs: DataFrame) -> DataFrame:
    """Container metadata per video payload (see module docstring):
    ``(doc_id, brand, duration_sec, n_tracks, n_video_tracks,
    n_audio_tracks, width, height, codecs)``. Dispatches on magic:
    ISO-BMFF (ftyp) → box walk, EBML (Matroska/WebM) → element walk."""
    from .multimodal import _quarantine_map

    def one(payload):
        if not payload:
            raise ValueError("empty/NULL video payload")
        if payload[:4] == b"\x1a\x45\xdf\xa3":
            return _parse_mkv(payload)
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            return _parse_avi(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return _parse_gif_meta(payload)
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return _parse_apng_meta(payload)
        return _parse_mp4(payload)

    return _quarantine_map(blobs, one, VIDEO_META_SCHEMA)


def image_meta(blobs: DataFrame) -> DataFrame:
    """Header-only ``(doc_id, format, width, height)`` per image payload
    — incl. WebP, whose pixels the decode family cannot produce."""
    from .multimodal import _quarantine_map

    def one(payload):
        fmt, w, h = _probe_image(payload)
        return {"format": fmt, "width": w, "height": h}

    return _quarantine_map(blobs, one, IMAGE_META_SCHEMA)


def audio_meta(blobs: DataFrame) -> DataFrame:
    """Header-only audio probe: ``(doc_id, format, sample_rate,
    n_channels, duration_sec, detail)`` for MP3 (ID3v2 skip + frame
    header + Xing/Info frame count, CBR estimate otherwise), FLAC
    (STREAMINFO), and WAV (fmt chunk + data SIZE — the triage twin of
    ``decode_audio`` that never reads a sample). At 100 TB this probe,
    not the decoder, is the operation that runs over every payload:
    O(header bytes), no budget knob because there is no per-sample
    loop."""
    from .multimodal import _quarantine_map

    return _quarantine_map(blobs, _parse_audio_meta, AUDIO_META_SCHEMA)


TRIAGE_DECODE_SCHEMA = (
    "doc_id bigint, route string, format string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, "
    "error string, error_kind string"
)

#: formats _decode_rgb can reconstruct without a codec library; 'webp'
#: qualifies only in its VP8L (lossless) flavor — the router peeks the
#: chunk fourcc, so lossy VP8/VP8X still route 'undecodable' pre-decode.
DECODABLE_IMAGE_FORMATS = frozenset(
    {"png", "jpeg", "gif", "bmp", "ppm", "pgm", "pbm", "webp", "tiff",
     "jbig2"}
)

# Probed pixels an image may declare before the probe-first operators
# (triage_decode_images, imagehash.image_hashes/image_thumbnails) route
# it out without decoding: 4 Mpx keeps every stdlib decoder near ~1 s.
PROBE_PIXEL_BUDGET = 4_000_000

# Probed samples (duration x rate x channels) for triage_decode_audio:
# 50M ≈ 9.5 min of 44.1 kHz stereo.
PROBE_SAMPLE_BUDGET = 50_000_000


def triage_decode_images(blobs: DataFrame) -> DataFrame:
    """Probe-then-decode router — the shape the decode path takes at
    100 TB: the O(header-bytes) :func:`_probe_image` runs FIRST, and only
    payloads whose probed format is decodable and whose probed pixel
    count fits ``PROBE_PIXEL_BUDGET`` ever reach the per-pixel decoder.
    Oversized or codec-needing payloads are routed out with their probed
    format/dimensions intact (that is the triage report: 'route this
    slice to executors with a codec library'), and a
    blob that fails its header probe never touches the decode loop at
    all. One fused mapInPandas pass — probe and decode share the Arrow
    batch, the payload bytes are scanned once and never joined/shuffled.

    Routes: ``decoded`` (features present), ``oversized`` (probed dims
    exceed ``PROBE_PIXEL_BUDGET``; error_kind='unsupported'),
    ``undecodable`` (probed fine, no stdlib codec;
    'unsupported'), ``probe_failed`` (header unparseable; kind from the
    probe), ``decode_failed`` (probe passed, pixel data broken).

    Versus calling :func:`multimodal.decode_image` directly: the budget
    check there happens INSIDE the decoder after entropy-segment
    location; here a 100-megapixel bomb costs its header bytes only."""
    from .multimodal import (
        DECODE_ERRORS,
        _decode_rgb,
        _error_fields,
        _quarantine_map,
        check_budget,
    )

    def one(raw):
        try:
            fmt, w, h = _probe_image(raw)
        except DECODE_ERRORS as e:
            return {"route": "probe_failed", **_error_fields(e)}
        probed = {"format": fmt, "width": w, "height": h}
        if fmt not in DECODABLE_IMAGE_FORMATS or (
            fmt == "webp" and raw[12:16] != b"VP8L"
        ):
            return {"route": "undecodable", **probed, **_error_fields(
                NotImplementedError(
                    f"probed {fmt} {w}x{h}: no stdlib codec — route to a "
                    "codec-library executor image"))}
        try:
            check_budget(f"probed {fmt} {w}x{h}", w * h,
                         PROBE_PIXEL_BUDGET, "triage pixel")
        except NotImplementedError as e:
            return {"route": "oversized", **probed, **_error_fields(e)}
        try:
            dfmt, rgb = _decode_rgb(raw)
        except DECODE_ERRORS as e:
            return {"route": "decode_failed", **probed, **_error_fields(e)}
        means = rgb.reshape(-1, 3).mean(axis=0, dtype="float64")
        return {"route": "decoded", "format": dfmt,
                "width": rgb.shape[1], "height": rgb.shape[0],
                "mean_r": float(means[0]), "mean_g": float(means[1]),
                "mean_b": float(means[2])}

    return _quarantine_map(blobs, one, TRIAGE_DECODE_SCHEMA)


TRIAGE_AUDIO_SCHEMA = (
    "doc_id bigint, route string, format string, sample_rate int, "
    "n_channels int, probe_duration_sec double, n_frames bigint, "
    "rms double, error string, error_kind string"
)


def triage_decode_audio(blobs: DataFrame) -> DataFrame:
    """Probe-first audio router — :func:`triage_decode_images`' twin.
    :func:`audio_meta`'s O(header) probe runs FIRST; only payloads whose
    probed format has an in-repo decoder and whose probed sample count
    (duration x rate x channels) fits ``PROBE_SAMPLE_BUDGET`` reach a
    per-sample loop — a forged month-long FLAC costs its STREAMINFO
    bytes, never a decode. One fused mapInPandas pass.

    Routes: ``decoded`` (WAV/FLAC PCM; ``n_frames`` + ``rms`` in raw
    sample units), ``subband`` (MPEG-1 Layer I/II — exact subband
    statistics, ``rms`` is subband-domain; see
    :func:`multimodal.audio_subband_features`), ``undecodable``
    (probed fine, needs a codec library: Layer III, Ogg
    Vorbis/Opus), ``oversized`` (probed samples over budget, never
    decoded), ``probe_failed`` / ``decode_failed``."""
    import numpy as np

    from .multimodal import (
        DECODE_ERRORS,
        _decode_pcm,
        _error_fields,
        _quarantine_map,
        check_budget,
    )
    from .mpegaudio import decode_layer1, decode_layer2

    def one(raw):
        try:
            probe = _parse_audio_meta(raw)
        except DECODE_ERRORS as e:
            return {"route": "probe_failed", **_error_fields(e)}
        fmt = probe["format"]
        rate = probe["sample_rate"]
        nch = probe["n_channels"]
        dur = probe["duration_sec"]
        probed = {"format": fmt, "sample_rate": rate, "n_channels": nch,
                  "probe_duration_sec": dur}
        subband_layer = 0
        if fmt == "mp3":
            if probe["detail"].startswith("mpeg1-layer1"):
                subband_layer = 1
            elif probe["detail"].startswith("mpeg1-layer2"):
                subband_layer = 2
        if fmt not in ("wav", "flac") and not subband_layer:
            return {"route": "undecodable", **probed, **_error_fields(
                NotImplementedError(
                    f"probed {fmt} ({probe['detail']}): no stdlib codec "
                    "— route to a codec-library executor image"))}
        try:
            check_budget(f"probed {fmt} {dur:.1f}s x {rate}Hz x {nch}ch",
                         dur * rate * nch, PROBE_SAMPLE_BUDGET,
                         "triage sample")
        except NotImplementedError as e:
            return {"route": "oversized", **probed, **_error_fields(e)}
        try:
            if subband_layer:
                drate, sb = (decode_layer1 if subband_layer == 1
                             else decode_layer2)(raw)
                rows_per_frame = 12 if subband_layer == 1 else 36
                return {"route": "subband",
                        "format": f"mp3-layer{subband_layer}",
                        "sample_rate": drate, "n_channels": sb.shape[1],
                        "probe_duration_sec": dur,
                        "n_frames": sb.shape[0] // rows_per_frame,
                        "rms": float(np.sqrt(np.square(sb).mean()))
                        if sb.size else 0.0}
            drate, samples = _decode_pcm(raw)
        except DECODE_ERRORS as e:
            return {"route": "decode_failed", **probed, **_error_fields(e)}
        flat = samples.astype(np.float64).reshape(-1)
        return {"route": "decoded", "format": fmt, "sample_rate": drate,
                "n_channels": samples.shape[1] if samples.ndim == 2 else 1,
                "probe_duration_sec": dur, "n_frames": samples.shape[0],
                "rms": float(np.sqrt(np.square(flat).mean()))
                if flat.size else 0.0}

    return _quarantine_map(blobs, one, TRIAGE_AUDIO_SCHEMA)


VIDEO_KEYFRAME_SCHEMA = (
    "doc_id bigint, container string, codec string, frame_bytes int, "
    "format string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, "
    "error string, error_kind string"
)


def _jpeg_has_dht(blob: bytes) -> bool:
    """True if a DHT segment precedes SOS in a JPEG marker stream.
    MJPEG/AVI1 frames may legally omit DHT (implied T.81 Annex K
    defaults); those route 'unsupported' rather than decode wrong."""
    pos = 2
    n = len(blob)
    while pos + 2 <= n:
        if blob[pos] != 0xFF:
            raise ValueError(
                "malformed AVI: bad JPEG marker stream in MJPEG frame"
            )
        marker = blob[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xC4:
            return True
        if marker == 0xDA:  # SOS — tables must have preceded
            return False
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > n:
            break
        (seglen,) = struct.unpack_from(">H", blob, pos + 2)
        pos += 2 + seglen
    raise ValueError("malformed AVI: MJPEG frame has no SOS segment")


def extract_keyframe(payload: bytes) -> tuple[str, str, bytes]:
    """``(container, codec, essence bytes)`` of the first video keyframe.

    AVI: the hdrl walk locates the first 'vids' stream (its strl
    position is the stream number) and its handler fourcc; the movi
    walk — including one level of 'rec ' grouping — returns that
    stream's first ``##db``/``##dc`` chunk. For MJPEG ('MJPG'/'JPEG'
    handlers) that chunk IS a JPEG image, decodable by operators/
    jpeg.py. GIF: the payload is its own first frame (operators/
    gif.py). MP4/MKV essence and non-MJPEG AVI codecs refuse as
    unsupported — H.264/VP9/XviD need a codec library."""
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif", "gif", payload
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        stream_idx = -1
        codec = None
        n_streams = 0
        movi = None
        for cid, b0, b1 in _riff_chunks(payload, 12, len(payload)):
            if cid != b"LIST":
                continue
            ltype = payload[b0 : b0 + 4]
            if ltype == b"hdrl":
                for hid, h0, h1 in _riff_chunks(payload, b0 + 4, b1):
                    if hid != b"LIST" or payload[h0 : h0 + 4] != b"strl":
                        continue
                    for sid, s0, s1 in _riff_chunks(payload, h0 + 4, h1):
                        if sid != b"strh":
                            continue
                        if s1 - s0 < 8:
                            raise ValueError("malformed AVI: short strh")
                        if payload[s0 : s0 + 4] == b"vids" \
                                and stream_idx < 0:
                            stream_idx = n_streams
                            codec = (payload[s0 + 4 : s0 + 8]
                                     .decode("latin-1").strip("\x00 ")
                                     .lower())
                    n_streams += 1
            elif ltype == b"movi" and movi is None:
                movi = (b0 + 4, b1)
        if stream_idx < 0:
            raise ValueError(
                "malformed AVI: no video stream to extract a keyframe from"
            )
        if movi is None:
            raise ValueError("malformed AVI: no movi list")
        if codec not in ("mjpg", "jpeg"):
            raise NotImplementedError(
                f"AVI video codec {codec!r} needs a codec library; only "
                "MJPEG keyframes decode here"
            )
        want = b"%02d" % stream_idx

        def scan(lo, hi, depth):
            for cid, c0, c1 in _riff_chunks(payload, lo, hi):
                if cid == b"LIST" and payload[c0 : c0 + 4] == b"rec " \
                        and depth == 0:
                    blob = scan(c0 + 4, c1, 1)
                    if blob is not None:
                        return blob
                elif cid[:2] == want and cid[2:4] in (b"db", b"dc"):
                    return payload[c0:c1]
            return None

        blob = scan(movi[0], movi[1], 0)
        if not blob:
            raise ValueError(
                "malformed AVI: video stream has no frame chunk in movi"
            )
        if blob[:2] != b"\xff\xd8":
            raise ValueError(
                "malformed AVI: MJPEG frame chunk lacks JPEG SOI"
            )
        if not _jpeg_has_dht(blob):
            raise NotImplementedError(
                "MJPEG frame omits Huffman tables (AVI1 implied Annex K "
                "defaults); table injection needs the spec text — route "
                "to a codec-library executor image"
            )
        return "avi", "mjpeg", blob
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        raise NotImplementedError(
            "MP4 essence keyframes need a codec library (H.264/HEVC/AV1)"
        )
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        raise NotImplementedError(
            "MKV/WebM essence keyframes need a codec library (VP9/AV1)"
        )
    raise ValueError("unknown container for keyframe extraction")


def video_keyframe_features(blobs: DataFrame) -> DataFrame:
    """First-keyframe pixel features per video payload: the
    ``extract_keyframe`` container walk feeds the in-repo image
    decoders (JPEG for AVI/MJPEG, LZW for GIF), yielding ``(doc_id,
    container, codec, frame_bytes, format, width, height, mean_r/g/b)``
    — real video-frame feature extraction with no codec library.
    Same Arrow-batched mapInPandas + quarantine contract as the decode
    family; pixel budgets apply inside the image decoders."""
    from .multimodal import _decode_rgb, _quarantine_map

    def one(payload):
        container, codec, blob = extract_keyframe(payload)
        fmt, rgb = _decode_rgb(blob)
        means = rgb.reshape(-1, 3).mean(axis=0, dtype="float64")
        return {
            "container": container, "codec": codec,
            "frame_bytes": len(blob), "format": fmt,
            "width": rgb.shape[1], "height": rgb.shape[0],
            "mean_r": float(means[0]), "mean_g": float(means[1]),
            "mean_b": float(means[2]),
        }

    return _quarantine_map(blobs, one, VIDEO_KEYFRAME_SCHEMA)


EXIF_SCHEMA = (
    "doc_id bigint, orientation int, exif_width int, exif_height int, "
    "datetime string, make string, model string, gps_lat double, "
    "gps_lon double, error string, error_kind string"
)

def _tiff_scalar(vb: bytes, ftype: int, lt: str):
    if ftype == 3:
        return struct.unpack_from(lt + "H", vb, 0)[0]
    if ftype == 4:
        return struct.unpack_from(lt + "I", vb, 0)[0]
    if ftype == 1:
        return vb[0]
    return None


def _tiff_ascii(vb: bytes) -> str:
    return vb.split(b"\x00", 1)[0].decode("latin-1").strip()


_EXIF_NULLS = {"orientation": None, "exif_width": None,
               "exif_height": None, "datetime": None, "make": None,
               "model": None, "gps_lat": None, "gps_lon": None}


def _tiff_dms(vb: bytes, lt: str) -> float | None:
    """Three RATIONALs (deg, min, sec) → decimal degrees; a zero
    denominator in any position voids the coordinate (tag-mangling
    writers emit 0/0)."""
    vals = []
    for i in range(3):
        num, den = struct.unpack_from(lt + "II", vb, 8 * i)
        if den == 0:
            return None
        vals.append(num / den)
    return vals[0] + vals[1] / 60.0 + vals[2] / 3600.0


def _locate_exif_tiff(payload: bytes) -> bytes | None:
    """The embedded TIFF blob per container: JPEG APP1 (``Exif\\0\\0``
    prefix), PNG ``eXIf`` chunk (raw TIFF), WebP ``EXIF`` chunk (raw
    TIFF, some writers keep the JPEG-style prefix — stripped). None =
    the container is fine but carries no Exif."""
    if payload[:2] == b"\xff\xd8":  # JPEG: APP1 segment walk
        pos, n = 2, len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                raise ValueError("malformed JPEG: expected marker")
            marker = payload[pos + 1]
            if marker == 0xFF:
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if marker in (0xDA, 0xD9):  # SOS/EOI: metadata is over
                return None
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            if marker == 0xE1 and \
                    payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
                return payload[pos + 10 : pos + 2 + seg_len]
            pos += 2 + seg_len
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n":  # PNG: chunk walk
        pos, n = 8, len(payload)
        while pos + 8 <= n:
            (clen,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            if pos + 12 + clen > n:
                raise ValueError(f"malformed PNG: truncated {ctype!r}")
            if ctype == b"eXIf":
                return payload[pos + 8 : pos + 8 + clen]
            if ctype in (b"IDAT", b"IEND"):  # metadata precedes data
                return None
            pos += 12 + clen
        return None
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        pos, n = 12, len(payload)
        while pos + 8 <= n:
            cid = payload[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"EXIF":
                tiff = payload[pos + 8 : pos + 8 + clen]
                if tiff[:6] == b"Exif\x00\x00":
                    tiff = tiff[6:]
                return tiff
            pos += 8 + clen + (clen & 1)
        return None
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return payload  # a TIFF file IS its own Exif structure
    raise NotImplementedError(
        "EXIF extraction covers JPEG APP1, PNG eXIf, WebP EXIF, and "
        f"raw TIFF (magic {payload[:4]!r})"
    )


def _parse_exif(payload: bytes) -> dict:
    """Orientation / pixel dims / timestamp / camera make+model from the
    container's Exif blob (JPEG APP1 / PNG eXIf / WebP EXIF; TIFF 6.0
    IFD walk, both byte orders). O(header bytes): stops before
    image/entropy data. A payload without Exif yields all-NULL fields
    (not an error — most web images carry none); a structurally broken
    TIFF refuses."""
    out = dict(_EXIF_NULLS)
    tiff = _locate_exif_tiff(payload)
    if tiff is None:
        return out
    if len(tiff) < 8:
        raise ValueError("malformed EXIF: truncated TIFF header")
    order = tiff[:2]
    if order == b"II":
        lt = "<"
    elif order == b"MM":
        lt = ">"
    else:
        raise ValueError(f"malformed EXIF: bad byte order {order!r}")
    magic, ifd0 = struct.unpack_from(lt + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("malformed EXIF: TIFF magic != 42")
    exif_ifd_off = None
    gps_ifd_off = None
    for tag, ftype, count, vb in _tiff_ifd_entries(tiff, 0, ifd0, lt):
        if tag == 0x0112:
            out["orientation"] = _tiff_scalar(vb, ftype, lt)
        elif tag == 0x010F:
            out["make"] = _tiff_ascii(vb)
        elif tag == 0x0110:
            out["model"] = _tiff_ascii(vb)
        elif tag == 0x0132 and out["datetime"] is None:
            out["datetime"] = _tiff_ascii(vb)
        elif tag == 0x8769:
            exif_ifd_off = _tiff_scalar(vb, ftype, lt)
        elif tag == 0x8825:  # GPS Info IFD pointer
            gps_ifd_off = _tiff_scalar(vb, ftype, lt)
    if exif_ifd_off is not None:
        for tag, ftype, count, vb in _tiff_ifd_entries(
            tiff, 0, exif_ifd_off, lt
        ):
            if tag == 0xA002:
                out["exif_width"] = _tiff_scalar(vb, ftype, lt)
            elif tag == 0xA003:
                out["exif_height"] = _tiff_scalar(vb, ftype, lt)
            elif tag == 0x9003:  # DateTimeOriginal beats file DateTime
                out["datetime"] = _tiff_ascii(vb)
    if gps_ifd_off is not None:
        lat = lon = None
        lat_ref = lon_ref = ""
        for tag, ftype, count, vb in _tiff_ifd_entries(
            tiff, 0, gps_ifd_off, lt
        ):
            if tag == 1:
                lat_ref = _tiff_ascii(vb)
            elif tag == 2 and ftype == 5 and count == 3:
                lat = _tiff_dms(vb, lt)
            elif tag == 3:
                lon_ref = _tiff_ascii(vb)
            elif tag == 4 and ftype == 5 and count == 3:
                lon = _tiff_dms(vb, lt)
        if lat is not None:
            out["gps_lat"] = -lat if lat_ref == "S" else lat
        if lon is not None:
            out["gps_lon"] = -lon if lon_ref == "W" else lon
    return out


def image_exif(blobs: DataFrame) -> DataFrame:
    """EXIF triage metadata per image payload: ``(doc_id, orientation,
    exif_width, exif_height, datetime, make, model)`` — the fields a
    corpus pipeline filters on (rotate-before-resize, camera/source
    stratification, capture-time windows) without decoding a pixel.
    Reads JPEG APP1, PNG ``eXIf``, and WebP ``EXIF`` containers;
    all-NULL row when the container carries no Exif; quarantine
    contract for broken TIFF structures; other formats 'unsupported'."""
    from .multimodal import _quarantine_map

    def one(payload):
        if not payload:
            raise ValueError("empty/NULL image payload")
        return _parse_exif(payload)

    return _quarantine_map(blobs, one, EXIF_SCHEMA)


EXIF_STRIP_SCHEMA = (
    "doc_id bigint, format string, payload binary, removed_bytes int, "
    "error string, error_kind string"
)


def _strip_exif_bytes(payload: bytes) -> tuple[str, bytes]:
    """Remove embedded EXIF (and JPEG XMP) metadata from one image
    payload without touching pixel data — the privacy scrub: camera
    serials, capture timestamps, and GPS fixes must not ride into a
    training corpus. JPEG: drop APP1 segments whose body is Exif or
    XMP; PNG: drop ``eXIf`` chunks AND the XMP ``iTXt`` chunk
    (keyword ``XML:com.adobe.xmp``); WebP: drop the ``EXIF`` and
    ``XMP `` chunks, fix the RIFF size, and clear the VP8X EXIF/XMP
    flag bits. Formats with no EXIF concept pass through unchanged
    (BMP/PPM/GIF)."""
    if payload[:2] == b"\xff\xd8":
        out = bytearray(b"\xff\xd8")
        pos = 2
        n = len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                raise ValueError("malformed JPEG: marker desync")
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                out += payload[pos : pos + 2]
                pos += 2
                continue
            if marker == 0xDA:  # SOS: entropy data to EOI, verbatim
                out += payload[pos:]
                return "jpeg", bytes(out)
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            body = payload[pos + 4 : pos + 2 + seglen]
            # XMP APP1 is identified by its spec-mandated namespace
            # identifier STRING (an opaque marker, never fetched)
            is_meta = marker == 0xE1 and (
                body[:6] == b"Exif\x00\x00"
                or body[:28] == b"http://ns.adobe.com/xap/1.0/"
            )
            if not is_meta:
                out += payload[pos : pos + 2 + seglen]
            pos += 2 + seglen
        raise ValueError("malformed JPEG: no SOS before end of data")
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        out = bytearray(payload[:8])
        pos, n = 8, len(payload)
        while pos + 8 <= n:
            (clen,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            if pos + 12 + clen > n:
                raise ValueError(f"malformed PNG: truncated {ctype!r}")
            # XMP rides in an iTXt chunk keyed 'XML:com.adobe.xmp'
            # (null-terminated keyword at the chunk body start) and can
            # carry GPS/creator data just like eXIf — drop both.
            is_xmp = (
                ctype == b"iTXt"
                and payload[pos + 8 : pos + 26]
                == b"XML:com.adobe.xmp\x00"
            )
            if ctype != b"eXIf" and not is_xmp:
                out += payload[pos : pos + 12 + clen]
            pos += 12 + clen
            if ctype == b"IEND":
                break
        return "png", bytes(out)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        body = bytearray()
        pos, n = 12, len(payload)
        vp8x_at = None
        while pos + 8 <= n:
            cid = payload[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", payload, pos + 4)
            step = 8 + clen + (clen & 1)
            if cid not in (b"EXIF", b"XMP "):
                if cid == b"VP8X" and clen >= 1:
                    vp8x_at = len(body) + 8
                body += payload[pos : pos + step]
            pos += step
        if vp8x_at is not None:
            # clear both the EXIF (0x08) and XMP (0x04) VP8X flags
            body[vp8x_at] &= ~0x0C
        out = bytearray(b"RIFF")
        out += struct.pack("<I", 4 + len(body))
        out += b"WEBP" + body
        return "webp", bytes(out)
    if payload[:2] == b"BM" or payload[:2] in (b"P4", b"P5", b"P6") \
            or payload[:6] in (b"GIF87a", b"GIF89a"):
        fmt = {b"BM": "bmp", b"P4": "pbm", b"P5": "pgm",
               b"P6": "ppm"}.get(payload[:2], "gif")
        return fmt, bytes(payload)
    raise NotImplementedError(
        f"EXIF strip covers JPEG/PNG/WebP containers (magic "
        f"{payload[:4]!r}); other formats pass through decode instead"
    )


def strip_exif(blobs: DataFrame) -> DataFrame:
    """Privacy scrub over image payloads: returns the payload with
    embedded EXIF/XMP metadata removed (pixel/entropy data untouched —
    the cleaned payload decodes to the SAME pixels) plus the byte count
    removed, so a curation audit can report how much metadata the scrub
    dropped. Same Arrow-batched quarantine contract as the other
    payload ops; the PII twin of functions/pii.py on the multimodal
    side."""
    from .multimodal import _quarantine_map

    def one(payload):
        if not payload:
            raise ValueError("empty/NULL image payload")
        fmt, cleaned = _strip_exif_bytes(payload)
        return {"format": fmt, "payload": cleaned,
                "removed_bytes": len(payload) - len(cleaned)}

    return _quarantine_map(blobs, one, EXIF_STRIP_SCHEMA)


AUDIO_TAGS_SCHEMA = (
    "doc_id bigint, container string, title string, artist string, "
    "album string, error string, error_kind string"
)

_ID3_TEXT_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be",
                       3: "utf-8"}


def _parse_id3v2_tags(payload: bytes) -> dict:
    """TIT2/TPE1/TALB text frames from an ID3v2.3/2.4 tag (frame sizes
    syncsafe in 2.4, plain u32 in 2.3; all four text encodings)."""
    major = payload[3]
    if major not in (2, 3, 4):
        raise NotImplementedError(
            f"ID3v2.{major} tags not supported (only 2.2/2.3/2.4)"
        )
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("malformed ID3: non-syncsafe tag size")
        size = (size << 7) | b
    end = min(10 + size, len(payload))
    pos = 10
    if payload[5] & 0x40:  # extended header present: skip it
        if pos + 4 > end:
            raise ValueError("malformed ID3: truncated extended header")
        (ext,) = struct.unpack_from(">I", payload, pos)
        if major == 4:  # syncsafe, includes itself
            ext = ((ext & 0x7F000000) >> 3) | ((ext & 0x7F0000) >> 2) \
                | ((ext & 0x7F00) >> 1) | (ext & 0x7F)
            pos += ext
        else:  # 2.3: size excludes the 4 size bytes
            pos += 4 + ext
    out = {"container": "id3", "title": None, "artist": None,
           "album": None}
    if major == 2:  # 3-char ids, 3-byte sizes, no frame flags
        want2 = {b"TT2": "title", b"TP1": "artist", b"TAL": "album"}
        while pos + 6 <= end:
            fid = payload[pos : pos + 3]
            if fid == b"\x00\x00\x00":  # padding
                break
            fsize = int.from_bytes(payload[pos + 3 : pos + 6], "big")
            body = payload[pos + 6 : pos + 6 + fsize]
            if len(body) < fsize:
                raise ValueError(f"malformed ID3: truncated frame {fid!r}")
            key = want2.get(fid)
            if key is not None and fsize >= 1:
                enc = _ID3_TEXT_ENCODINGS.get(body[0])
                if enc is None or body[0] > 1:  # 2.2: latin-1/utf-16 only
                    raise ValueError(
                        f"malformed ID3: text encoding {body[0]} in {fid!r}"
                    )
                try:
                    text = body[1:].decode(enc)
                except UnicodeDecodeError as e:
                    raise ValueError(
                        f"malformed ID3: undecodable {fid!r}: {e}"
                    )
                out[key] = text.rstrip("\x00").strip() or None
            pos += 6 + fsize
        return out
    want = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album"}
    while pos + 10 <= end:
        fid = payload[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":  # padding
            break
        (fsize,) = struct.unpack_from(">I", payload, pos + 4)
        if major == 4:
            if fsize & 0x80808080:
                raise ValueError("malformed ID3: non-syncsafe frame size")
            fsize = ((fsize & 0x7F000000) >> 3) | ((fsize & 0x7F0000) >> 2) \
                | ((fsize & 0x7F00) >> 1) | (fsize & 0x7F)
        body = payload[pos + 10 : pos + 10 + fsize]
        if len(body) < fsize:
            raise ValueError(f"malformed ID3: truncated frame {fid!r}")
        key = want.get(fid)
        if key is not None and fsize >= 1:
            enc = _ID3_TEXT_ENCODINGS.get(body[0])
            if enc is None:
                raise ValueError(
                    f"malformed ID3: text encoding {body[0]} in {fid!r}"
                )
            try:
                text = body[1:].decode(enc)
            except UnicodeDecodeError as e:
                raise ValueError(f"malformed ID3: undecodable {fid!r}: {e}")
            out[key] = text.rstrip("\x00").strip() or None
        pos += 10 + fsize
    return out


def _parse_vorbis_comment_tags(payload: bytes) -> dict:
    """TITLE/ARTIST/ALBUM from a FLAC VORBIS_COMMENT block (type 4)."""
    out = {"container": "flac", "title": None, "artist": None,
           "album": None}
    pos = 4
    while True:
        if pos + 4 > len(payload):
            raise ValueError("malformed FLAC: truncated metadata header")
        head = payload[pos]
        btype, last = head & 0x7F, bool(head & 0x80)
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if btype == 4:
            if len(body) < 8:
                raise ValueError("malformed FLAC: short VORBIS_COMMENT")
            (vlen,) = struct.unpack_from("<I", body, 0)
            at = 4 + vlen
            if at + 4 > len(body):
                raise ValueError("malformed FLAC: truncated vendor string")
            (n,) = struct.unpack_from("<I", body, at)
            at += 4
            for _ in range(n):
                if at + 4 > len(body):
                    raise ValueError("malformed FLAC: truncated comment")
                (clen,) = struct.unpack_from("<I", body, at)
                at += 4
                if at + clen > len(body):
                    raise ValueError("malformed FLAC: truncated comment")
                kv = body[at : at + clen].decode("utf-8", "strict")
                at += clen
                k, _, v = kv.partition("=")
                k = k.upper()
                if k in ("TITLE", "ARTIST", "ALBUM") and v:
                    out[{"TITLE": "title", "ARTIST": "artist",
                         "ALBUM": "album"}[k]] = v
            return out
        if last:
            return out  # no comment block: all-NULL tags
        pos += 4 + blen


def _parse_wav_info_tags(payload: bytes) -> dict:
    """INAM/IART/IPRD from a RIFF LIST/INFO chunk."""
    out = {"container": "wav", "title": None, "artist": None,
           "album": None}
    want = {b"INAM": "title", b"IART": "artist", b"IPRD": "album"}
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"LIST" and \
                payload[pos + 8 : pos + 12] == b"INFO":
            at = pos + 12
            lend = pos + 8 + clen
            while at + 8 <= min(lend, len(payload)):
                sid = payload[at : at + 4]
                (slen,) = struct.unpack_from("<I", payload, at + 4)
                body = payload[at + 8 : at + 8 + slen]
                key = want.get(sid)
                if key is not None:
                    out[key] = body.split(b"\x00", 1)[0] \
                        .decode("latin-1").strip() or None
                at += 8 + slen + (slen & 1)
            return out
        pos += 8 + clen + (clen & 1)
    return out  # no INFO list: all-NULL tags


def _parse_audio_tags(payload: bytes) -> dict:
    if not payload:
        raise ValueError("empty/NULL audio payload")
    if payload[:3] == b"ID3":
        return _parse_id3v2_tags(payload)
    if payload[:4] == b"fLaC":
        return _parse_vorbis_comment_tags(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _parse_wav_info_tags(payload)
    raise NotImplementedError(
        f"unknown tag container (magic {payload[:4]!r}); tag extraction "
        "covers ID3v2.3/2.4, FLAC VORBIS_COMMENT, WAV LIST/INFO"
    )


def audio_tags(blobs: DataFrame) -> DataFrame:
    """Embedded text tags per audio payload: ``(doc_id, container,
    title, artist, album)`` from ID3v2.3/2.4 (MP3), FLAC VORBIS_COMMENT,
    or a WAV LIST/INFO chunk — the provenance fields a corpus pipeline
    stratifies and dedups on. Untagged payloads yield all-NULL tag
    columns (not errors); O(header bytes), never touches audio data."""
    from .multimodal import _quarantine_map

    return _quarantine_map(blobs, _parse_audio_tags, AUDIO_TAGS_SCHEMA)


def sniff_format(blobs: DataFrame,
                 payload_col: str = "payload") -> DataFrame:
    """Pure-SQL magic-byte sniffer over a mixed payload table (r12):
    adds ``sniff_family`` / ``sniff_format`` so a heterogeneous crawl
    partition routes to the right decoder family (triage_decode_images,
    decode_audio/audio_subband_features, video_meta, archive_members,
    pdf_text, subtitles_text, …) WITHOUT a Python round-trip — the
    dispatch is substring-equality Column math the optimizer folds
    into the scan projection, so routing a 100 TB mixed table costs
    one map-only pass and zero Arrow batches.

    Families/formats covered: image (png/jpeg/gif/bmp/webp/tiff/jbig2/
    pnm),
    audio (wav/flac/mp3/ogg), video (mp4/mkv/avi), archive
    (gzip/zip/tar/warc/bzip2/xz), document (pdf/rtf). ``zip`` is reported as
    archive even when it is OOXML — distinguishing docx needs a
    member read, which is the downstream operator's job. Everything
    else is ``('unknown', NULL)``. NULL/empty payloads are
    ``('unknown', NULL)`` too.

    Deliberately NOT sniffed (late r14): latex, ipynb, and markdown
    — none carries a reliable magic (ipynb is bare JSON, markdown is
    bare text, latex's ``\\documentclass`` may sit after arbitrary
    comment lines); guessing would misroute ordinary text/JSON.
    Those formats route by extension/Content-Type, which crawl
    pipelines carry anyway (see code_quality.lang_from_path)."""
    fmt, family = _sniff_sql(payload_col)
    out = blobs.withColumn("sniff_format", F.expr(fmt))
    return out.withColumn("sniff_family", F.expr(family))


def _sniff_sql(payload_col: str) -> tuple[str, str]:
    """(format, family) dispatch SQL of :func:`sniff_format`: one parsed
    string each, where the ~30-branch magic CASE built through the Column
    API cost ~3k py4j round-trips. The codec_sniff oracle section pins
    the routing."""

    def magic(off: int, sig: bytes) -> str:
        return (f"substring({payload_col}, {off + 1}, {len(sig)})"
                f" = X'{sig.hex().upper()}'")

    def any_magic(*sigs: bytes) -> str:
        return " OR ".join(magic(0, sig) for sig in sigs)

    def byte_at(pos: int) -> str:
        return f"substring({payload_col}, {pos}, 1)"

    riff = magic(0, b"RIFF")
    arms = (
        # tar first: its magic sits at offset 257, so a tar whose first
        # member NAME starts with a weak 2-3 byte ASCII magic (BM, P6,
        # ID3, GIF89a) would otherwise sniff as that format (r12 review
        # fix); nothing else carries 'ustar' at 257
        (magic(257, b"ustar"), "tar"),
        (magic(0, b"\x89PNG\r\n\x1a\n"), "png"),
        (magic(0, b"\xff\xd8"), "jpeg"),
        (any_magic(b"GIF87a", b"GIF89a"), "gif"),
        (f"{riff} AND {magic(8, b'WEBP')}", "webp"),
        (any_magic(b"II*\x00", b"MM\x00*"), "tiff"),
        (magic(0, b"\x97JB2\r\n\x1a\n"), "jbig2"),
        (magic(0, b"BM"), "bmp"),
        (any_magic(b"P4", b"P5", b"P6"), "pnm"),
        (f"{riff} AND {magic(8, b'WAVE')}", "wav"),
        (magic(0, b"fLaC"), "flac"),
        (magic(0, b"ID3"), "mp3"),
        (f"{byte_at(1)} = X'FF' AND {byte_at(2)} >= X'E0'", "mp3"),
        (magic(0, b"OggS"), "ogg"),
        (magic(4, b"ftyp"), "mp4"),
        (magic(0, b"\x1a\x45\xdf\xa3"), "mkv"),
        (f"{riff} AND {magic(8, b'AVI ')}", "avi"),
        (magic(0, b"\x1f\x8b"), "gzip"),
        (f"{magic(0, b'BZh')} AND {byte_at(4)} >= X'31'"
         f" AND {byte_at(4)} <= X'39'", "bzip2"),
        (magic(0, b"\xfd7zXZ\x00"), "xz"),
        (any_magic(b"PK\x03\x04", b"PK\x05\x06"), "zip"),
        (magic(0, b"WARC/"), "warc"),
        (magic(0, b"%PDF-"), "pdf"),
        (magic(0, b"{\\rtf"), "rtf"),
    )
    fmt = "CASE " + " ".join(f"WHEN {c} THEN '{f}'" for c, f in arms) + " END"
    family_of = {
        "image": ("png", "jpeg", "gif", "webp", "tiff", "jbig2", "bmp",
                  "pnm"),
        "audio": ("wav", "flac", "mp3", "ogg"),
        "video": ("mp4", "mkv", "avi"),
        "archive": ("gzip", "zip", "tar", "warc", "bzip2", "xz"),
        "document": ("pdf", "rtf"),
    }
    family = "CASE " + " ".join(
        f"WHEN sniff_format IN ({', '.join(map(repr, members))}) THEN '{name}'"
        for name, members in family_of.items()) + " ELSE 'unknown' END"
    return fmt, family
