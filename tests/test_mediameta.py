"""Container-metadata extraction (operators/mediameta.py): hand-built
minimal ISO-BMFF files and WebP headers, byte-exact field checks, the
quarantine contract."""

from __future__ import annotations

import struct

import pytest

from youtube_api_data_etl_automation_spark.operators import mediameta


def _box(btype: bytes, body: bytes, largesize=False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + btype + \
            struct.pack(">Q", 16 + len(body)) + body
    return struct.pack(">I", 8 + len(body)) + btype + body


def _tkhd(w, h, version=0):
    base = 20 if version == 0 else 32  # through duration
    body = bytes([version, 0, 0, 0]) + b"\x00" * base
    body += b"\x00" * 52  # reserved/matrix etc.
    body += struct.pack(">II", w << 16, h << 16)
    return _box(b"tkhd", body)


def _trak(handler: bytes, codec: bytes, w=0, h=0, tkhd_version=0,
          n_samples=None):
    hdlr = _box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 12)
    stsd = _box(b"stsd", b"\x00" * 8 + struct.pack(">I", 86) + codec
                + b"\x00" * 8)
    stbl_body = stsd
    if n_samples is not None:
        stbl_body += _box(b"stsz", b"\x00" * 4
                          + struct.pack(">II", 0, n_samples))
    stbl = _box(b"stbl", stbl_body)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", hdlr + minf)
    return _box(b"trak", _tkhd(w, h, tkhd_version) + mdia)


def _mp4(timescale=1000, duration=90_000, mvhd_version=0, tracks=(),
         largesize_moov=False):
    if mvhd_version == 1:
        mvhd = _box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 16
                    + struct.pack(">IQ", timescale, duration) + b"\x00" * 80)
    else:
        mvhd = _box(b"mvhd", bytes([0, 0, 0, 0]) + b"\x00" * 8
                    + struct.pack(">II", timescale, duration) + b"\x00" * 80)
    moov = _box(b"moov", mvhd + b"".join(tracks), largesize=largesize_moov)
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 8)
    return ftyp + moov + _box(b"mdat", b"\x00" * 16)


def test_mp4_metadata_fields():
    payload = _mp4(
        timescale=600, duration=1500,
        tracks=(
            _trak(b"vide", b"avc1", w=1920, h=1080),
            _trak(b"soun", b"mp4a"),
        ),
    )
    out = mediameta._parse_mp4(payload)
    assert out["brand"] == "isom"
    assert out["duration_sec"] == 2.5
    assert out["n_tracks"] == 2
    assert out["n_video_tracks"] == 1 and out["n_audio_tracks"] == 1
    assert (out["width"], out["height"]) == (1920, 1080)
    assert out["codecs"] == "avc1,mp4a"


def test_mp4_version1_and_largesize_boxes():
    payload = _mp4(timescale=90_000, duration=90_000 * 7, mvhd_version=1,
                   tracks=(_trak(b"vide", b"hvc1", w=640, h=360,
                                 tkhd_version=1),),
                   largesize_moov=True)
    out = mediameta._parse_mp4(payload)
    assert out["duration_sec"] == 7.0
    assert out["codecs"] == "hvc1"
    assert (out["width"], out["height"]) == (640, 360)


def test_mp4_malformed_and_unsupported():
    good = _mp4(tracks=(_trak(b"vide", b"avc1", w=16, h=16),))
    with pytest.raises(ValueError, match="truncated box|beyond its scope"):
        mediameta._parse_mp4(good[:-10])
    # a box whose size overruns its scope
    bad = bytearray(good)
    moov_at = good.index(b"moov") - 4
    struct.pack_into(">I", bad, moov_at, len(good) * 2)
    with pytest.raises(ValueError, match="beyond its scope"):
        mediameta._parse_mp4(bytes(bad))
    with pytest.raises(ValueError, match="no moov"):
        mediameta._parse_mp4(_box(b"ftyp", b"isom" + b"\x00" * 8))
    with pytest.raises(NotImplementedError, match="demuxer"):
        mediameta._parse_mp4(b"RIFF\x00\x00\x00\x00AVI " + b"\x00" * 16)


def test_image_probe_all_formats():
    import sys
    sys.path.insert(0, "tests")
    from test_gif import PAL4, _gif
    from test_jpeg import _encode_jpeg, _encode_progressive
    from test_operators import _bmp24, _png, _ppm6

    import numpy as np

    png = _png([[(1, 2, 3)] * 5] * 4)
    assert mediameta._probe_image(png) == ("png", 5, 4)
    jb, *_ = _encode_jpeg(np.full((16, 24), 70, dtype=np.uint8))
    assert mediameta._probe_image(jb) == ("jpeg", 24, 16)
    jp, *_ = _encode_progressive(np.full((8, 16), 70, dtype=np.uint8))
    assert mediameta._probe_image(jp) == ("jpeg", 16, 8)
    g = _gif([[0, 1, 2]] * 2, PAL4)
    assert mediameta._probe_image(g) == ("gif", 3, 2)
    b = _bmp24([[(1, 2, 3), (4, 5, 6)]])
    assert mediameta._probe_image(b) == ("bmp", 2, 1)
    p = _ppm6([[(1, 2, 3), (4, 5, 6)]])
    assert mediameta._probe_image(p) == ("ppm", 2, 1)


def _webp(kind: bytes, chunk: bytes) -> bytes:
    body = b"WEBP" + kind + struct.pack("<I", len(chunk)) + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_image_probe_webp_variants():
    # VP8 lossy: 10-byte frame header; 14-bit sizes at bytes 6..9
    vp8 = b"\x00" * 6 + struct.pack("<HH", 320 | 0x4000, 240)
    assert mediameta._probe_image(_webp(b"VP8 ", vp8 + b"\x00" * 8)) == \
        ("webp", 320, 240)
    # VP8L lossless: 0x2F then 14+14 bits, minus-one coded
    bits = (99 - 1) | ((77 - 1) << 14)
    vp8l = bytes([0x2F]) + struct.pack("<I", bits)
    assert mediameta._probe_image(_webp(b"VP8L", vp8l + b"\x00" * 8)) == \
        ("webp", 99, 77)
    # VP8X extended: 24-bit canvas minus one at offset 4 of the chunk
    vp8x = b"\x00" * 4 + (1919).to_bytes(3, "little") \
        + (1079).to_bytes(3, "little")
    assert mediameta._probe_image(_webp(b"VP8X", vp8x + b"\x00" * 8)) == \
        ("webp", 1920, 1080)
    with pytest.raises(ValueError, match="unknown chunk"):
        mediameta._probe_image(_webp(b"XXXX", b"\x00" * 16))


def test_meta_ops_spark_and_quarantine(spark):
    mp4 = _mp4(timescale=1000, duration=4000,
               tracks=(_trak(b"vide", b"avc1", w=64, h=48),))
    vids = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(mp4[:20])),
         (3, bytearray(b"\x00\x01rawstream" + b"\x00" * 8))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.video_meta(
        vids
    ).collect()}
    assert rows[1].brand == "isom" and rows[1].duration_sec == 4.0
    assert rows[1].n_video_tracks == 1 and rows[1].codecs == "avc1"
    assert (rows[1].width, rows[1].height) == (64, 48)
    assert rows[2].error_kind == "corrupt"
    assert rows[3].error_kind == "unsupported"

    import sys
    sys.path.insert(0, "tests")
    from test_operators import _png

    imgs = spark.createDataFrame(
        [(1, bytearray(_png([[(9, 9, 9)] * 3] * 2))),
         (2, bytearray(b"\x00\x01junk")), (3, None)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.image_meta(
        imgs
    ).collect()}
    assert (rows[1].format, rows[1].width, rows[1].height) == ("png", 3, 2)
    assert rows[2].error_kind == "unsupported"
    assert rows[2].error.startswith("unknown image format")
    assert rows[3].error_kind == "corrupt"
    assert rows[3].error == "empty/NULL image payload"
    assert (rows[3].format, rows[3].width) == (None, None)


def test_mp4_truncated_mvhd_is_corrupt(spark):
    """r10 regression (ADVICE medium): a declared-short mvhd body used to
    escape as struct.error from unpack_from and kill the task."""
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 8)
    short_v0 = ftyp + _box(b"moov", _box(b"mvhd", bytes([0, 0, 0, 0])))
    with pytest.raises(ValueError, match="truncated mvhd v0"):
        mediameta._parse_mp4(short_v0)
    short_v1 = ftyp + _box(
        b"moov", _box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 20)
    )
    with pytest.raises(ValueError, match="truncated mvhd v1"):
        mediameta._parse_mp4(short_v1)
    with pytest.raises(ValueError, match="empty mvhd"):
        mediameta._parse_mp4(ftyp + _box(b"moov", _box(b"mvhd", b"")))
    # end to end: a corrupt row, not a task failure
    vids = spark.createDataFrame(
        [(1, bytearray(short_v0))], "doc_id long, payload binary"
    )
    rows = mediameta.video_meta(vids).collect()
    assert rows[0].error_kind == "corrupt"


def test_ppm_probe_is_header_only():
    """r10 regression (ADVICE low): the PPM probe used to decode the full
    pixel payload; it must answer from the header alone — huge declared
    dimensions with zero pixel bytes still probe."""
    hdr = b"P6\n# comment\n40000 30000\n255\n"
    assert mediameta._probe_image(hdr) == ("ppm", 40000, 30000)
    # and a 16-bit PPM (maxval > 255) probes fine even though the pixel
    # decoder refuses it
    assert mediameta._probe_image(b"P6\n4 2\n65535\n") == ("ppm", 4, 2)
    with pytest.raises(ValueError, match="truncated header"):
        mediameta._probe_image(b"P6\n12 ")


# ---------------------------------------------------------------- r10:
# header-only audio probes (MP3 / FLAC / WAV) and the EBML/MKV walk


def _mp3_frame_header(bitrate_idx=9, rate_idx=0, stereo=True,
                      version_bits=3, layer=3):
    b2 = 0xE0 | (version_bits << 3) | ((4 - layer) << 1) | 1  # no CRC
    b3 = (bitrate_idx << 4) | (rate_idx << 2)
    b4 = 0x00 if stereo else 0xC0
    return bytes([0xFF, b2, b3, b4])


def _id3v2(body_len=20):
    size = bytes((body_len >> s) & 0x7F for s in (21, 14, 7, 0))
    return b"ID3\x04\x00\x00" + size + b"\x00" * body_len


def test_mp3_probe_cbr_and_xing():
    # CBR: MPEG1 Layer3, 128 kbps, 44100 Hz, stereo; 2000 stream bytes
    payload = _id3v2() + _mp3_frame_header() + b"\x00" * 1996
    out = mediameta._parse_audio_meta(payload)
    assert out["format"] == "mp3"
    assert out["sample_rate"] == 44100 and out["n_channels"] == 2
    assert out["duration_sec"] == pytest.approx(2000 * 8 / 128000)
    assert out["detail"] == "mpeg1-layer3,cbr,128kbps"

    # Xing: frame count wins over the CBR estimate
    xing = b"Xing" + struct.pack(">II", 1, 100)
    payload = _mp3_frame_header() + b"\x00" * 32 + xing + b"\x00" * 64
    out = mediameta._parse_audio_meta(payload)
    assert out["duration_sec"] == pytest.approx(100 * 1152 / 44100)
    assert out["detail"] == "mpeg1-layer3,vbr-xing,128kbps"

    # MPEG2.5 mono Layer3: half tables, 576 samples/frame path
    hdr = _mp3_frame_header(bitrate_idx=4, rate_idx=2, stereo=False,
                            version_bits=0)
    out = mediameta._parse_audio_meta(hdr + b"\x00" * 996)
    assert out["sample_rate"] == 8000 and out["n_channels"] == 1
    assert out["detail"] == "mpeg2.5-layer3,cbr,32kbps"

    with pytest.raises(ValueError, match="no frame sync"):
        mediameta._parse_audio_meta(_id3v2() + b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="free-format"):
        mediameta._parse_audio_meta(
            _mp3_frame_header(bitrate_idx=0) + b"\x00" * 32
        )


def test_flac_probe_streaminfo():
    packed = (44100 << 44) | ((2 - 1) << 41) | ((16 - 1) << 36) | 88200
    streaminfo = b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16
    payload = b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + streaminfo
    out = mediameta._parse_audio_meta(payload)
    assert out["format"] == "flac"
    assert out["sample_rate"] == 44100 and out["n_channels"] == 2
    assert out["duration_sec"] == pytest.approx(2.0)
    assert out["detail"] == "bps=16,total_samples=88200"

    # STREAMINFO after a padding block (non-last walk)
    pad = bytes([0x01]) + (4).to_bytes(3, "big") + b"\x00" * 4
    payload2 = b"fLaC" + pad + bytes([0x80]) + (34).to_bytes(3, "big") \
        + streaminfo
    assert mediameta._parse_audio_meta(payload2)["sample_rate"] == 44100

    with pytest.raises(ValueError, match="no STREAMINFO"):
        mediameta._parse_audio_meta(
            b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big") + b"\x00" * 4
        )
    with pytest.raises(ValueError, match="short STREAMINFO"):
        mediameta._parse_audio_meta(
            b"fLaC" + bytes([0x80]) + (10).to_bytes(3, "big") + b"\x00" * 10
        )


def test_wav_header_probe_never_reads_samples():
    import sys
    sys.path.insert(0, "tests")
    from test_operators import _wav

    payload = _wav(8000, [(100, -100)] * 64)  # 16-bit stereo
    out = mediameta._parse_audio_meta(payload)
    assert out["format"] == "wav"
    assert out["sample_rate"] == 8000 and out["n_channels"] == 2
    assert out["duration_sec"] == pytest.approx(64 / 8000)
    assert out["detail"] == "fmt_code=1,bits=16,block_align=4"
    # header-only contract: data chunk SIZE counted, bytes never read —
    # a payload truncated mid-data still probes
    assert mediameta._parse_audio_meta(payload[:50])["duration_sec"] == \
        pytest.approx(64 / 8000)

    with pytest.raises(NotImplementedError, match="OGG stream"):
        mediameta._parse_audio_meta(b"OggS" + b"\x00" * 32)
    with pytest.raises(NotImplementedError, match="unknown audio"):
        mediameta._parse_audio_meta(b"caff" + b"\x00" * 32)


def _ebml(eid: bytes, body: bytes) -> bytes:
    n = 1
    while len(body) >= (1 << (7 * n)) - 1:  # all-ones size is reserved
        n += 1
    return eid + (len(body) | (1 << (7 * n))).to_bytes(n, "big")


def _mkv(duration=5000.0, tscale=None, tracks=(), unknown_size=False):
    # NB: _ebml returns header only — append body explicitly
    info = _ebml(b"\x44\x89", struct.pack(">f", duration)) \
        + struct.pack(">f", duration)
    if tscale is not None:
        scale_el = _ebml(b"\x2a\xd7\xb1", tscale.to_bytes(3, "big")) \
            + tscale.to_bytes(3, "big")
        info = scale_el + info
    info_el = _ebml(b"\x15\x49\xa9\x66", info) + info
    tracks_body = b"".join(tracks)
    tracks_el = _ebml(b"\x16\x54\xae\x6b", tracks_body) + tracks_body
    seg_body = info_el + tracks_el
    if unknown_size:
        seg = b"\x18\x53\x80\x67" + b"\xff" + seg_body
    else:
        seg = _ebml(b"\x18\x53\x80\x67", seg_body) + seg_body
    ebml_hdr = _ebml(b"\x1a\x45\xdf\xa3", b"\x00" * 4) + b"\x00" * 4
    return ebml_hdr + seg


def _mkv_track(ttype: int, codec: bytes, w=None, h=None):
    body = _ebml(b"\x83", bytes([ttype])) + bytes([ttype])
    body += _ebml(b"\x86", codec) + codec
    if w is not None:
        wb = w.to_bytes(2, "big")
        hb = h.to_bytes(2, "big")
        video = _ebml(b"\xb0", wb) + wb + _ebml(b"\xba", hb) + hb
        body += _ebml(b"\xe0", video) + video
    return _ebml(b"\xae", body) + body


def test_mkv_metadata_walk():
    payload = _mkv(
        duration=5000.0,
        tracks=(_mkv_track(1, b"V_VP9", w=640, h=360),
                _mkv_track(2, b"A_OPUS")),
    )
    out = mediameta._parse_mkv(payload)
    assert out["brand"] == "mkv"
    assert out["duration_sec"] == pytest.approx(5.0)  # default 1e6 ns scale
    assert out["n_tracks"] == 2
    assert out["n_video_tracks"] == 1 and out["n_audio_tracks"] == 1
    assert (out["width"], out["height"]) == (640, 360)
    assert out["codecs"] == "V_VP9,A_OPUS"

    # explicit TimestampScale and the unknown-size (streaming) segment
    out = mediameta._parse_mkv(
        _mkv(duration=3000.0, tscale=2_000_000, unknown_size=True)
    )
    assert out["duration_sec"] == pytest.approx(6.0)
    assert out["n_tracks"] == 0

    with pytest.raises(ValueError, match="no Segment/Info/Duration"):
        mediameta._parse_mkv(_ebml(b"\x1a\x45\xdf\xa3", b"") )
    trunc = _mkv(duration=1000.0)[:-3]
    with pytest.raises(ValueError, match="overruns|truncated"):
        mediameta._parse_mkv(trunc)


def test_audio_video_meta_spark_dispatch(spark):
    """audio_meta end to end, and video_meta dispatching MP4 vs MKV."""
    import sys
    sys.path.insert(0, "tests")
    from test_operators import _wav

    auds = spark.createDataFrame(
        [(1, bytearray(_id3v2() + _mp3_frame_header() + b"\x00" * 996)),
         (2, bytearray(_wav(16000, [(5,)] * 32))),
         (3, bytearray(b"caff" + b"\x00" * 16)),
         (4, bytearray(b"fLaC\x80"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.audio_meta(
        auds
    ).collect()}
    assert rows[1].format == "mp3" and rows[1].sample_rate == 44100
    assert rows[2].format == "wav" and rows[2].duration_sec == \
        pytest.approx(32 / 16000)
    assert rows[3].error_kind == "unsupported"
    assert rows[4].error_kind == "corrupt"

    vids = spark.createDataFrame(
        [(1, bytearray(_mp4(timescale=1000, duration=4000))),
         (2, bytearray(_mkv(duration=5000.0,
                            tracks=(_mkv_track(1, b"V_VP9", w=320,
                                               h=240),))))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.video_meta(vids).collect()}
    assert rows[1].brand == "isom" and rows[1].duration_sec == 4.0
    assert rows[2].brand == "mkv" and rows[2].duration_sec == \
        pytest.approx(5.0)
    assert (rows[2].width, rows[2].height) == (320, 240)
    assert rows[2].codecs == "V_VP9"


def test_triage_decode_images_routes_before_decoding(spark):
    """r10 triage router: the O(header) probe gates the per-pixel
    decoder. The oversized payload here has NO pixel bytes at all — if
    the decode loop ever ran on it, the row would be an error, not a
    clean 'oversized' route with probed dims intact."""
    import sys
    sys.path.insert(0, "tests")
    from test_operators import _png

    good_png = _png([[(10, 20, 30)] * 4] * 2)
    huge_ppm = b"P6\n40000 30000\n255\n"  # header only, 1.2 Gpx declared
    webp = _webp(b"VP8 ", b"\x00" * 6
                 + struct.pack("<HH", 320 | 0x4000, 240) + b"\x00" * 8)
    # valid PNG header, pixel stream cut: probe passes, decode refuses
    cut_png = good_png[:40]
    blobs = spark.createDataFrame(
        [(1, bytearray(good_png)), (2, bytearray(huge_ppm)),
         (3, bytearray(webp)), (4, bytearray(b"\x00\x01junk")),
         (5, bytearray(cut_png))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.triage_decode_images(
        blobs
    ).collect()}
    assert rows[1].route == "decoded" and rows[1].format == "png"
    assert (rows[1].mean_r, rows[1].mean_g, rows[1].mean_b) == \
        (10.0, 20.0, 30.0)
    assert rows[2].route == "oversized" and rows[2].error_kind == \
        "unsupported"
    assert (rows[2].format, rows[2].width, rows[2].height) == \
        ("ppm", 40000, 30000)  # triage report keeps the probed dims
    assert rows[3].route == "undecodable" and rows[3].format == "webp"
    assert rows[3].error_kind == "unsupported"
    assert rows[4].route == "probe_failed" and \
        rows[4].error_kind == "unsupported"
    assert rows[5].route == "decode_failed" and \
        rows[5].error_kind == "corrupt"
    assert (rows[5].width, rows[5].height) == (4, 2)  # probe survived
    # routed-out rows carry the router's own refusal text
    assert rows[2].error == (
        "probed ppm 40000x30000 exceeds the triage pixel budget "
        "(1200000000 > 4000000); route the payload to a codec-library "
        "executor")
    assert rows[3].error.startswith("probed webp 320x240: no stdlib codec")


def test_triage_routes_vp8l_to_decode(spark):
    """r10: lossless WebP is decodable now — the triage router sends
    VP8L through the decoder and keeps lossy VP8 out."""
    import sys
    sys.path.insert(0, "tests")
    import numpy as np
    from test_vp8l import _encode_vp8l

    img = np.zeros((2, 3, 4), dtype=np.int64)
    img[:, :, 0] = 50
    img[:, :, 1] = 100
    img[:, :, 2] = 150
    img[:, :, 3] = 255
    vp8l_payload = _encode_vp8l(img)
    lossy = _webp(b"VP8 ", b"\x00" * 6
                  + struct.pack("<HH", 320 | 0x4000, 240) + b"\x00" * 8)
    blobs = spark.createDataFrame(
        [(1, bytearray(vp8l_payload)), (2, bytearray(lossy))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.triage_decode_images(
        blobs
    ).collect()}
    assert rows[1].route == "decoded" and rows[1].format == "webp"
    assert (rows[1].mean_r, rows[1].mean_g, rows[1].mean_b) == \
        (50.0, 100.0, 150.0)
    assert rows[2].route == "undecodable" and rows[2].format == "webp"


# --------------------------------------------------- r10: EXIF + tags


def _tiff(entries, order="<", exif_entries=None, gps_entries=None):
    """Minimal TIFF with IFD0 ``entries`` = [(tag, type, count, value)];
    value is int (inline) or bytes (stored out-of-line)."""
    lt = order
    blobs = b""
    blob_at = []  # patched after layout
    n = len(entries) + (1 if exif_entries else 0) \
        + (1 if gps_entries else 0)
    ifd0_at = 8
    entries_end = ifd0_at + 2 + 12 * n + 4
    exif_at = entries_end
    exif_size = (2 + 12 * len(exif_entries) + 4) if exif_entries else 0
    gps_at = exif_at + exif_size
    gps_size = (2 + 12 * len(gps_entries) + 4) if gps_entries else 0
    data_at = gps_at + gps_size

    def pack_entries(ents, extra=()):
        nonlocal blobs
        out = struct.pack(lt + "H", len(ents) + len(extra))
        for tag, ftype, count, value in list(ents) + list(extra):
            out += struct.pack(lt + "HHI", tag, ftype, count)
            if isinstance(value, bytes):
                if len(value) <= 4:
                    out += value.ljust(4, b"\x00")
                else:
                    out += struct.pack(lt + "I", data_at + len(blobs))
                    blobs += value
            else:
                size = {1: 1, 3: 2, 4: 4}[ftype] * count
                fmt = {1: "B", 3: "H", 4: "I"}[ftype]
                raw = struct.pack(lt + fmt, value)
                out += raw.ljust(4, b"\x00")
        out += struct.pack(lt + "I", 0)  # next IFD
        return out

    extra = [(0x8769, 4, 1, exif_at)] if exif_entries else []
    if gps_entries:
        extra.append((0x8825, 4, 1, gps_at))
    ifd0 = pack_entries(entries, extra)
    exif = pack_entries(exif_entries) if exif_entries else b""
    gps = pack_entries(gps_entries) if gps_entries else b""
    hdr = (b"II" if lt == "<" else b"MM") + struct.pack(lt + "HI", 42, 8)
    return hdr + ifd0 + exif + gps + blobs


def _gps_dms(deg, mins, secs, lt="<", denom=100):
    """Three RATIONALs as the GPS IFD stores them (value bytes)."""
    out = b""
    for v in (deg, mins, secs):
        out += struct.pack(lt + "II", int(round(v * denom)), denom)
    return out


def _jpeg_with_app1(tiff: bytes) -> bytes:
    seg = b"Exif\x00\x00" + tiff
    return (b"\xff\xd8\xff\xe1" + struct.pack(">H", 2 + len(seg)) + seg
            + b"\xff\xd9")


def test_exif_orientation_dims_and_both_byte_orders():
    for order in ("<", ">"):
        tiff = _tiff(
            [(0x0112, 3, 1, 6), (0x010F, 2, 6, b"Nikon\x00"),
             (0x0110, 2, 12, b"D850 camera\x00"),
             (0x0132, 2, 20, b"2021:05:01 10:00:00\x00")],
            order=order,
            exif_entries=[(0xA002, 4, 1, 4032), (0xA003, 3, 1, 3024),
                          (0x9003, 2, 20, b"2020:01:02 03:04:05\x00")],
        )
        out = mediameta._parse_exif(_jpeg_with_app1(tiff))
        assert out["orientation"] == 6, order
        assert (out["exif_width"], out["exif_height"]) == (4032, 3024)
        assert out["make"] == "Nikon" and out["model"] == "D850 camera"
        # DateTimeOriginal (ExifIFD) beats the file-modification DateTime
        assert out["datetime"] == "2020:01:02 03:04:05"


def test_exif_absent_and_malformed(spark):
    import sys
    sys.path.insert(0, "tests")
    from test_jpeg import _encode_jpeg

    import numpy as np

    plain, *_ = _encode_jpeg(np.full((8, 8), 50, dtype=np.uint8))
    out = mediameta._parse_exif(plain)
    assert all(v is None for v in out.values())  # no APP1: NULLs, not error

    bad_magic = _tiff([(0x0112, 3, 1, 1)])
    bad_magic = bad_magic[:2] + struct.pack("<H", 41) + bad_magic[4:]
    with pytest.raises(ValueError, match="magic"):
        mediameta._parse_exif(_jpeg_with_app1(bad_magic))
    with pytest.raises(ValueError, match="truncated IFD"):
        mediameta._parse_exif(_jpeg_with_app1(_tiff([(0x0112, 3, 1, 1)])[:12]))

    from test_gif import PAL4, _gif
    from test_operators import _png

    blobs = spark.createDataFrame(
        [(1, bytearray(_jpeg_with_app1(_tiff([(0x0112, 3, 1, 8)])))),
         (2, bytearray(plain)),
         (3, bytearray(_png([[(1, 1, 1)]]))),
         (4, bytearray(_gif([[0, 1]], PAL4)))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.image_exif(
        blobs
    ).collect()}
    assert rows[1].orientation == 8 and rows[1].error is None
    assert rows[2].orientation is None and rows[2].error is None
    # PNG without eXIf: a valid container with no Exif -> NULLs (r10)
    assert rows[3].orientation is None and rows[3].error is None
    assert rows[4].error_kind == "unsupported"  # GIF has no Exif story


def _png_with_exif(tiff: bytes) -> bytes:
    import struct as _s
    import sys
    import zlib

    sys.path.insert(0, "tests")
    from test_operators import _png

    base = _png([[(5, 6, 7), (8, 9, 10)]])
    ihdr_end = 8 + 8 + 13 + 4  # sig + len/type + IHDR body + crc
    chunk = _s.pack(">I", len(tiff)) + b"eXIf" + tiff \
        + _s.pack(">I", zlib.crc32(b"eXIf" + tiff) & 0xFFFFFFFF)
    return base[:ihdr_end] + chunk + base[ihdr_end:]


def test_exif_png_and_webp_containers():
    """r10: the same TIFF walk reads PNG eXIf and WebP EXIF chunks."""
    tiff = _tiff([(0x0112, 3, 1, 3)], order="<",
                 exif_entries=[(0xA002, 3, 1, 640), (0xA003, 3, 1, 480)])
    out = mediameta._parse_exif(_png_with_exif(tiff))
    assert out["orientation"] == 3
    assert (out["exif_width"], out["exif_height"]) == (640, 480)

    # WebP: EXIF chunk after the image chunk, Exif\0\0 prefix variant
    vp8 = b"\x00" * 6 + struct.pack("<HH", 32 | 0x4000, 16) + b"\x00" * 8
    body = (b"WEBP" + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
            + b"EXIF" + struct.pack("<I", len(tiff) + 6)
            + b"Exif\x00\x00" + tiff)
    webp = b"RIFF" + struct.pack("<I", len(body)) + body
    out = mediameta._parse_exif(webp)
    assert out["orientation"] == 3 and out["exif_width"] == 640
    # a WebP without an EXIF chunk: NULLs, not an error
    plain_webp = _webp(b"VP8 ", vp8)
    assert mediameta._parse_exif(plain_webp) == mediameta._EXIF_NULLS


def _id3_frame(fid: bytes, text: str, encoding=3, major=4):
    enc_bytes = {0: "latin-1", 1: "utf-16", 3: "utf-8"}[encoding]
    body = bytes([encoding]) + text.encode(enc_bytes)
    n = len(body)
    if major == 4:
        size = struct.pack(
            ">I", ((n << 3) & 0x7F000000) | ((n << 2) & 0x7F0000)
            | ((n << 1) & 0x7F00) | (n & 0x7F)
        )
        size = bytes(((n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F))
    else:
        size = struct.pack(">I", n)
    return fid + size + b"\x00\x00" + body


def _id3(frames: bytes, major=4, padding=8):
    total = len(frames) + padding
    size = bytes(((total >> 21) & 0x7F, (total >> 14) & 0x7F,
                  (total >> 7) & 0x7F, total & 0x7F))
    return b"ID3" + bytes([major, 0, 0]) + size + frames \
        + b"\x00" * padding


def test_audio_tags_id3_both_versions_and_encodings():
    frames = (_id3_frame(b"TIT2", "Sunny Day", encoding=3)
              + _id3_frame(b"TPE1", "Ana", encoding=0)
              + _id3_frame(b"TALB", "Früh", encoding=1))
    out = mediameta._parse_audio_tags(_id3(frames, major=4))
    assert out == {"container": "id3", "title": "Sunny Day",
                   "artist": "Ana", "album": "Früh"}
    frames3 = (_id3_frame(b"TIT2", "Old School", encoding=0, major=3)
               + _id3_frame(b"TPE1", "Bo", encoding=0, major=3))
    out = mediameta._parse_audio_tags(_id3(frames3, major=3))
    assert out["title"] == "Old School" and out["artist"] == "Bo"
    assert out["album"] is None
    with pytest.raises(NotImplementedError, match="ID3v2.5"):
        mediameta._parse_audio_tags(_id3(frames3, major=5))
    # cut into the LAST frame's body (past its header): refuses loudly
    with pytest.raises(ValueError, match="truncated frame"):
        mediameta._parse_audio_tags(
            _id3(frames, major=4, padding=0)[:-2]
        )


def _flac_with_comments(comments: list[str]) -> bytes:
    import sys
    sys.path.insert(0, "tests")
    from test_flac import _streaminfo

    stream = bytearray(_streaminfo(8000, 1, 16, 4))
    stream[4] &= 0x7F  # STREAMINFO is no longer the last block
    body = struct.pack("<I", 4) + b"test"
    body += struct.pack("<I", len(comments))
    for c in comments:
        raw = c.encode("utf-8")
        body += struct.pack("<I", len(raw)) + raw
    stream += bytes([0x84]) + len(body).to_bytes(3, "big") + body
    return bytes(stream)


def test_audio_tags_flac_and_wav(spark):
    payload = _flac_with_comments(
        ["TITLE=Nocturne", "artist=Clara", "GENRE=piano"]
    )
    out = mediameta._parse_audio_tags(payload)
    assert out == {"container": "flac", "title": "Nocturne",
                   "artist": "Clara", "album": None}

    import sys
    sys.path.insert(0, "tests")
    from test_operators import _wav

    info = (b"INFO"
            + b"INAM" + struct.pack("<I", 5) + b"Intro\x00"[:5]
            + b"\x00"  # odd-length pad
            + b"IART" + struct.pack("<I", 4) + b"Mo\x00\x00")
    wav = _wav(8000, [(0,)] * 4, pre_data_chunk=(b"LIST", info))
    out = mediameta._parse_audio_tags(wav)
    assert out["container"] == "wav" and out["title"] == "Intro"
    assert out["artist"] == "Mo" and out["album"] is None

    blobs = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(wav)),
         (3, bytearray(b"OggS" + b"\x00" * 8))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.audio_tags(
        blobs
    ).collect()}
    assert rows[1].title == "Nocturne"
    assert rows[2].title == "Intro"
    assert rows[3].error_kind == "unsupported"


# ------------------------------------------------- late r10: OGG + AVI


def _ogg_page(body: bytes, granule=0, seq=0, header_type=2) -> bytes:
    """One Ogg page with ``body`` as a single segment run."""
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    return (b"OggS" + bytes([0, header_type])
            + struct.pack("<q", granule)
            + struct.pack("<III", 7, seq, 0)
            + bytes([len(segs)]) + bytes(segs) + body)


def test_ogg_vorbis_and_opus_probe():
    vorbis_id = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
                 + struct.pack("<I", 44100) + b"\x00" * 16)
    payload = _ogg_page(vorbis_id) \
        + _ogg_page(b"\x00" * 64, granule=88200, seq=1, header_type=4)
    out = mediameta._parse_audio_meta(payload)
    assert out["format"] == "ogg" and out["detail"] == "vorbis"
    assert out["sample_rate"] == 44100 and out["n_channels"] == 2
    assert out["duration_sec"] == pytest.approx(2.0)

    opus_id = (b"OpusHead" + bytes([1, 1])
               + struct.pack("<H", 312)  # pre-skip
               + struct.pack("<I", 16000) + b"\x00" * 4)
    payload = _ogg_page(opus_id) \
        + _ogg_page(b"\x00" * 32, granule=48000 + 312, seq=1,
                    header_type=4)
    out = mediameta._parse_audio_meta(payload)
    assert out["detail"] == "opus" and out["n_channels"] == 1
    assert out["sample_rate"] == 16000
    assert out["duration_sec"] == pytest.approx(1.0)  # 48 kHz ticks

    with pytest.raises(NotImplementedError, match="OGG stream"):
        mediameta._parse_audio_meta(_ogg_page(b"\x80theora" + b"\x00" * 16))
    with pytest.raises(ValueError, match="truncated first page"):
        mediameta._parse_audio_meta(b"OggS" + b"\x00" * 10)


def test_ogg_single_page_at_offset_zero():
    """A stream whose only (final) page sits at offset 0 must probe —
    the last-page scan used to stop at `at > 0` and miss it (r10
    ADVICE)."""
    vorbis_id = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([1])
                 + struct.pack("<I", 8000) + b"\x00" * 16)
    payload = _ogg_page(vorbis_id, granule=0, header_type=6)
    out = mediameta._parse_audio_meta(payload)
    assert out["format"] == "ogg" and out["detail"] == "vorbis"
    assert out["duration_sec"] == 0.0


def _avi(tracks=((b"vids", b"XVID"), (b"auds", b"mp3 ")), w=320, h=240,
         us_per_frame=40_000, total_frames=250, movi_chunks=None,
         rec_group=False):
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    avih = struct.pack("<IIII", us_per_frame, 0, 0, 0) \
        + struct.pack("<I", total_frames) + b"\x00" * 12 \
        + struct.pack("<II", w, h) + b"\x00" * 16
    strls = b"".join(
        chunk(b"LIST", b"strl" + chunk(
            b"strh", fcc + handler + b"\x00" * 48
        ))
        for fcc, handler in tracks
    )
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strls)
    if movi_chunks is None:
        movi_chunks = [(b"00dc", b"\x00" * 16)]
    inner = b"".join(chunk(cid, data) for cid, data in movi_chunks)
    if rec_group:
        inner = chunk(b"LIST", b"rec " + inner)
    movi = chunk(b"LIST", b"movi" + inner)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_metadata_walk(spark):
    out = mediameta._parse_avi(_avi())
    assert out["brand"] == "avi"
    assert out["duration_sec"] == pytest.approx(10.0)  # 250 x 40 ms
    assert (out["width"], out["height"]) == (320, 240)
    assert out["n_tracks"] == 2
    assert out["n_video_tracks"] == 1 and out["n_audio_tracks"] == 1
    assert out["codecs"] == "XVID,mp3"

    with pytest.raises(ValueError, match="no hdrl/avih"):
        mediameta._parse_avi(b"RIFF\x10\x00\x00\x00AVI " + b"\x00" * 12)
    with pytest.raises(ValueError, match="overruns"):
        mediameta._parse_avi(_avi()[:-6])

    vids = spark.createDataFrame(
        [(1, bytearray(_avi(tracks=((b"vids", b"H264"),), w=640,
                            h=360)))],
        "doc_id long, payload binary",
    )
    row = mediameta.video_meta(vids).collect()[0]
    assert row.brand == "avi" and row.codecs == "H264"
    assert (row.width, row.height) == (640, 360)


def _animated_gif(frame_rows_list, palette, delays_cs):
    """Multi-frame GIF: splice single-frame image sections together with
    Graphic Control Extensions carrying per-frame delays."""
    import sys
    sys.path.insert(0, "tests")
    from test_gif import _gif

    singles = [_gif(rows, palette) for rows in frame_rows_list]
    gct_len = 3 * max(2, 1 << (len(palette) - 1).bit_length())
    head = singles[0][: 13 + gct_len]
    out = bytearray(head)
    for single, delay in zip(singles, delays_cs):
        gce = b"\x21\xf9\x04\x00" + struct.pack("<H", delay) \
            + b"\x00\x00"
        out += gce + single[13 + gct_len : -1]  # image desc + data
    out += b"\x3b"
    return bytes(out)


def test_gif_video_meta_animated_and_static(spark):
    import sys
    sys.path.insert(0, "tests")
    from test_gif import PAL4, _gif

    anim = _animated_gif(
        [[[0, 1, 2]] * 2, [[1, 2, 3]] * 2, [[3, 0, 1]] * 2],
        PAL4, delays_cs=[10, 20, 30],
    )
    out = mediameta._parse_gif_meta(anim)
    assert out["brand"] == "gif89a"
    assert out["n_frames"] == 3
    assert out["duration_sec"] == pytest.approx(0.60)
    assert (out["width"], out["height"]) == (3, 2)

    static = _gif([[0, 1, 2, 3]] * 3, PAL4)
    out = mediameta._parse_gif_meta(static)
    assert out["n_frames"] == 1 and out["duration_sec"] == 0.0

    with pytest.raises(ValueError, match="truncated|unknown"):
        mediameta._parse_gif_meta(anim[:-10])

    # routed through video_meta: the animated-vs-static triage signal
    vids = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(static))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in mediameta.video_meta(vids).collect()}
    assert rows[1].n_frames == 3 and rows[1].duration_sec == \
        pytest.approx(0.60)
    assert rows[2].n_frames == 1 and rows[2].codecs == "gif"


def _id3v22(frames: bytes, padding=6):
    total = len(frames) + padding
    size = bytes(((total >> 21) & 0x7F, (total >> 14) & 0x7F,
                  (total >> 7) & 0x7F, total & 0x7F))
    return b"ID3" + bytes([2, 0, 0]) + size + frames + b"\x00" * padding


def test_audio_tags_id3v22():
    def frame22(fid, text, encoding=0):
        body = bytes([encoding]) + text.encode(
            "latin-1" if encoding == 0 else "utf-16"
        )
        return fid + len(body).to_bytes(3, "big") + body

    payload = _id3v22(frame22(b"TT2", "Vintage") + frame22(b"TP1", "Duo")
                      + frame22(b"TAL", "Sélection", encoding=1))
    out = mediameta._parse_audio_tags(payload)
    assert out == {"container": "id3", "title": "Vintage",
                   "artist": "Duo", "album": "Sélection"}
    with pytest.raises(ValueError, match="truncated frame"):
        mediameta._parse_audio_tags(
            _id3v22(frame22(b"TT2", "Cut"), padding=0)[:-2]
        )


def test_error_text_tags_bug_shaped_classes():
    """Backstop classes (KeyError/IndexError/struct.error) are tagged
    with their class name in quarantine output so decoder bugs stay
    greppable; deliberate refusals pass through verbatim (r10 ADVICE)."""
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        _error_text,
    )
    assert _error_text(ValueError("malformed X: y")) == "malformed X: y"
    assert _error_text(NotImplementedError("codec Z")) == "codec Z"
    assert _error_text(KeyError(7)) == "KeyError: 7"
    assert _error_text(IndexError("list index out of range")) == \
        "IndexError: list index out of range"
    assert _error_text(struct.error("unpack requires more")) == \
        "struct.error: unpack requires more"


# ------------------------------------------------- keyframe extraction

def _mjpeg_avi(img=None, *, handler=b"MJPG", rec_group=False,
               extra_first=False, seed=31):
    import sys
    sys.path.insert(0, "tests")
    from test_jpeg import _encode_jpeg, _rng_image
    if img is None:
        img = _rng_image(16, 16, seed, grey=True)
    jpg = _encode_jpeg(img)[0]
    chunks = [(b"01wb", b"\x00" * 8), (b"00dc", jpg),
              (b"00dc", b"\xff\xd8junk")]
    if extra_first:
        chunks.insert(0, (b"99dc", b"\xff\xd8wrongstream"))
    return _avi(tracks=((b"vids", handler), (b"auds", b"mp3 ")),
                movi_chunks=chunks, rec_group=rec_group), jpg


def test_extract_keyframe_avi_mjpeg():
    payload, jpg = _mjpeg_avi()
    container, codec, blob = mediameta.extract_keyframe(payload)
    assert (container, codec) == ("avi", "mjpeg")
    assert blob == jpg
    # rec -grouped movi and decoy chunks of other streams are handled
    payload, jpg = _mjpeg_avi(rec_group=True, extra_first=True)
    assert mediameta.extract_keyframe(payload)[2] == jpg
    # 'JPEG' handler fourcc is the same codec
    payload, jpg = _mjpeg_avi(handler=b"JPEG")
    assert mediameta.extract_keyframe(payload)[1] == "mjpeg"


def test_extract_keyframe_refusals():
    # non-MJPEG codec: unsupported, not corrupt
    with pytest.raises(NotImplementedError, match="codec 'xvid'"):
        mediameta.extract_keyframe(_avi())
    # audio-only AVI
    with pytest.raises(ValueError, match="no video stream"):
        mediameta.extract_keyframe(_avi(tracks=((b"auds", b"mp3 "),)))
    # video stream present but movi holds no frame chunk for it
    with pytest.raises(ValueError, match="no frame chunk"):
        mediameta.extract_keyframe(_avi(
            tracks=((b"vids", b"MJPG"),),
            movi_chunks=[(b"01wb", b"\x00" * 4)]))
    # frame chunk that isn't JPEG
    with pytest.raises(ValueError, match="lacks JPEG SOI"):
        mediameta.extract_keyframe(_avi(
            tracks=((b"vids", b"MJPG"),),
            movi_chunks=[(b"00dc", b"\x00" * 12)]))
    # AVI1-style frame omitting DHT: unsupported (implied Annex K)
    payload, jpg = _mjpeg_avi()
    stripped = _strip_dht(jpg)
    no_dht = _avi(tracks=((b"vids", b"MJPG"),),
                  movi_chunks=[(b"00dc", stripped)])
    with pytest.raises(NotImplementedError, match="omits Huffman"):
        mediameta.extract_keyframe(no_dht)
    # MP4 / MKV essence
    with pytest.raises(NotImplementedError, match="MP4 essence"):
        mediameta.extract_keyframe(_mp4())
    with pytest.raises(NotImplementedError, match="MKV/WebM essence"):
        mediameta.extract_keyframe(b"\x1a\x45\xdf\xa3" + b"\x00" * 8)
    with pytest.raises(ValueError, match="unknown container"):
        mediameta.extract_keyframe(b"nonsense bytes here")


def _strip_dht(jpg: bytes) -> bytes:
    """Remove every DHT segment from a JPEG marker stream."""
    out = bytearray(jpg[:2])
    pos = 2
    while pos < len(jpg):
        marker = jpg[pos + 1]
        if marker == 0xDA:
            out += jpg[pos:]
            break
        (seglen,) = struct.unpack_from(">H", jpg, pos + 2)
        if marker != 0xC4:
            out += jpg[pos : pos + 2 + seglen]
        pos += 2 + seglen
    return bytes(out)


def test_video_keyframe_features_operator(spark):
    import sys
    sys.path.insert(0, "tests")
    from test_jpeg import _rng_image

    img = _rng_image(16, 16, 31, grey=True)
    payload, jpg = _mjpeg_avi(img)
    from test_gif import PAL4
    gif_payload = _animated_gif(
        [[[0, 1, 2]] * 2, [[1, 2, 3]] * 2], PAL4, delays_cs=[10, 20])
    rows = [
        (1, bytearray(payload)),
        (2, bytearray(gif_payload)),
        (3, bytearray(_avi())),            # xvid -> unsupported
        (4, bytearray(b"garbage")),        # -> corrupt
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mediameta.video_keyframe_features(
        df).collect()}
    r1 = out[1]
    assert (r1["container"], r1["codec"], r1["format"]) == \
        ("avi", "mjpeg", "jpeg")
    assert (r1["width"], r1["height"]) == (16, 16)
    assert r1["frame_bytes"] == len(jpg)
    from youtube_api_data_etl_automation_spark.operators import jpeg
    want = jpeg.decode_baseline_jpeg(jpg)
    import numpy as np
    assert r1["mean_r"] == pytest.approx(
        float(np.asarray(want, dtype=np.float64).reshape(-1, 3)[:, 0]
              .mean()))
    r2 = out[2]
    assert (r2["container"], r2["codec"], r2["format"]) == \
        ("gif", "gif", "gif")
    assert out[3]["error_kind"] == "unsupported"
    assert "needs a codec library" in out[3]["error"]
    assert out[4]["error_kind"] == "corrupt"
    assert out[4]["error"] == "unknown container for keyframe extraction"
    assert out[4]["container"] is None and out[4]["mean_r"] is None


def test_mp4_n_frames_from_stsz():
    payload = _mp4(
        timescale=600, duration=1500,
        tracks=(
            _trak(b"vide", b"avc1", w=320, h=240, n_samples=75),
            _trak(b"soun", b"mp4a", n_samples=1200),
        ),
    )
    out = mediameta._parse_mp4(payload)
    # the FIRST video trak's stsz sample count, not the audio one
    assert out["n_frames"] == 75
    # no stsz -> NULL, as before
    out = mediameta._parse_mp4(_mp4(tracks=(
        _trak(b"vide", b"avc1", w=16, h=16),)))
    assert out["n_frames"] is None


def _apng(frames=3, delays=((10, 100), (20, 100), (5, 0))):
    """Minimal APNG: IHDR + acTL + fcTL per frame + IEND (no image
    data — the metadata walk never touches pixels)."""
    import zlib as _z

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body \
            + struct.pack(">I", _z.crc32(body))

    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 4, 8, 0, 0, 0, 0))
    actl = chunk(b"acTL", struct.pack(">II", frames, 0))
    fctls = b"".join(
        chunk(b"fcTL", struct.pack(">IIIII", i, 7, 4, 0, 0)
              + struct.pack(">HHBB", num, den, 0, 0))
        for i, (num, den) in enumerate(delays)
    )
    return b"\x89PNG\r\n\x1a\n" + ihdr + actl + fctls \
        + chunk(b"IEND", b"")


def test_apng_and_static_png_video_meta(spark):
    out = mediameta._parse_apng_meta(_apng())
    assert out["brand"] == "apng" and out["n_frames"] == 3
    # 10/100 + 20/100 + 5/(0->100 per spec) = 0.35 s
    assert out["duration_sec"] == pytest.approx(0.35)
    assert (out["width"], out["height"]) == (7, 4)

    import sys
    sys.path.insert(0, "tests")
    from test_operators import _png

    static = _png([[(1, 2, 3)] * 5] * 4)
    out = mediameta._parse_apng_meta(static)
    assert out["brand"] == "png" and out["n_frames"] == 1
    assert out["duration_sec"] == 0.0

    # cut INSIDE the last fcTL chunk (a lost trailing IEND alone is
    # tolerated, like the other lenient probes)
    with pytest.raises(ValueError, match="overruns|no IHDR"):
        mediameta._parse_apng_meta(_apng()[:-30])
    # the video_meta operator routes PNG payloads here
    df = spark.createDataFrame([(1, bytearray(_apng()))],
                               "doc_id long, payload binary")
    r = mediameta.video_meta(df).collect()[0]
    assert r["brand"] == "apng" and r["n_frames"] == 3


def test_exif_gps_extraction(spark):
    """GPS IFD (tag 0x8825): DMS rationals signed by the N/S/E/W refs;
    zero-denominator rationals void the coordinate."""
    for order in ("<", ">"):
        tiff = _tiff(
            [(0x0112, 3, 1, 1)],
            order=order,
            gps_entries=[
                (1, 2, 2, b"S\x00"),
                (2, 5, 3, _gps_dms(37, 48, 30.25, lt=order)),
                (3, 2, 2, b"W\x00"),
                (4, 5, 3, _gps_dms(122, 25, 9.5, lt=order)),
            ],
        )
        out = mediameta._parse_exif(_jpeg_with_app1(tiff))
        assert abs(out["gps_lat"] - -(37 + 48 / 60 + 30.25 / 3600)) < 1e-9
        assert abs(out["gps_lon"] - -(122 + 25 / 60 + 9.5 / 3600)) < 1e-9
    # zero denominator -> NULL coordinate, no crash
    broken = _tiff(
        [(0x0112, 3, 1, 1)],
        gps_entries=[(1, 2, 2, b"N\x00"),
                     (2, 5, 3, struct.pack("<II", 1, 0) * 3)])
    out = mediameta._parse_exif(_jpeg_with_app1(broken))
    assert out["gps_lat"] is None
    # no GPS IFD -> NULLs (the common case)
    out = mediameta._parse_exif(_jpeg_with_app1(_tiff([(0x0112, 3, 1, 1)])))
    assert out["gps_lat"] is None and out["gps_lon"] is None


def test_strip_exif_jpeg_png_webp(spark):
    """The privacy scrub: EXIF gone, pixels identical."""
    import numpy as np

    from tests.test_operators import _png
    from tests.test_vp8l import _encode_vp8l, _rgba
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        _decode_rgb,
    )

    gps_tiff = _tiff(
        [(0x0112, 3, 1, 1), (0x010F, 2, 6, b"Leaky\x00")],
        gps_entries=[(1, 2, 2, b"N\x00"),
                     (2, 5, 3, _gps_dms(10, 20, 30))])
    # JPEG: a real decodable image with an injected APP1
    from tests.test_jpeg import _encode_jpeg, _rng_image
    base = _encode_jpeg(_rng_image(16, 16, seed=91, grey=True))[0]
    seg = b"Exif\x00\x00" + gps_tiff
    jpeg = base[:2] + b"\xff\xe1" + struct.pack(">H", 2 + len(seg)) \
        + seg + base[2:]
    # PNG with eXIf chunk
    png = _png_with_exif(gps_tiff)
    # WebP (VP8L) with EXIF chunk + VP8X wrapper
    vp8l = _encode_vp8l(_rgba(4, 3, seed=7))
    vp8l_body = vp8l[12:]  # chunks after RIFF....WEBP
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes([0x08]) \
        + b"\x00" * 3 + (3).to_bytes(3, "little") + (2).to_bytes(3, "little")
    exif_chunk = b"EXIF" + struct.pack("<I", len(gps_tiff) + 6) \
        + b"Exif\x00\x00" + gps_tiff
    if len(exif_chunk) % 2:
        exif_chunk += b"\x00"
    webp_body = b"WEBP" + vp8x + exif_chunk + vp8l_body
    webp = b"RIFF" + struct.pack("<I", len(webp_body)) + webp_body

    df = spark.createDataFrame(
        [(1, bytearray(jpeg)), (2, bytearray(png)), (3, bytearray(webp)),
         (4, bytearray(b"\x00junk"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in
            mediameta.strip_exif(df).collect()}
    for d, fmt, original in ((1, "jpeg", jpeg), (2, "png", png),
                             (3, "webp", webp)):
        row = rows[d]
        assert row["format"] == fmt and row["error"] is None
        cleaned = bytes(row["payload"])
        assert row["removed_bytes"] == len(original) - len(cleaned) > 0
        # the metadata is gone...
        out = mediameta._parse_exif(cleaned)
        assert out["gps_lat"] is None and out["make"] is None
        # ...and the pixels are not (webp keeps its VP8X wrapper, which
        # _decode_rgb doesn't decode — compare the lossless chunk)
        if fmt != "webp":
            _, before = _decode_rgb(original)
            _, after = _decode_rgb(cleaned)
            assert np.array_equal(before, after)
        else:
            assert cleaned.endswith(vp8l_body)
            vp8x_at = cleaned.index(b"VP8X")
            assert cleaned[vp8x_at + 8] & 0x08 == 0  # flag cleared
    assert rows[4]["error_kind"] == "unsupported"


def test_strip_exif_drops_png_and_webp_xmp(spark):
    """r12 (ADVICE): XMP can carry GPS/creator data too — the scrub
    must drop the PNG iTXt 'XML:com.adobe.xmp' chunk and the WebP
    'XMP ' chunk (clearing the VP8X 0x04 flag), while an unrelated
    iTXt chunk survives."""
    import struct as _s
    import zlib

    from tests.test_operators import _png
    from tests.test_vp8l import _encode_vp8l, _rgba

    def png_chunk(ctype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", len(body)) + ctype + body \
            + _s.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)

    xmp_text = b"<x:xmpmeta>exif:GPSLatitude=37,48.5N</x:xmpmeta>"
    xmp_body = b"XML:com.adobe.xmp\x00\x00\x00\x00\x00" + xmp_text
    keep_body = b"Comment\x00\x00\x00\x00\x00just a caption"
    base = _png([[(5, 6, 7), (8, 9, 10)]])
    ihdr_end = 8 + 8 + 13 + 4
    png = base[:ihdr_end] + png_chunk(b"iTXt", xmp_body) \
        + png_chunk(b"iTXt", keep_body) + base[ihdr_end:]

    vp8l = _encode_vp8l(_rgba(4, 3, seed=11))
    vp8l_body = vp8l[12:]
    vp8x = b"VP8X" + _s.pack("<I", 10) + bytes([0x04]) + b"\x00" * 3 \
        + (3).to_bytes(3, "little") + (2).to_bytes(3, "little")
    xmp_chunk = b"XMP " + _s.pack("<I", len(xmp_text)) + xmp_text
    if len(xmp_chunk) % 2:
        xmp_chunk += b"\x00"
    webp_body = b"WEBP" + vp8x + xmp_chunk + vp8l_body
    webp = b"RIFF" + _s.pack("<I", len(webp_body)) + webp_body

    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(webp))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in
            mediameta.strip_exif(df).collect()}

    cleaned_png = bytes(rows[1]["payload"])
    assert rows[1]["removed_bytes"] > 0
    assert xmp_text not in cleaned_png
    assert b"XML:com.adobe.xmp" not in cleaned_png
    assert keep_body in cleaned_png  # unrelated iTXt survives

    cleaned_webp = bytes(rows[2]["payload"])
    assert rows[2]["removed_bytes"] > 0
    assert xmp_text not in cleaned_webp
    assert cleaned_webp.endswith(vp8l_body)
    vp8x_at = cleaned_webp.index(b"VP8X")
    assert cleaned_webp[vp8x_at + 8] & 0x0C == 0
    # RIFF size field stays consistent after the drop
    (riff_len,) = _s.unpack_from("<I", cleaned_webp, 4)
    assert riff_len == len(cleaned_webp) - 8


def test_strip_exif_passthrough_formats(spark):
    from tests.test_operators import _bmp24

    bmp = _bmp24([[(1, 2, 3)]])
    row = mediameta.strip_exif(
        spark.createDataFrame([(1, bytearray(bmp))],
                              "doc_id long, payload binary")).collect()[0]
    assert row["format"] == "bmp" and row["removed_bytes"] == 0
    assert bytes(row["payload"]) == bmp


def test_sniff_format_routes_all_families(spark):
    """r12: the Column-math magic sniffer labels every covered family
    and leaves junk/NULL as unknown."""
    import sys
    sys.path.insert(0, "tests")
    from test_operators import _bmp24, _png, _wav

    samples = {
        "png": bytes(_png([[(1, 2, 3)]])),
        "jpeg": b"\xff\xd8\xff\xe0rest",
        "gif": b"GIF89a" + b"\x00" * 8,
        "webp": b"RIFF\x10\x00\x00\x00WEBPVP8L",
        "tiff": b"II*\x00" + b"\x00" * 8,
        "jbig2": b"\x97JB2\r\n\x1a\n\x03",
        "bmp": bytes(_bmp24([[(1, 2, 3)]])),
        "pnm": b"P6\n1 1\n255\n\x01\x02\x03",
        "wav": bytes(_wav(8000, [(1,)])),
        "flac": b"fLaC" + b"\x00" * 8,
        "mp3": b"\xff\xfb\x90\x00" + b"\x00" * 4,
        "ogg": b"OggS" + b"\x00" * 8,
        "mp4": b"\x00\x00\x00\x18ftypisom" + b"\x00" * 4,
        "mkv": b"\x1a\x45\xdf\xa3" + b"\x00" * 4,
        "avi": b"RIFF\x10\x00\x00\x00AVI LIST",
        "gzip": b"\x1f\x8b\x08\x00" + b"\x00" * 4,
        "zip": b"PK\x03\x04" + b"\x00" * 8,
        "tar": b"\x00" * 257 + b"ustar" + b"\x00" * 20,
        "warc": b"WARC/1.0\r\n",
        "pdf": b"%PDF-1.4\n",
        "rtf": b"{\\rtf1\\ansi body}",
    }
    family_want = {"png": "image", "jpeg": "image", "gif": "image",
                   "webp": "image", "tiff": "image", "jbig2": "image",
                   "bmp": "image",
                   "pnm": "image", "wav": "audio", "flac": "audio",
                   "mp3": "audio", "ogg": "audio", "mp4": "video",
                   "mkv": "video", "avi": "video", "gzip": "archive",
                   "zip": "archive", "tar": "archive",
                   "warc": "archive", "pdf": "document",
                   "rtf": "document"}
    rows = [(i, bytearray(v)) for i, v in enumerate(samples.values())]
    rows += [(900, bytearray(b"plain text here")), (901, None),
             (902, bytearray(b""))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: (r["sniff_family"], r["sniff_format"])
           for r in mediameta.sniff_format(df).collect()}
    for i, name in enumerate(samples):
        assert got[i] == (family_want[name], name), name
    for j in (900, 901, 902):
        assert got[j] == ("unknown", None), j
    # pure Column math: no Python eval, no shuffle
    plan = mediameta.sniff_format(df)._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_sniff_tar_with_misleading_member_name(spark):
    """r12 review fix: a tar whose first member is named 'BMfile.bin'
    starts with the BMP magic at offset 0 — the offset-257 ustar check
    must win."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for name in ("BMfile.bin", "P6image.ppm", "ID3notes.txt"):
            ti = tarfile.TarInfo(name)
            data = b"payload"
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
    tars = [bytes(buf.getvalue())]
    # three rotations so each misleading name leads once
    for lead in ("P6image.ppm", "ID3notes.txt"):
        b2 = io.BytesIO()
        with tarfile.open(fileobj=b2, mode="w",
                          format=tarfile.USTAR_FORMAT) as tf:
            ti = tarfile.TarInfo(lead)
            ti.size = 2
            tf.addfile(ti, io.BytesIO(b"xy"))
        tars.append(bytes(b2.getvalue()))
    df = spark.createDataFrame(
        [(i, bytearray(t)) for i, t in enumerate(tars)],
        "doc_id long, payload binary")
    rows = mediameta.sniff_format(df).collect()
    assert all(r["sniff_format"] == "tar" for r in rows)
    assert all(r["sniff_family"] == "archive" for r in rows)
