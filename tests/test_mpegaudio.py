"""MPEG-1 Layer I subband decoder tests (operators/mpegaudio.py).

Independent encoder built from ISO 11172-3 §2.4.2 structure: header
assembly, optional CRC-16 over header bytes 2-3 + allocation bits,
allocation / scalefactor / 12x32 sample layout, slot padding to the
bitrate-derived frame length. The quantizer inverts the decoder's
requantization formula independently (encode: compress by
(2^nb-1)/2^nb, subtract the 2^(1-nb) offset, round, clamp to the
2^nb - 1 valid codes, re-invert the sign bit).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import (
    mpegaudio,
    multimodal,
)

_SF = [2.0 * 2.0 ** (-i / 3.0) for i in range(63)]


class _BW:
    def __init__(self):
        self.bits = []

    def put(self, v: int, n: int):
        self.bits.extend((v >> (n - 1 - i)) & 1 for i in range(n))

    def to_bytes(self) -> bytes:
        out = bytearray()
        acc = 0
        for i, b in enumerate(self.bits):
            acc = (acc << 1) | b
            if i % 8 == 7:
                out.append(acc)
                acc = 0
        if len(self.bits) % 8:
            out.append(acc << (8 - len(self.bits) % 8))
        return bytes(out)


def _crc16(bits):
    crc = 0xFFFF
    for b in bits:
        hi = (crc >> 15) & 1
        crc = (crc << 1) & 0xFFFF
        if hi ^ b:
            crc ^= 0x8005
    return crc


def _quantize(x: float, sf: float, nb: int) -> int:
    """Nearest valid Layer I code for sample x under scalefactor sf."""
    half = 1 << (nb - 1)
    s3 = (x / sf) * ((1 << nb) - 1) / (1 << nb) - 2.0 ** (1 - nb)
    c = round(s3 * half)
    c = max(-half, min(half - 2, c))
    return (c & ((1 << nb) - 1)) ^ half


def _pick_sf(maxabs: float) -> int:
    """Largest index (smallest scalefactor) that still covers maxabs."""
    for idx in range(62, -1, -1):
        if maxabs <= _SF[idx] * 0.95:
            return idx
    return 0


def _frame_l1(groups, *, rate=32000, bitrate=448, alloc_bands,
              mode=None, mode_ext=0, protected=False, padding=0,
              sf_override=None, code_override=None, version=1):
    """One Layer I frame from ``groups`` shaped (12, nch, 32)."""
    groups = np.asarray(groups, dtype=np.float64)
    _, nch, _ = groups.shape
    if mode is None:
        mode = 3 if nch == 1 else 0
    bound = (mode_ext + 1) * 4 if mode == 1 else 32
    if version == 2:
        rate_idx = {22050: 0, 24000: 1, 16000: 2}[rate]
        br_idx = mpegaudio._L1_LSF_BITRATES.index(bitrate) + 1
        ver_bits = 2
    else:
        rate_idx = {44100: 0, 48000: 1, 32000: 2}[rate]
        br_idx = mpegaudio._L1_BITRATES.index(bitrate) + 1
        ver_bits = 3

    b2 = 0xE0 | (ver_bits << 3) | (3 << 1) | (0 if protected else 1)
    b3 = (br_idx << 4) | (rate_idx << 2) | (padding << 1)
    b4 = (mode << 6) | (mode_ext << 4)
    header = bytes([0xFF, b2, b3, b4])

    # scalefactor indices per channel/band
    sf_idx = [[0] * 32 for _ in range(nch)]
    for ch in range(nch):
        for sb in range(32):
            if alloc_bands[sb]:
                sf_idx[ch][sb] = _pick_sf(float(np.abs(
                    groups[:, ch, sb]).max()))
    if sf_override:
        for (ch, sb), idx in sf_override.items():
            sf_idx[ch][sb] = idx

    alloc_bw = _BW()
    for sb in range(bound):
        for _ch in range(nch):
            alloc_bw.put(alloc_bands[sb], 4)
    for sb in range(bound, 32):
        alloc_bw.put(alloc_bands[sb], 4)

    body = _BW()
    body.bits.extend(alloc_bw.bits)
    for sb in range(32):
        for ch in range(nch):
            if alloc_bands[sb]:
                body.put(sf_idx[ch][sb], 6)
    for s in range(12):
        for sb in range(32):
            a = alloc_bands[sb]
            if not a:
                continue
            nb = a + 1
            if sb < bound:
                for ch in range(nch):
                    code = _quantize(float(groups[s, ch, sb]),
                                     _SF[sf_idx[ch][sb]], nb)
                    body.put(code, nb)
            else:
                if code_override and (s, sb) in code_override:
                    code = code_override[(s, sb)]
                else:
                    code = _quantize(float(groups[s, 0, sb]),
                                     _SF[sf_idx[0][sb]], nb)
                body.put(code, nb)

    slots = 12 * bitrate * 1000 // rate + padding
    frame_len = slots * 4
    parts = [header]
    if protected:
        crc_bits = []
        for byte in header[2:4]:
            crc_bits.extend((byte >> (7 - i)) & 1 for i in range(8))
        crc_bits.extend(alloc_bw.bits)
        parts.append(_crc16(crc_bits).to_bytes(2, "big"))
    payload_bits = body.to_bytes()
    parts.append(payload_bits)
    raw = b"".join(parts)
    assert len(raw) <= frame_len, (
        f"frame body {len(raw)} exceeds {frame_len} bytes — lower the "
        "allocations or raise the bitrate"
    )
    return raw + b"\x00" * (frame_len - len(raw)), sf_idx


def _sine_groups(n_groups, nch, alloc_bands, seed=0):
    rng = np.random.default_rng(seed)
    g = np.zeros((n_groups, nch, 32))
    for sb in range(32):
        if alloc_bands[sb]:
            amp = 0.5 / (1 + sb % 5)
            for ch in range(nch):
                phase = rng.uniform(0, math.tau)
                g[:, ch, sb] = amp * np.sin(
                    np.arange(n_groups) / (2.0 + sb / 7.0) + phase)
    return g


_ALLOC_MIX = [8, 8, 7, 7, 6, 6, 5, 5, 4, 4, 3, 3, 2, 2, 1, 1,
              3, 0, 2, 0, 1, 0, 2, 0, 1, 1, 0, 0, 1, 0, 0, 1]


def test_requantize_exact_values():
    # hand-computed from s'' = 2^nb/(2^nb-1) * (s''' + 2^(1-nb)):
    # nb=2, code 0 -> c'=-2 -> s'''=-1 -> 4/3*(-1+0.5) = -2/3
    assert mpegaudio._requantize(0, 2, 1.0) == pytest.approx(-2 / 3)
    # nb=2, code 2 -> c'=0 -> s'''=0 -> 4/3*(0.5) = 2/3
    assert mpegaudio._requantize(2, 2, 1.0) == pytest.approx(2 / 3)
    # nb=2, code 1 -> c'=-1 -> s'''=-0.5 -> 4/3*0 = 0 (midtread zero)
    assert mpegaudio._requantize(1, 2, 1.0) == 0.0
    # nb=3, code 5 -> c'=1 -> s'''=0.25 -> 8/7*(0.25+0.25) = 4/7
    assert mpegaudio._requantize(5, 3, 1.0) == pytest.approx(4 / 7)
    # scalefactor scales linearly
    assert mpegaudio._requantize(5, 3, 0.5) == pytest.approx(2 / 7)
    # symmetric range at the extreme used codes
    lo = mpegaudio._requantize(0, 4, 1.0)
    hi = mpegaudio._requantize(0b1110, 4, 1.0)
    assert lo == pytest.approx(-hi) and hi == pytest.approx(14 / 15)


def test_roundtrip_mono():
    g = _sine_groups(12, 1, _ALLOC_MIX, seed=1)
    payload, sf_idx = _frame_l1(g, alloc_bands=_ALLOC_MIX)
    rate, out = mpegaudio.decode_layer1(payload)
    assert rate == 32000 and out.shape == (12, 1, 32)
    for sb in range(32):
        a = _ALLOC_MIX[sb]
        if not a:
            assert (out[:, 0, sb] == 0).all()
            continue
        step = _SF[sf_idx[0][sb]] * 2.0 ** (1 - (a + 1)) \
            * (1 << (a + 1)) / ((1 << (a + 1)) - 1)
        err = np.abs(out[:, 0, sb] - g[:, 0, sb]).max()
        assert err <= step * 0.5001 + 1e-12, (sb, err, step)


def test_roundtrip_stereo_multiframe_and_padding():
    g = _sine_groups(36, 2, _ALLOC_MIX, seed=2)
    frames = []
    for i in range(3):
        payload, _ = _frame_l1(g[i * 12 : (i + 1) * 12],
                               alloc_bands=_ALLOC_MIX,
                               padding=1 if i == 1 else 0)
        frames.append(payload)
    rate, out = mpegaudio.decode_layer1(b"".join(frames))
    assert out.shape == (36, 2, 32)
    mask = np.array([a > 0 for a in _ALLOC_MIX])
    got = out[:, :, mask]
    want = g[:, :, mask]
    assert np.abs(got - want).max() < 0.25  # coarse 2-bit bands dominate
    fine = [sb for sb in range(8) if _ALLOC_MIX[sb] >= 6]
    assert np.abs(out[:, :, fine] - g[:, :, fine]).max() < 0.01


def test_intensity_joint_per_channel_scalefactors():
    """mode 1: one shared code stream above the bound, but per-channel
    scalefactors — the decoder output ratio equals the sf ratio."""
    alloc = [0] * 32
    alloc[8] = 7  # shared band (bound=4 at mode_ext=0)
    g = np.zeros((12, 2, 32))
    g[:, 0, 8] = 0.4 * np.sin(np.arange(12) / 2.0)
    g[:, 1, 8] = g[:, 0, 8]
    payload, _ = _frame_l1(
        g, alloc_bands=alloc, mode=1, mode_ext=0,
        sf_override={(0, 8): 4, (1, 8): 10},
    )
    rate, out = mpegaudio.decode_layer1(payload)
    nz = np.abs(out[:, 0, 8]) > 1e-9
    assert nz.any()
    ratio = out[nz, 1, 8] / out[nz, 0, 8]
    assert ratio == pytest.approx(_SF[10] / _SF[4])


def test_crc_protected_and_mismatch():
    g = _sine_groups(12, 1, _ALLOC_MIX, seed=3)
    payload, _ = _frame_l1(g, alloc_bands=_ALLOC_MIX, protected=True)
    rate, out = mpegaudio.decode_layer1(payload)
    assert out.shape == (12, 1, 32)
    bad = bytearray(payload)
    bad[7] ^= 0x10  # an allocation bit inside the protected region
    with pytest.raises(ValueError, match="CRC-16"):
        mpegaudio.decode_layer1(bytes(bad))


def test_id3v2_skip_and_trailing_id3v1():
    g = _sine_groups(12, 1, _ALLOC_MIX, seed=4)
    frame, _ = _frame_l1(g, alloc_bands=_ALLOC_MIX)
    id3v2 = b"ID3\x03\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    id3v1 = b"TAG" + b"\x00" * 125
    rate, out = mpegaudio.decode_layer1(id3v2 + frame + id3v1)
    assert out.shape == (12, 1, 32)


def test_refusals(monkeypatch):
    g = _sine_groups(12, 1, _ALLOC_MIX, seed=5)
    good, _ = _frame_l1(g, alloc_bands=_ALLOC_MIX)
    # Layer III / II / reserved
    for layer_code, match in ((1, "Layer III"), (2, "Layer II")):
        hdr = bytearray(good[:4])
        hdr[1] = 0xE0 | (3 << 3) | (layer_code << 1) | 1
        with pytest.raises(NotImplementedError, match=match):
            mpegaudio.decode_layer1(bytes(hdr) + good[4:])
    hdr = bytearray(good[:4])
    hdr[1] = 0xE0 | (3 << 3) | (0 << 1) | 1
    with pytest.raises(ValueError, match="reserved layer"):
        mpegaudio.decode_layer1(bytes(hdr) + good[4:])
    # MPEG-2.5 version bits (00) — Layer I/II undefined there (r13:
    # MPEG-2 LSF itself now decodes, see the dedicated LSF tests)
    hdr = bytearray(good)
    hdr[1] = 0xE0 | (0 << 3) | (3 << 1) | 1
    with pytest.raises(NotImplementedError, match="2.5"):
        mpegaudio.decode_layer1(bytes(hdr))
    # free format
    hdr = bytearray(good)
    hdr[2] = hdr[2] & 0x0F
    with pytest.raises(NotImplementedError, match="free-format"):
        mpegaudio.decode_layer1(bytes(hdr))
    # forbidden allocation 15: craft first alloc nibble = 1111
    hdr = bytearray(good)
    hdr[4] |= 0xF0
    with pytest.raises(ValueError, match="allocation 15"):
        mpegaudio.decode_layer1(bytes(hdr))
    # truncation mid-frame
    with pytest.raises(ValueError, match="truncated frame|exhausted"):
        mpegaudio.decode_layer1(good[:-40])
    with pytest.raises(ValueError, match="no frame header|frame sync"):
        mpegaudio.decode_layer1(b"\x00\x11\x22\x33")
    monkeypatch.setattr(mpegaudio, "MPEG_SAMPLE_BUDGET", 100)
    with pytest.raises(NotImplementedError, match="sample budget"):
        mpegaudio.decode_layer1(good)


def test_forbidden_scalefactor():
    alloc = [2] + [0] * 31
    g = np.zeros((12, 1, 32))
    payload, _ = _frame_l1(g, alloc_bands=alloc,
                           sf_override={(0, 0): 62})
    # patch the 6 scalefactor bits (right after 32 alloc nibbles =
    # 128 bits, i.e. bytes 20..20): set idx 63
    bad = bytearray(payload)
    bad[20] |= 0xFC
    with pytest.raises(ValueError, match="scalefactor 63"):
        mpegaudio.decode_layer1(bytes(bad))


def test_audio_subband_features_operator(spark):
    g = _sine_groups(24, 2, _ALLOC_MIX, seed=6)
    f1, _ = _frame_l1(g[:12], alloc_bands=_ALLOC_MIX)
    f2, _ = _frame_l1(g[12:], alloc_bands=_ALLOC_MIX)
    payload = f1 + f2
    layer3ish = b"\xff\xfb\x90\x00" + b"\x00" * 96
    rows = [
        (1, bytearray(payload)),
        (2, bytearray(layer3ish)),
        (3, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.audio_subband_features(
        df).collect()}
    r1 = out[1]
    assert r1["format"] == "mp3-layer1"
    assert (r1["sample_rate"], r1["n_channels"]) == (32000, 2)
    assert r1["n_mpeg_frames"] == 2
    assert r1["duration_sec"] == pytest.approx(2 * 384 / 32000)
    rate, sb = mpegaudio.decode_layer1(payload)
    assert r1["sb_rms"] == pytest.approx(
        float(np.sqrt(np.square(sb).mean())))
    assert r1["sb_peak"] == pytest.approx(float(np.abs(sb).max()))
    e = np.square(sb).sum(axis=(0, 1))
    assert r1["sb_centroid"] == pytest.approx(
        float((e * np.arange(32)).sum() / e.sum()))
    assert out[2]["error_kind"] == "unsupported"
    assert out[3]["error_kind"] == "corrupt"


def test_triage_decode_audio_routes(spark):
    """The audio triage router: probe first, decode only in-budget
    decodable formats; Layer I goes to the subband path."""
    import sys
    sys.path.insert(0, "tests")
    from test_flac import _flac, _wave
    from test_operators import _wav

    from youtube_api_data_etl_automation_spark.operators import mediameta

    g = _sine_groups(12, 1, _ALLOC_MIX, seed=21)
    l1, _ = _frame_l1(g, alloc_bands=_ALLOC_MIX)
    wav = _wav(8000, [(int(900 * math.sin(i / 3.0)),) for i in range(32)])
    flac_payload = _flac([_wave(24, 700)],
                         sub_kw={"kind": "fixed", "order": 1})
    layer3 = b"\xff\xfb\x90\x00" + b"\x00" * 96
    rows = [
        (1, bytearray(wav)),
        (2, bytearray(flac_payload)),
        (3, bytearray(l1)),
        (4, bytearray(layer3)),
        (5, bytearray(b"nonsense")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mediameta.triage_decode_audio(
        df).collect()}
    assert out[1]["route"] == "decoded" and out[1]["format"] == "wav"
    assert out[1]["n_frames"] == 32
    assert out[2]["route"] == "decoded" and out[2]["format"] == "flac"
    assert out[2]["n_frames"] == 24
    r3 = out[3]
    assert r3["route"] == "subband" and r3["format"] == "mp3-layer1"
    assert r3["n_frames"] == 1 and r3["sample_rate"] == 32000
    rate, sb = mpegaudio.decode_layer1(l1)
    assert r3["rms"] == pytest.approx(
        float(np.sqrt(np.square(sb).mean())))
    assert out[4]["route"] == "undecodable"
    assert out[4]["error_kind"] == "unsupported"
    assert out[5]["route"] == "probe_failed"
    # unknown container = 'unsupported' (a codec library may read it),
    # matching _parse_audio_meta's routing
    assert out[5]["error_kind"] == "unsupported"
    # budget: probe-declared duration routes out without decoding — a
    # data chunk forged to declare 4 GiB is ~2.1G samples at 8 kHz mono
    forged = bytearray(wav)
    struct.pack_into("<I", forged, wav.index(b"data") + 4, 0xFFFFFFFF)
    tiny = mediameta.triage_decode_audio(
        spark.createDataFrame([(9, forged)],
                              "doc_id long, payload binary")).collect()[0]
    assert tiny["route"] == "oversized"
    assert tiny["error_kind"] == "unsupported"


# ===========================================================================
# Layer II (r12): independent encoder + exact-value and roundtrip tests
# ===========================================================================

_L2Q = mpegaudio._L2_GROUP_BITS


def _l2_levels(steps):
    """(nb, C, D) re-derived independently of the decoder module."""
    if steps == 5:
        return 3, 8.0 / 5.0, 0.5
    if steps == 9:
        return 4, 16.0 / 9.0, 0.5
    nb = steps.bit_length()
    return nb, float(1 << nb) / steps, 2.0 ** (1 - nb)


def _l2_quantize(x, sf, steps):
    """Nearest valid Layer II sample value v in [0, steps) for x."""
    nb, c_const, d_const = _l2_levels(steps)
    half = 1 << (nb - 1)
    c = round(((x / sf) / c_const - d_const) * half)
    c = max(-half, min(steps - 1 - half, c))
    return c + half


def _l2_value(v, sf, steps):
    """Decoded value of sample code v — the test's own model."""
    nb, c_const, d_const = _l2_levels(steps)
    half = 1 << (nb - 1)
    return sf * c_const * ((v - half) / half + d_const)


def _l2_table_rows(bitrate, nch, rate, version=1):
    if version == 2:
        return mpegaudio._ROWS_LSF
    return mpegaudio._l2_table(bitrate, nch, rate)


def _frame_l2(samples, *, rate=48000, bitrate=192, alloc_idx,
              mode=None, mode_ext=0, protected=False, padding=0,
              scfsi_all=0, sf_override=None, version=1):
    """One Layer II frame from ``samples`` shaped (36, nch, 32).

    ``alloc_idx[sb]`` is the ALLOCATION INDEX into the selected
    3-B.2 table row (0 = band off); the encoder mirrors the spec frame
    layout (allocation, scfsi, scalefactors, 12 granules x triplets)
    with its own quantizer inverse."""
    samples = np.asarray(samples, dtype=np.float64)
    _, nch, _ = samples.shape
    if mode is None:
        mode = 3 if nch == 1 else 0
    table = _l2_table_rows(bitrate, nch, rate, version)
    sblimit = len(table)
    bound = min((mode_ext + 1) * 4, sblimit) if mode == 1 else sblimit
    if version == 2:
        rate_idx = {22050: 0, 24000: 1, 16000: 2}[rate]
        br_idx = mpegaudio._L2_LSF_BITRATES.index(bitrate) + 1
        ver_bits = 2
    else:
        rate_idx = {44100: 0, 48000: 1, 32000: 2}[rate]
        br_idx = mpegaudio._L2_BITRATES.index(bitrate) + 1
        ver_bits = 3

    b2 = 0xE0 | (ver_bits << 3) | (2 << 1) | (0 if protected else 1)
    b3 = (br_idx << 4) | (rate_idx << 2) | (padding << 1)
    b4 = (mode << 6) | (mode_ext << 4)
    header = bytes([0xFF, b2, b3, b4])

    # per-part scalefactor indices (parts = sample ranges 0-11/12-23/24-35)
    def pick_parts(ch, sb):
        idxs = []
        for p in range(3):
            seg = samples[p * 12 : (p + 1) * 12, ch, sb]
            idxs.append(_pick_sf(float(np.abs(seg).max())))
        s = scfsi_all
        if s == 1:
            shared = min(idxs[0], idxs[1])  # smaller idx = larger sf
            idxs = [shared, shared, idxs[2]]
        elif s == 2:
            shared = min(idxs)
            idxs = [shared] * 3
        elif s == 3:
            shared = min(idxs[1], idxs[2])
            idxs = [idxs[0], shared, shared]
        return idxs

    sf_idx = {}
    for ch in range(nch):
        for sb in range(sblimit):
            if alloc_idx[sb]:
                sf_idx[(ch, sb)] = pick_parts(ch, sb)
    if sf_override:
        sf_idx.update(sf_override)

    prot_bw = _BW()  # allocation + scfsi (the CRC-protected region)
    for sb in range(bound):
        for _ch in range(nch):
            prot_bw.put(alloc_idx[sb], table[sb][0])
    for sb in range(bound, sblimit):
        prot_bw.put(alloc_idx[sb], table[sb][0])
    for sb in range(sblimit):
        for ch in range(nch):
            if alloc_idx[sb]:
                prot_bw.put(scfsi_all, 2)

    body = _BW()
    body.bits.extend(prot_bw.bits)
    for sb in range(sblimit):
        for ch in range(nch):
            if not alloc_idx[sb]:
                continue
            p = sf_idx[(ch, sb)]
            s = scfsi_all
            if s == 0:
                for v in p:
                    body.put(v, 6)
            elif s == 1:
                body.put(p[0], 6)
                body.put(p[2], 6)
            elif s == 2:
                body.put(p[0], 6)
            else:
                body.put(p[0], 6)
                body.put(p[1], 6)

    for gr in range(12):
        part = gr // 4
        for sb in range(sblimit):
            a = alloc_idx[sb]
            if not a:
                continue
            steps = table[sb][1][a - 1]

            def put_triplet(ch):
                sf = _SF[sf_idx[(ch, sb)][part]]
                vals = [_l2_quantize(float(samples[gr * 3 + i, ch, sb]),
                                     sf, steps) for i in range(3)]
                gbits = _L2Q.get(steps)
                if gbits is not None:
                    body.put(vals[0] + steps * (vals[1] + steps * vals[2]),
                             gbits)
                else:
                    nb = steps.bit_length()
                    for v in vals:
                        body.put(v, nb)

            if sb < bound:
                for ch in range(nch):
                    put_triplet(ch)
            else:
                put_triplet(0)

    frame_len = 144 * bitrate * 1000 // rate + padding
    parts = [header]
    if protected:
        crc_bits = []
        for byte in header[2:4]:
            crc_bits.extend((byte >> (7 - i)) & 1 for i in range(8))
        crc_bits.extend(prot_bw.bits)
        parts.append(_crc16(crc_bits).to_bytes(2, "big"))
    parts.append(body.to_bytes())
    raw = b"".join(parts)
    assert len(raw) <= frame_len, (
        f"frame body {len(raw)} exceeds {frame_len} bytes — lower the "
        "allocations or raise the bitrate"
    )
    return raw + b"\x00" * (frame_len - len(raw)), sf_idx


def _l2_sine(n_rows, nch, alloc_idx, table, seed=0):
    rng = np.random.default_rng(seed)
    g = np.zeros((n_rows, nch, 32))
    for sb in range(len(table)):
        if alloc_idx[sb]:
            amp = 0.5 / (1 + sb % 5)
            for ch in range(nch):
                phase = rng.uniform(0, math.tau)
                g[:, ch, sb] = amp * np.sin(
                    np.arange(n_rows) / (2.0 + sb / 7.0) + phase)
    return g


def test_l2_dequant_exact_values():
    dq = mpegaudio._l2_dequant
    # steps=3 (grouped, C=4/3, D=1/2, nb=2): symmetric midtread
    assert dq(0, 3, 1.0) == pytest.approx(-2 / 3)
    assert dq(1, 3, 1.0) == 0.0
    assert dq(2, 3, 1.0) == pytest.approx(2 / 3)
    # steps=5 (grouped, C=8/5, D=1/2, nb=3): {-.8,-.4,0,.4,.8}
    for v, want in enumerate((-0.8, -0.4, 0.0, 0.4, 0.8)):
        assert dq(v, 5, 1.0) == pytest.approx(want)
    # steps=9 (grouped, C=16/9, D=1/2, nb=4): max 8/9
    assert dq(8, 9, 1.0) == pytest.approx(8 / 9)
    assert dq(0, 9, 1.0) == pytest.approx(-8 / 9)
    assert dq(4, 9, 1.0) == 0.0
    # steps=7 (C=8/7, D=1/4, nb=3): v=0 -> 8/7*(-3/4) = -6/7
    assert dq(0, 7, 1.0) == pytest.approx(-6 / 7)
    assert dq(6, 7, 1.0) == pytest.approx(6 / 7)
    # steps=15 (Layer I formula): v=14 -> 16/15*(0.75+0.125) = 14/15
    assert dq(14, 15, 1.0) == pytest.approx(14 / 15)
    # matches Layer I requantize for the shared 2^n-1 family
    for nb in (2, 3, 4, 6, 10):
        steps = (1 << nb) - 1
        for v in (0, 1, steps - 1):
            assert dq(v, steps, 0.7) == pytest.approx(
                mpegaudio._requantize(v, nb, 0.7))


def test_l2_table_selection():
    t = mpegaudio._l2_table
    assert len(t(96, 1, 48000)) == 27   # mono 96 -> class2, 48k -> a
    assert len(t(96, 1, 44100)) == 30   # class2, 44.1 -> b
    assert len(t(96, 1, 32000)) == 30   # class2, 32k -> b
    assert len(t(64, 1, 44100)) == 27   # mono 56-80 -> a everywhere
    assert len(t(48, 1, 44100)) == 8    # low rate, 44.1 -> c
    assert len(t(48, 1, 32000)) == 12   # low rate, 32k -> d
    assert len(t(64, 2, 48000)) == 8    # stereo 64 total -> low rate
    # r12 review fix: boundaries are PER CHANNEL — stereo 96 total is
    # 48/ch, still a LOW-rate stream (tables c/d), and 112 total is
    # 56/ch, the first mid-rate stereo point
    assert len(t(96, 2, 44100)) == 8
    assert len(t(96, 2, 32000)) == 12
    assert len(t(112, 2, 48000)) == 27
    assert len(t(160, 2, 44100)) == 27  # stereo 80/ch -> a
    assert len(t(192, 2, 44100)) == 30  # stereo 96/ch -> b
    # nbal layout of the high table
    high = t(192, 2, 44100)
    assert [r[0] for r in high] == [4] * 11 + [3] * 12 + [2] * 7
    assert high[0][1][1] == 7 and high[3][1][1] == 5  # ladder split
    low = t(48, 1, 32000)
    assert [r[0] for r in low] == [4] * 2 + [3] * 10
    assert low[0][1][2] == 9  # 3,5,9,... (no 7 in the low ladder)


_L2_ALLOC_A = ([14, 10, 8, 9, 7, 5, 4, 3, 2, 2, 1] + [3, 2, 1] * 4
               + [2, 1, 1, 0])  # 27 entries for table a
_L2_ALLOC_B30 = _L2_ALLOC_A + [1, 2, 0]


def test_l2_roundtrip_mono_table_a():
    table = _l2_table_rows(192, 1, 48000)
    g = _l2_sine(36, 1, _L2_ALLOC_A, table, seed=11)
    payload, sf_idx = _frame_l2(g, rate=48000, bitrate=192,
                                alloc_idx=_L2_ALLOC_A)
    rate, out = mpegaudio.decode_layer2(payload)
    assert rate == 48000 and out.shape == (36, 1, 32)
    for sb in range(27):
        a = _L2_ALLOC_A[sb]
        if not a:
            assert (out[:, 0, sb] == 0).all()
            continue
        steps = table[sb][1][a - 1]
        for part in range(3):
            sf = _SF[sf_idx[(0, sb)][part]]
            # quantizer step = distance between adjacent levels
            step = abs(_l2_value(1, sf, steps) - _l2_value(0, sf, steps))
            seg = slice(part * 12, (part + 1) * 12)
            err = np.abs(out[seg, 0, sb] - g[seg, 0, sb]).max()
            assert err <= step * 0.5001 + 1e-12, (sb, part, err, step)
    # bands past sblimit stay silent
    assert (out[:, :, 27:] == 0).all()


def test_l2_grouped_quantizers_exact():
    """Grouped 3/5/9-step triplets decode to the test model's exact
    level values (degrouping order v0 = code % steps first)."""
    table = _l2_table_rows(192, 1, 48000)
    alloc = [0] * 27
    alloc[11] = 1  # steps=3 at nbal-3 band
    alloc[12] = 2  # steps=5
    alloc[13] = 4  # steps=9
    g = np.zeros((36, 1, 32))
    rng = np.random.default_rng(7)
    for sb, steps in ((11, 3), (12, 5), (13, 9)):
        # target exact level values so quantization is lossless
        sfi = 20
        codes = rng.integers(0, steps, size=36)
        g[:, 0, sb] = [_l2_value(int(c), _SF[sfi], steps) for c in codes]
    payload, sf_idx = _frame_l2(
        g, rate=48000, bitrate=192, alloc_idx=alloc,
        sf_override={(0, 11): [20] * 3, (0, 12): [20] * 3,
                     (0, 13): [20] * 3})
    rate, out = mpegaudio.decode_layer2(payload)
    for sb in (11, 12, 13):
        assert out[:, 0, sb] == pytest.approx(g[:, 0, sb], abs=1e-12)


def test_l2_scfsi_sharing_patterns():
    """scfsi 1/2/3 transmit fewer scalefactors; the decoder must apply
    the shared one to the right parts."""
    table = _l2_table_rows(192, 1, 48000)
    alloc = [0] * 27
    alloc[2] = 5  # steps=63, fine quantizer
    g = np.zeros((36, 1, 32))
    g[:12, 0, 2] = 0.9    # loud part 0
    g[12:24, 0, 2] = 0.2  # quiet part 1
    g[24:, 0, 2] = 0.05   # quieter part 2
    for scfsi in (0, 1, 2, 3):
        payload, sf_idx = _frame_l2(g, rate=48000, bitrate=192,
                                    alloc_idx=alloc, scfsi_all=scfsi)
        rate, out = mpegaudio.decode_layer2(payload)
        parts = sf_idx[(0, 2)]
        for part in range(3):
            sf = _SF[parts[part]]
            step = abs(_l2_value(1, sf, 63) - _l2_value(0, sf, 63))
            seg = slice(part * 12, (part + 1) * 12)
            err = np.abs(out[seg, 0, 2] - g[seg, 0, 2]).max()
            assert err <= step * 0.5001 + 1e-12, (scfsi, part)
        if scfsi == 2:
            assert parts[0] == parts[1] == parts[2]
        elif scfsi == 1:
            assert parts[0] == parts[1]
        elif scfsi == 3:
            assert parts[1] == parts[2]


def test_l2_roundtrip_stereo_table_b_multiframe_padding():
    table = _l2_table_rows(384, 2, 44100)
    assert len(table) == 30
    g = _l2_sine(72, 2, _L2_ALLOC_B30, table, seed=12)
    frames = []
    for i in range(2):
        payload, _ = _frame_l2(g[i * 36 : (i + 1) * 36], rate=44100,
                               bitrate=384, alloc_idx=_L2_ALLOC_B30,
                               padding=1 if i == 1 else 0)
        frames.append(payload)
    rate, out = mpegaudio.decode_layer2(b"".join(frames))
    assert rate == 44100 and out.shape == (72, 2, 32)
    mask = np.array([bool(a) for a in _L2_ALLOC_B30] + [False] * 2)
    assert np.abs(out[:, :, mask] - g[:, :, mask]).max() < 0.35
    fine = [sb for sb in range(5) if _L2_ALLOC_B30[sb] >= 7]
    assert np.abs(out[:, :, fine] - g[:, :, fine]).max() < 0.01


def test_l2_low_rate_tables_c_and_d():
    for rate, nsb in ((44100, 8), (32000, 12)):
        table = _l2_table_rows(48, 1, rate)
        assert len(table) == nsb
        alloc = [3] * nsb  # steps=9 everywhere (low ladder: 3,5,9…)
        assert table[2][1][2] == 9
        g = _l2_sine(36, 1, alloc + [0] * (32 - nsb), table, seed=13)
        payload, sf_idx = _frame_l2(g, rate=rate, bitrate=48,
                                    alloc_idx=alloc + [0] * (32 - nsb),
                                    scfsi_all=2)
        drate, out = mpegaudio.decode_layer2(payload)
        assert drate == rate
        steps = 9
        for sb in range(nsb):
            for part in range(3):
                sf = _SF[sf_idx[(0, sb)][part]]
                step = abs(_l2_value(1, sf, steps)
                           - _l2_value(0, sf, steps))
                seg = slice(part * 12, (part + 1) * 12)
                err = np.abs(out[seg, 0, sb] - g[seg, 0, sb]).max()
                assert err <= step * 0.5001 + 1e-12
        assert (out[:, :, nsb:] == 0).all()


def test_l2_intensity_joint_shared_stream():
    """mode 1: shared sample codes above the bound, per-channel
    scalefactors — the channel ratio equals the sf ratio."""
    alloc = [0] * 27
    alloc[8] = 5  # steps=15 in the 3-10 row (bound=4 < 8)
    g = np.zeros((36, 2, 32))
    g[:, 0, 8] = 0.4 * np.sin(np.arange(36) / 3.0)
    g[:, 1, 8] = g[:, 0, 8]
    payload, _ = _frame_l2(
        g, rate=48000, bitrate=192, alloc_idx=alloc, mode=1, mode_ext=0,
        scfsi_all=2,
        sf_override={(0, 8): [4] * 3, (1, 8): [10] * 3})
    rate, out = mpegaudio.decode_layer2(payload)
    nz = np.abs(out[:, 0, 8]) > 1e-9
    assert nz.any()
    ratio = out[nz, 1, 8] / out[nz, 0, 8]
    assert ratio == pytest.approx(_SF[10] / _SF[4])


def test_l2_crc_protected_and_mismatch():
    table = _l2_table_rows(192, 1, 48000)
    g = _l2_sine(36, 1, _L2_ALLOC_A, table, seed=14)
    payload, _ = _frame_l2(g, rate=48000, bitrate=192,
                           alloc_idx=_L2_ALLOC_A, protected=True)
    rate, out = mpegaudio.decode_layer2(payload)
    assert out.shape == (36, 1, 32)
    bad = bytearray(payload)
    bad[7] ^= 0x10  # inside allocation/scfsi (the protected region)
    with pytest.raises(ValueError, match="CRC-16"):
        mpegaudio.decode_layer2(bytes(bad))


def test_l2_refusals_and_dispatch(monkeypatch):
    table = _l2_table_rows(192, 1, 48000)
    g = _l2_sine(36, 1, _L2_ALLOC_A, table, seed=15)
    l2, _ = _frame_l2(g, rate=48000, bitrate=192, alloc_idx=_L2_ALLOC_A)
    g1 = _sine_groups(12, 1, _ALLOC_MIX, seed=15)
    l1, _ = _frame_l1(g1, alloc_bands=_ALLOC_MIX)

    # dispatcher routes each layer to its decoder
    layer, rate, sb = mpegaudio.decode_subbands(l2)
    assert (layer, rate) == (2, 48000) and sb.shape == (36, 1, 32)
    layer, rate, sb = mpegaudio.decode_subbands(l1)
    assert (layer, rate) == (1, 32000) and sb.shape == (12, 1, 32)
    # Layer III refuses with the honest stub
    l3 = bytearray(l2)
    l3[1] = 0xE0 | (3 << 3) | (1 << 1) | 1
    with pytest.raises(NotImplementedError, match="Layer III"):
        mpegaudio.decode_subbands(bytes(l3))
    # decode_layer2 on a Layer I stream refuses (use the dispatcher)
    with pytest.raises(ValueError, match="not a Layer II"):
        mpegaudio.decode_layer2(l1)
    # free format / truncation / budget
    ff = bytearray(l2)
    ff[2] &= 0x0F
    with pytest.raises(NotImplementedError, match="free-format"):
        mpegaudio.decode_layer2(bytes(ff))
    with pytest.raises(ValueError, match="truncated frame|exhausted"):
        mpegaudio.decode_layer2(l2[:-40])
    with monkeypatch.context() as m:
        m.setattr(mpegaudio, "MPEG_SAMPLE_BUDGET", 100)
        with pytest.raises(NotImplementedError, match="sample budget"):
            mpegaudio.decode_layer2(l2)
    # MPEG-2.5 version bits (r13: MPEG-2 LSF itself decodes now)
    v2 = bytearray(l2)
    v2[1] = 0xE0 | (0 << 3) | (2 << 1) | 1
    with pytest.raises(NotImplementedError, match="2.5"):
        mpegaudio.decode_layer2(bytes(v2))


def test_l2_id3_tags_skipped():
    table = _l2_table_rows(48, 1, 44100)
    g = _l2_sine(36, 1, [1] * 8 + [0] * 24, table, seed=16)
    frame, _ = _frame_l2(g, rate=44100, bitrate=48,
                         alloc_idx=[1] * 8 + [0] * 24)
    id3v2 = b"ID3\x03\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    id3v1 = b"TAG" + b"\x00" * 125
    rate, out = mpegaudio.decode_layer2(id3v2 + frame + id3v1)
    assert out.shape == (36, 1, 32)
    # every 3-B.2 ladder has exactly 2^nbal - 1 entries, so every
    # possible allocation field value is defined — no range refusal
    # exists (the forbidden-value surface is scalefactor 63 only)
    with pytest.raises(ValueError, match="no frame header"):
        mpegaudio.decode_layer2(b"")
    with pytest.raises(ValueError, match="forbidden scalefactor"):
        bad = bytearray(frame)
        # sb0 alloc nibble=1; first scalefactor starts after the 8
        # alloc fields (2x4 + 6x3 = 26 bits) + 8 scfsi x2 = 16 bits ->
        # bit 42 past the header; force six 1-bits there
        hdrbits = 32
        for b in range(42, 48):
            bad[(hdrbits + b) // 8] |= 0x80 >> ((hdrbits + b) % 8)
        mpegaudio.decode_layer2(bytes(bad))


def test_l2_audio_subband_features_operator(spark):
    table = _l2_table_rows(192, 1, 48000)
    g = _l2_sine(72, 1, _L2_ALLOC_A, table, seed=22)
    f1, _ = _frame_l2(g[:36], rate=48000, bitrate=192,
                      alloc_idx=_L2_ALLOC_A)
    f2, _ = _frame_l2(g[36:], rate=48000, bitrate=192,
                      alloc_idx=_L2_ALLOC_A)
    payload = f1 + f2
    df = spark.createDataFrame([(1, bytearray(payload))],
                               "doc_id long, payload binary")
    r = multimodal.audio_subband_features(
        df).collect()[0]
    assert r["format"] == "mp3-layer2"
    assert (r["sample_rate"], r["n_channels"]) == (48000, 1)
    assert r["n_mpeg_frames"] == 2
    assert r["duration_sec"] == pytest.approx(2 * 1152 / 48000)
    rate, sb = mpegaudio.decode_layer2(payload)
    assert r["sb_rms"] == pytest.approx(
        float(np.sqrt(np.square(sb).mean())))
    assert r["sb_peak"] == pytest.approx(float(np.abs(sb).max()))


def test_l2_triage_decode_audio_routes(spark):
    from youtube_api_data_etl_automation_spark.operators import mediameta

    table = _l2_table_rows(192, 1, 48000)
    g = _l2_sine(36, 1, _L2_ALLOC_A, table, seed=23)
    l2, _ = _frame_l2(g, rate=48000, bitrate=192, alloc_idx=_L2_ALLOC_A)
    df = spark.createDataFrame([(1, bytearray(l2))],
                               "doc_id long, payload binary")
    r = mediameta.triage_decode_audio(df).collect()[0]
    assert r["route"] == "subband" and r["format"] == "mp3-layer2"
    assert r["n_frames"] == 1 and r["sample_rate"] == 48000
    rate, sb = mpegaudio.decode_layer2(l2)
    assert r["rms"] == pytest.approx(
        float(np.sqrt(np.square(sb).mean())))


def test_l2_stereo_96_low_rate_roundtrip():
    """r12 review fix regression: stereo 96 kbit total = 48 kbit per
    channel — a LOW-rate stream on table c; decoding it with the
    27-subband table would desync the whole frame."""
    table = _l2_table_rows(96, 2, 44100)
    assert len(table) == 8
    alloc = [3] * 8 + [0] * 24  # steps=9
    g = _l2_sine(36, 2, alloc, table, seed=31)
    payload, sf_idx = _frame_l2(g, rate=44100, bitrate=96,
                                alloc_idx=alloc, scfsi_all=2)
    rate, out = mpegaudio.decode_layer2(payload)
    assert rate == 44100 and out.shape == (36, 2, 32)
    for sb in range(8):
        for ch in range(2):
            for part in range(3):
                sf = _SF[sf_idx[(ch, sb)][part]]
                step = abs(_l2_value(1, sf, 9) - _l2_value(0, sf, 9))
                seg = slice(part * 12, (part + 1) * 12)
                err = np.abs(out[seg, ch, sb] - g[seg, ch, sb]).max()
                assert err <= step * 0.5001 + 1e-12
    assert (out[:, :, 8:] == 0).all()


# ---------------------------------------------------------------------------
# MPEG-2 LSF (r13): halved rates, own bitrate ladders, Annex B table
# ---------------------------------------------------------------------------

def test_lsf_layer2_round_trip_all_rates():
    """MPEG-2 Layer II at 22.05/24/16 kHz: the Annex B table's 30
    subbands round-trip through the independent encoder, including the
    2-bit rows' grouped 3/5/9 quantizers that only exist there."""
    table = mpegaudio._ROWS_LSF
    # exercise every row class: 4-bit rows deep ladder, 3-bit rows,
    # and the 19 2-bit rows (grouped 3/5/9 only)
    alloc = [14, 10, 7, 4] + [7, 5, 4, 3, 2, 1, 6] + \
        ([1, 2, 3] * 7)[:19]
    assert len(alloc) == 30
    for rate in (22050, 24000, 16000):
        g = _l2_sine(36, 1, alloc, table, seed=21)
        payload, sf_idx = _frame_l2(g, rate=rate, bitrate=160,
                                    alloc_idx=alloc, version=2)
        got_rate, sb = mpegaudio.decode_layer2(payload)
        assert got_rate == rate
        assert sb.shape == (36, 1, 32)
        for s in range(30):
            a = alloc[s]
            if not a:
                continue
            steps = table[s][1][a - 1]
            sf = mpegaudio._SCALEFACTORS[sf_idx[(0, s)][0]]
            lo = np.abs(sb[:12, 0, s])
            assert lo.max() <= sf * 2.0 + 1e-12, s
        # bands 30/31 do not exist at sblimit 30
        assert np.all(sb[:, :, 30:] == 0.0)


def test_lsf_layer2_stereo_crc_and_scfsi():
    table = mpegaudio._ROWS_LSF
    alloc = [3, 2, 1, 1] + [2, 1, 0, 1, 2, 1, 1] + [1, 0, 2] * 6 + [1]
    g = _l2_sine(36, 2, alloc, table, seed=22)
    payload, _ = _frame_l2(g, rate=24000, bitrate=144, alloc_idx=alloc,
                           version=2, protected=True, scfsi_all=2)
    rate, sb = mpegaudio.decode_layer2(payload)
    assert rate == 24000 and sb.shape == (36, 2, 32)
    # CRC is verified: flip one allocation bit -> corrupt
    body = bytearray(payload)
    body[6] ^= 0x10
    with pytest.raises(ValueError, match="CRC"):
        mpegaudio.decode_layer2(bytes(body))


def test_lsf_layer1_round_trip():
    g = _sine_groups(12, 1, _ALLOC_MIX, seed=23)
    payload, _ = _frame_l1(g, rate=22050, bitrate=144,
                           alloc_bands=_ALLOC_MIX, version=2)
    rate, sb = mpegaudio.decode_layer1(payload)
    assert rate == 22050
    assert sb.shape == (12, 1, 32)


def test_mpeg25_still_refuses():
    """MPEG-2.5 (version bits 00) has no Layer I/II definition — the
    refusal stays honest."""
    g = _l2_sine(36, 1, [1] * 30, mpegaudio._ROWS_LSF, seed=24)
    payload, _ = _frame_l2(g, rate=22050, bitrate=160,
                           alloc_idx=[1] * 30, version=2)
    b = bytearray(payload)
    b[1] &= ~0x18  # version bits 00 = MPEG-2.5
    with pytest.raises(NotImplementedError, match="2.5"):
        mpegaudio.decode_layer2(bytes(b))
    b[1] |= 0x08  # version bits 01 = reserved
    with pytest.raises(ValueError, match="reserved version"):
        mpegaudio.decode_layer2(bytes(b))
