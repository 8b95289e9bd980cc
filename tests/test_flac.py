"""FLAC decoder (operators/flac.py), byte-exact against an independent
in-repo encoder written from RFC 9639 (mirrors the JPEG/GIF/VP8L test
strategy). Covers every subframe type (constant, verbatim, fixed 0-4,
LPC), all four channel assignments, Rice/Rice2 partitions incl. escape
coding, wasted bits, multi-frame streams, CRC verification, the sample
budget, and decode_audio/audio_meta integration."""

from __future__ import annotations

import math

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import flac, multimodal


# ------------------------------------------------------------ encoder

class _FBW:
    """MSB-first bit writer."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def put_signed(self, v: int, n: int):
        self.put(v & ((1 << n) - 1), n)

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def to_bytes(self) -> bytes:
        assert len(self.bits) % 8 == 0
        out = bytearray(len(self.bits) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (7 - (i & 7))
        return bytes(out)


def _utf8_number(bw: _FBW, n: int):
    if n < 0x80:
        bw.put(n, 8)
        return
    # 2-byte form is enough for test frame counts
    assert n < 0x800
    bw.put(0xC0 | (n >> 6), 8)
    bw.put(0x80 | (n & 0x3F), 8)


def _rice(bw: _FBW, residuals, param: int, *, rice2=False, escape=False):
    """One residual partition body."""
    if escape:
        width = max((abs(r).bit_length() + 1 for r in residuals),
                    default=1)
        bw.put(width, 5)
        for r in residuals:
            bw.put_signed(r, width)
        return
    for r in residuals:
        zz = (-r << 1) - 1 if r < 0 else (r << 1)
        q = zz >> param
        for _ in range(q):
            bw.put(0, 1)
        bw.put(1, 1)
        if param:
            bw.put(zz & ((1 << param) - 1), param)


def _residual(bw: _FBW, residuals, order: int, block_size: int, *,
              param=4, part_order=0, rice2=False, escape=False):
    bw.put(1 if rice2 else 0, 2)
    bw.put(part_order, 4)
    pbits = 5 if rice2 else 4
    esc = (1 << pbits) - 1
    n_parts = 1 << part_order
    at = 0
    for p in range(n_parts):
        n = (block_size >> part_order) - (order if p == 0 else 0)
        bw.put(esc if escape else param, pbits)
        _rice(bw, residuals[at : at + n], param, rice2=rice2,
              escape=escape)
        at += n


def _subframe(bw: _FBW, samples, bps: int, *, kind="fixed", order=2,
              lpc=None, wasted=0, **res_kw):
    """kind: constant | verbatim | fixed | lpc. ``lpc``: (coefs, shift,
    precision)."""
    block_size = len(samples)
    if wasted:
        assert all(s % (1 << wasted) == 0 for s in samples)
        samples = [s >> wasted for s in samples]
        bps_eff = bps - wasted
    else:
        bps_eff = bps
    bw.put(0, 1)
    if kind == "constant":
        bw.put(0, 6)
    elif kind == "verbatim":
        bw.put(1, 6)
    elif kind == "fixed":
        bw.put(8 + order, 6)
    else:
        order = len(lpc[0])
        bw.put(32 + order - 1, 6)
    if wasted:
        bw.put(1, 1)
        for _ in range(wasted - 1):
            bw.put(0, 1)
        bw.put(1, 1)
    else:
        bw.put(0, 1)
    if kind == "constant":
        assert len(set(samples)) == 1
        bw.put_signed(samples[0], bps_eff)
        return
    if kind == "verbatim":
        for s in samples:
            bw.put_signed(s, bps_eff)
        return
    if kind == "fixed":
        coefs = flac._FIXED_COEFS[order]
        for s in samples[:order]:
            bw.put_signed(s, bps_eff)
        res = [
            samples[i] - sum(c * samples[i - 1 - j]
                             for j, c in enumerate(coefs))
            for i in range(order, block_size)
        ]
        _residual(bw, res, order, block_size, **res_kw)
        return
    coefs, shift, precision = lpc
    for s in samples[:order]:
        bw.put_signed(s, bps_eff)
    bw.put(precision - 1, 4)
    bw.put_signed(shift, 5)
    for c in coefs:
        bw.put_signed(c, precision)
    res = [
        samples[i] - (sum(c * samples[i - 1 - j]
                          for j, c in enumerate(coefs)) >> shift)
        for i in range(order, block_size)
    ]
    _residual(bw, res, order, block_size, **res_kw)


def _frame(frame_idx: int, channels, bps: int, *, ch_mode="independent",
           rate_code=0, sub_kw=None):
    """One whole frame (header + subframes + CRCs). ``channels`` is the
    ORIGINAL per-channel sample lists; stereo modes derive side/mid."""
    sub_kw = sub_kw or {}
    block_size = len(channels[0])
    bw = _FBW()
    bw.put(0b11111111111110, 14)
    bw.put(0, 1)
    bw.put(0, 1)  # fixed blocking
    bw.put(6, 4)  # 8-bit block size - 1 at header end
    bw.put(rate_code, 4)
    ch_code = {"independent": len(channels) - 1, "left_side": 8,
               "right_side": 9, "mid_side": 10}[ch_mode]
    bw.put(ch_code, 4)
    bps_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps]
    bw.put(bps_code, 3)
    bw.put(0, 1)
    _utf8_number(bw, frame_idx)
    bw.put(block_size - 1, 8)
    if rate_code == 12:
        bw.put(44, 8)  # 44 kHz, exercised in one test
    header = bw.to_bytes()
    bw.put(flac._crc8(header), 8)

    if ch_mode == "independent":
        subs = [(ch, bps) for ch in channels]
    else:
        left, right = channels
        side = [lv - rv for lv, rv in zip(left, right)]
        if ch_mode == "left_side":
            subs = [(left, bps), (side, bps + 1)]
        elif ch_mode == "right_side":
            subs = [(side, bps + 1), (right, bps)]
        else:
            mid = [(lv + rv) >> 1 for lv, rv in zip(left, right)]
            subs = [(mid, bps), (side, bps + 1)]
    for samples, sbps in subs:
        _subframe(bw, samples, sbps, **sub_kw)
    bw.align()
    body = bw.to_bytes()
    bw.put(flac._crc16(body), 16)
    return bw.to_bytes()


def _streaminfo(rate: int, n_ch: int, bps: int, total: int) -> bytes:
    packed = (rate << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | total
    body = (b"\x00\x10\x00\x10" + b"\x00" * 6
            + packed.to_bytes(8, "big") + b"\x00" * 16)
    assert len(body) == 34
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + body


def _flac(channels, rate=8000, bps=16, frames_of=None, **frame_kw):
    """Full stream; ``frames_of`` splits the channels into blocks."""
    n_ch = len(channels)
    total = len(channels[0])
    out = _streaminfo(rate, n_ch, bps, total)
    splits = frames_of or [total]
    at = 0
    for idx, n in enumerate(splits):
        blk = [ch[at : at + n] for ch in channels]
        out += _frame(idx, blk, bps, **frame_kw)
        at += n
    assert at == total
    return out


def _wave(n, amp, phase=0.0):
    return [int(amp * math.sin(i / 3.0 + phase)) for i in range(n)]


# -------------------------------------------------------------- tests

def test_fixed_orders_all():
    for order in range(5):
        ch = [_wave(40, 900)]
        payload = _flac(ch, sub_kw={"kind": "fixed", "order": order})
        rate, s = flac.decode_flac(payload)
        assert rate == 8000
        assert s.shape == (40, 1)
        assert [int(v) for v in s[:, 0]] == ch[0], f"order {order}"


def test_constant_verbatim_and_multiframe():
    const = [77] * 24
    payload = _flac([const], sub_kw={"kind": "constant"})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == const

    rnd = list(np.random.default_rng(1).integers(-3000, 3000, 30))
    rnd = [int(v) for v in rnd]
    payload = _flac([rnd], sub_kw={"kind": "verbatim"})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == rnd

    # three frames of different sizes
    ch = [_wave(48, 1200)]
    payload = _flac(ch, frames_of=[16, 24, 8],
                    sub_kw={"kind": "fixed", "order": 1})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == ch[0]


def test_stereo_modes_exact():
    left = _wave(32, 2000)
    right = _wave(32, 1500, phase=1.0)
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        payload = _flac([left, right], ch_mode=mode,
                        sub_kw={"kind": "fixed", "order": 2})
        rate, s = flac.decode_flac(payload)
        assert s.shape == (32, 2), mode
        assert [int(v) for v in s[:, 0]] == left, mode
        assert [int(v) for v in s[:, 1]] == right, mode


def test_lpc_subframe_exact():
    ch = [_wave(36, 5000)]
    lpc = ([3 << 4, -(3 << 3), 1 << 2], 4, 8)  # coefs, shift, precision
    payload = _flac(ch, sub_kw={"kind": "lpc", "lpc": lpc})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == ch[0]


def test_rice2_partitions_and_escape():
    ch = [_wave(64, 700)]
    payload = _flac(ch, sub_kw={"kind": "fixed", "order": 2,
                                "rice2": True, "param": 5,
                                "part_order": 2})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == ch[0]
    payload = _flac(ch, sub_kw={"kind": "fixed", "order": 0,
                                "escape": True, "part_order": 1})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == ch[0]


def test_wasted_bits():
    ch = [[v << 3 for v in _wave(20, 200)]]
    payload = _flac(ch, sub_kw={"kind": "fixed", "order": 1,
                                "wasted": 3})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == ch[0]


def test_bps8_and_explicit_rate_codes():
    ch = [[int(60 * math.sin(i / 2.0)) for i in range(16)]]
    payload = _flac(ch, bps=8, sub_kw={"kind": "verbatim"})
    _, s = flac.decode_flac(payload)
    assert [int(v) for v in s[:, 0]] == ch[0]
    # rate code 9 = 44100 in the frame header; STREAMINFO rate returned
    payload = _flac(ch, bps=8, rate=44100, rate_code=9,
                    sub_kw={"kind": "verbatim"})
    rate, _ = flac.decode_flac(payload)
    assert rate == 44100


def test_crc_and_malformed_refusals():
    ch = [_wave(24, 800)]
    good = _flac(ch, sub_kw={"kind": "fixed", "order": 1})
    bad = bytearray(good)
    bad[-3] ^= 0x40  # flip a sample bit -> CRC-16 mismatch
    with pytest.raises(ValueError, match="CRC-16|CRC-8|exhausted|sync"):
        flac.decode_flac(bytes(bad))
    hdr = bytearray(good)
    sync_at = len(_streaminfo(8000, 1, 16, 24))
    hdr[sync_at + 4] ^= 0x01  # damage the frame header -> CRC-8
    with pytest.raises(ValueError, match="CRC-8|reserved|invalid"):
        flac.decode_flac(bytes(hdr))
    with pytest.raises(ValueError, match="missing fLaC"):
        flac.decode_flac(b"OggS" + good[4:])
    with pytest.raises(ValueError, match="unknown total"):
        flac.decode_flac(_streaminfo(8000, 1, 16, 0))
    # rate 0 must refuse BEFORE frame decode: duration math downstream
    # divides by it (r10 ADVICE — ZeroDivisionError is not a quarantine
    # class, so one such payload would kill the task, not become a row)
    with pytest.raises(ValueError, match="sample rate 0"):
        flac.decode_flac(_streaminfo(0, 1, 16, 24) +
                         _frame(0, [_wave(24, 800)], 16))
    with pytest.raises(NotImplementedError, match="sample budget"):
        flac.decode_flac(good, sample_budget=10)


def test_decode_audio_and_probe_integration(spark):
    """FLAC rides decode_audio end to end with exact stats, and the
    audio_meta header probe agrees with the decoded layout."""
    from youtube_api_data_etl_automation_spark.operators import mediameta

    left = _wave(50, 9000)
    right = _wave(50, 7000, phase=0.5)
    payload = _flac([left, right], rate=16000, ch_mode="mid_side",
                    sub_kw={"kind": "fixed", "order": 3})
    blobs = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    row = multimodal.decode_audio(blobs).collect()[0]
    assert row.format == "flac" and row.error is None
    assert row.sample_rate == 16000 and row.n_channels == 2
    assert row.n_frames == 50
    want_peak = max(max(map(abs, left)), max(map(abs, right)))
    assert row.peak == want_peak
    want_rms = math.sqrt(
        sum(v * v for v in left + right) / 100
    )
    assert row.rms == pytest.approx(want_rms)

    probe = mediameta._parse_audio_meta(payload)
    assert probe["format"] == "flac"
    assert probe["sample_rate"] == 16000 and probe["n_channels"] == 2
    assert probe["duration_sec"] == pytest.approx(50 / 16000)
