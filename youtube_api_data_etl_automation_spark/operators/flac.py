"""Pure-stdlib FLAC decoder (r10) — the lossless-audio twin of
operators/vp8l.py.

FLAC (RFC 9639) is pure integer math end to end: fixed/LPC linear
prediction + Rice-coded residuals, so it decodes from the public spec
with no DSP library — unlike MP3/AAC, whose synthesis filterbanks
realistically need one and which stay honest NotImplementedError stubs
(their HEADERS are probed by operators/mediameta.py::audio_meta).

Decoder scope (complete for spec-conforming streams):
- Stream: fLaC marker, metadata-block walk (STREAMINFO parsed, others
  skipped), frame sequence.
- Frame header: sync, blocking strategy, block-size / sample-rate /
  sample-size codes (incl. end-of-header 8/16-bit block sizes and the
  STREAMINFO fallbacks), channel assignments 1-8 independent plus
  left/side, right/side, mid/side, UTF-8-style coded frame/sample
  number, CRC-8 verification.
- Subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
  (quantized coefficients, signed shift), wasted-bits unary prefix,
  the side channel's +1 bit.
- Residual: Rice (4-bit) and Rice2 (5-bit) partition methods, partition
  orders 0-15, escape-coded raw partitions, zigzag mapping.
- Stereo decorrelation and the frame CRC-16 over the whole frame.

Scale posture: per-payload Python inside Arrow-batched ``mapInPandas``
with a sample budget (``multimodal.DECODE_SAMPLE_BUDGET``, shared with
ADPCM) routing oversized payloads to a recoverable NotImplementedError
refusal, like the JPEG/VP8L budgets. Verified in tests/test_flac.py
against an independent in-repo encoder (byte-exact samples across
subframe types, stereo modes, Rice partitions) and the codec golden row.
"""

from __future__ import annotations

import numpy as np

from .multimodal import DECODE_SAMPLE_BUDGET, check_budget

_FIXED_COEFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _BitReader:
    """MSB-first bit reader (FLAC packs big-endian, unlike VP8L)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def read(self, n: int) -> int:
        if self.pos + n > len(self.data) * 8:
            raise ValueError("malformed FLAC: bitstream exhausted")
        v = 0
        p = self.pos
        for i in range(n):
            v = (v << 1) | ((self.data[(p + i) >> 3]
                             >> (7 - ((p + i) & 7))) & 1)
        self.pos = p + n
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        count = 0
        nbits = len(self.data) * 8
        while True:
            if self.pos >= nbits:
                raise ValueError("malformed FLAC: unary run past stream end")
            bit = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
            self.pos += 1
            if bit:
                return count
            count += 1

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_utf8_number(br: _BitReader) -> int:
    """The frame header's UTF-8-style coded frame/sample number."""
    first = br.read(8)
    if first < 0x80:
        return first
    n_cont = 0
    mask = 0x40
    while first & mask:
        n_cont += 1
        mask >>= 1
    if n_cont < 1 or n_cont > 6:
        raise ValueError("malformed FLAC: bad coded-number lead byte")
    v = first & (mask - 1)
    for _ in range(n_cont):
        c = br.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("malformed FLAC: bad coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(br: _BitReader, block_size: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"malformed FLAC: residual method {method}")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    part_order = br.read(4)
    n_parts = 1 << part_order
    if block_size % n_parts:
        raise ValueError("malformed FLAC: partition order mismatch")
    out: list[int] = []
    for p in range(n_parts):
        n = (block_size >> part_order) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("malformed FLAC: order exceeds first partition")
        param = br.read(param_bits)
        if param == escape:
            raw_bits = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(raw_bits) if raw_bits else 0)
        else:
            for _ in range(n):
                q = br.read_unary()
                r = br.read(param) if param else 0
                zz = (q << param) | r
                out.append((zz >> 1) ^ -(zz & 1))  # zigzag → signed
    return out


def _decode_subframe(br: _BitReader, block_size: int, bps: int) -> list[int]:
    if br.read(1):
        raise ValueError("malformed FLAC: subframe pad bit set")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    bps -= wasted
    if bps <= 0:
        raise ValueError("malformed FLAC: wasted bits exceed sample size")
    if ftype == 0:  # CONSTANT
        v = br.read_signed(bps)
        samples = [v] * block_size
    elif ftype == 1:  # VERBATIM
        samples = [br.read_signed(bps) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        samples = [br.read_signed(bps) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        coefs = _FIXED_COEFS[order]
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(r + pred)
    elif ftype >= 32:  # LPC order 1-32
        order = (ftype & 31) + 1
        samples = [br.read_signed(bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("malformed FLAC: invalid LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("malformed FLAC: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(r + (pred >> shift))
    else:
        raise ValueError(f"malformed FLAC: reserved subframe type {ftype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


_BLOCK_SIZE_CODES = {1: 192}
for _n in range(2, 6):
    _BLOCK_SIZE_CODES[_n] = 576 << (_n - 2)
for _n in range(8, 16):
    _BLOCK_SIZE_CODES[_n] = 256 << (_n - 8)

_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BPS_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def decode_flac(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, samples[frames, channels] int32) for a FLAC stream.
    CRC-8 (frame header) and CRC-16 (whole frame) are verified; a
    mismatch refuses as corrupt."""
    if payload[:4] != b"fLaC":
        raise ValueError("malformed FLAC: missing fLaC marker")
    # metadata walk (STREAMINFO must exist; content comes from frame
    # headers, STREAMINFO supplies the fallback codes)
    pos = 4
    si = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("malformed FLAC: truncated metadata header")
        head = payload[pos]
        btype, last = head & 0x7F, bool(head & 0x80)
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        if btype == 0:
            body = payload[pos + 4 : pos + 4 + blen]
            if len(body) < 34:
                raise ValueError("malformed FLAC: short STREAMINFO")
            packed = int.from_bytes(body[10:18], "big")
            si = {
                "rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bps": ((packed >> 36) & 0x1F) + 1,
                "total": packed & ((1 << 36) - 1),
            }
        pos += 4 + blen
        if last:
            break
    if si is None:
        raise ValueError("malformed FLAC: no STREAMINFO block")
    if si["total"] == 0:
        # 0 = unknown stream length (live capture); bounding the decode
        # loop then requires trusting frame syncs alone — refuse instead
        raise ValueError(
            "malformed FLAC: STREAMINFO declares unknown total samples"
        )
    if si["rate"] == 0:
        # rate 0 is spec-invalid; downstream duration math divides by it
        raise ValueError("malformed FLAC: STREAMINFO sample rate 0")
    check_budget(f"FLAC with {si['total']} frames x {si['channels']} "
                 "channels", si["total"] * si["channels"],
                 DECODE_SAMPLE_BUDGET, "sample")

    channels_out: list[list[int]] = [[] for _ in range(si["channels"])]
    decoded = 0
    while decoded < si["total"]:
        frame_start = pos
        br = _BitReader(payload, pos * 8)
        if br.read(14) != 0b11111111111110:
            raise ValueError("malformed FLAC: lost frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy (coded number is opaque here)
        bs_code = br.read(4)
        rate_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        if br.read(1):
            raise ValueError("malformed FLAC: frame header reserved bit")
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("malformed FLAC: reserved block-size code")
        block_size = _BLOCK_SIZE_CODES.get(bs_code)
        if bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        if rate_code == 0:
            rate = si["rate"]
        elif rate_code in _RATE_CODES:
            rate = _RATE_CODES[rate_code]
        elif rate_code == 12:
            rate = br.read(8) * 1000
        elif rate_code == 13:
            rate = br.read(16)
        elif rate_code == 14:
            rate = br.read(16) * 10
        else:
            raise ValueError("malformed FLAC: invalid sample-rate code")
        bps = si["bps"] if bps_code == 0 else _BPS_CODES.get(bps_code)
        if bps is None:
            raise ValueError("malformed FLAC: reserved sample-size code")
        header_end = (br.pos + 7) >> 3  # header is byte-aligned here
        crc8 = br.read(8)
        if _crc8(payload[frame_start:header_end]) != crc8:
            raise ValueError("malformed FLAC: frame-header CRC-8 mismatch")

        if ch_code <= 7:
            n_ch = ch_code + 1
            if n_ch != si["channels"]:
                raise ValueError(
                    "malformed FLAC: frame channels != STREAMINFO"
                )
            subs = [_decode_subframe(br, block_size, bps)
                    for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            if si["channels"] != 2:
                raise ValueError(
                    "malformed FLAC: stereo decorrelation on non-stereo"
                )
            # the side channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _decode_subframe(br, block_size, bps)
                side = _decode_subframe(br, block_size, bps + 1)
                subs = [left, [lv - sv for lv, sv in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = _decode_subframe(br, block_size, bps + 1)
                right = _decode_subframe(br, block_size, bps)
                subs = [[rv + sv for rv, sv in zip(right, side)], right]
            else:  # mid/side
                mid = _decode_subframe(br, block_size, bps)
                side = _decode_subframe(br, block_size, bps + 1)
                ls, rs = [], []
                for mv, sv in zip(mid, side):
                    m2 = (mv << 1) | (sv & 1)
                    ls.append((m2 + sv) >> 1)
                    rs.append((m2 - sv) >> 1)
                subs = [ls, rs]
        else:
            raise ValueError(
                f"malformed FLAC: reserved channel assignment {ch_code}"
            )
        br.align()
        frame_end = br.pos >> 3
        crc16 = br.read(16)
        if _crc16(payload[frame_start:frame_end]) != crc16:
            raise ValueError("malformed FLAC: frame CRC-16 mismatch")
        pos = (br.pos + 7) >> 3
        for ch, s in enumerate(subs):
            channels_out[ch].extend(s)
        decoded += block_size
        del rate  # per-frame rate can vary; STREAMINFO's is authoritative

    if decoded != si["total"]:
        raise ValueError(
            f"malformed FLAC: decoded {decoded} frames, STREAMINFO "
            f"declares {si['total']}"
        )
    arr = np.array(channels_out, dtype=np.int64).T  # (frames, channels)
    return si["rate"], arr.astype(np.int32)
