"""MPEG-1 Audio Layer I subband decoder (ISO/IEC 11172-3).

MP3-family payloads are the most common audio format in a crawl
corpus. The essence layers split by what is honestly recallable:

- **Layer I decodes here, for real, to SUBBAND samples.** Everything
  it needs is closed-form: the scalefactor table is the geometric
  series ``sf = 2.0 * 2**(-idx/3)`` (Table 3-B.1), allocations are raw
  4-bit widths (``nb = alloc + 1``), and requantization is
  ``s'' = (2**nb / (2**nb - 1)) * (s''' + 2**(1 - nb))`` over the
  inverted-sign-bit two's-complement fraction ``s'''`` (§2.4.3.1, a
  symmetric midtread quantizer with ``2**nb - 1`` used codes — the
  all-ones code is the unused one). One frame = 12 samples x 32 bands
  per channel = 384 PCM-equivalent samples.
- **No PCM synthesis.** The polyphase matrixing
  ``N[i][k] = cos((16 + i) * (2k + 1) * pi / 64)`` is closed-form, but
  the 512-coefficient synthesis window (Table 3-B.3) is tabulated,
  not derivable. Recalling it wrong and pairing it with a same-table
  in-repo test encoder would mirror-bug nonconformance — the
  arithmetic-JPEG policy (do not revisit without the spec text). All
  subband-domain statistics (energy, RMS, band centroid) are exact
  without it; see :func:`multimodal.audio_subband_features`.
- **Layer II decodes here too (r12).** Its tabulated data is the
  allocation tables 3-B.2a-d — four short tables of quantizer-step
  ladders with strong internal structure (powers-of-two-minus-one
  plus the grouped 3/5/9 steps) that IS reliably recallable, unlike
  Layer III's 34 Huffman tables — and the Table 3-B.4 requantization
  constants, which are closed-form: for ``steps = 2**n - 1``,
  ``C = 2**n/steps`` and ``D = 2**(1-n)`` (the Layer I formula); the
  two non-power grouped quantizers are ``5: C=8/5, D=1/2`` and
  ``9: C=16/9, D=1/2``. Grouped codes carry 3 samples in one 5/7/10-
  bit codeword, degrouped by repeated ``mod steps``.
- **MPEG-2 LSF (22.05/24/16 kHz) Layers I and II decode too (r13,
  ISO/IEC 13818-3).** The LSF deltas are structural: halved sampling
  rates, their own bitrate ladders, and for Layer II ONE allocation
  table (Annex B Table B.1) built from the SAME 3/5/9-headed low-rate
  ladders as MPEG-1's 3-B.2c/d — no new tabulated values to recall,
  only the row split (4 x nbal=4, 7 x nbal=3, 19 x nbal=2, sblimit
  30). Frame layout, scfsi, grouping, and requantization carry over
  verbatim.
- **Layer III needs 34 Huffman tables** and refuses as 'unsupported'
  under the mirror-bug policy (do not implement without spec text);
  MPEG-2.5 is a Layer III-only unofficial extension, so its rates
  refuse for Layers I/II as well.

External-anchor status (r13, ADVICE r12): a third-party-encoded
fixture frame (dist10/twolame) would break the encoder/decoder table
symmetry, but no MP2 encoder exists in this container and fetching
one is out of scope; the standing mitigations are the STRUCTURAL
table checks (the 3-B.2 ladders are powers-of-two-minus-one plus the
grouped 3/5/9 family; the LSF table reuses the ALREADY-ORACLE-CHECKED
low-rate ladders with only a row split recalled fresh) and the
closed-form requantization constants. If a reference MP2 sample ever
lands in the environment, add it as a golden row first.

CRC (protection_bit == 0): CRC-16 with polynomial x^16+x^15+x^2+1
(0x8005, MSB-first, init 0xFFFF) over header bytes 2-3 plus the bit
allocation field — the Layer I protected region per §2.4.3.1. A
mismatch refuses the frame as corrupt.

Reference anchor: the reference pipeline's media payloads are the
YouTube-shaped corpus (fetch_youtube_data.py:121-134 tracks video
metadata); audio essence features are the north-star multimodal
column this engine adds on top.
"""

from __future__ import annotations

import numpy as np

# frames x 384 samples x channels; 16M samples ~ 6 min stereo @44.1k,
# a few seconds of pure-Python bit reading worst case. None disables.
MPEG_SAMPLE_BUDGET = 1 << 24

_L1_BITRATES = (32, 64, 96, 128, 160, 192, 224, 256,
                288, 320, 352, 384, 416, 448)  # kbit/s, index 1..14
_RATES = {0: 44100, 1: 48000, 2: 32000}

# MPEG-2 LSF (ISO/IEC 13818-3, r13): halved sampling rates and their
# own bitrate ladders; frame layouts and requantization are unchanged
_RATES_LSF = {0: 22050, 1: 24000, 2: 16000}
_L1_LSF_BITRATES = (32, 48, 56, 64, 80, 96, 112, 128,
                    144, 160, 176, 192, 224, 256)
_L2_LSF_BITRATES = (8, 16, 24, 32, 40, 48, 56, 64,
                    80, 96, 112, 128, 144, 160)

# Table 3-B.1 is the geometric series 2 * 2^(-idx/3), idx 0..62
_SCALEFACTORS = tuple(2.0 * 2.0 ** (-idx / 3.0) for idx in range(63))


class _BitReader:
    """MSB-first bit reader over one frame's bytes."""

    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, start_bit: int, end_bit: int):
        self.data = data
        self.pos = start_bit
        self.end = end_bit

    def read(self, n: int) -> int:
        if self.pos + n > self.end:
            raise ValueError("malformed MPEG audio: frame bits exhausted")
        v = 0
        pos = self.pos
        data = self.data
        for _ in range(n):
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v


def _crc16(bits: list[int]) -> int:
    """CRC-16, poly 0x8005 MSB-first, init 0xFFFF, over a bit list."""
    crc = 0xFFFF
    for b in bits:
        hi = (crc >> 15) & 1
        crc = (crc << 1) & 0xFFFF
        if hi ^ b:
            crc ^= 0x8005
    return crc


def _skip_id3v2(payload: bytes) -> int:
    if payload[:3] != b"ID3":
        return 0
    if len(payload) < 10:
        raise ValueError("malformed MPEG audio: truncated ID3v2 header")
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("malformed MPEG audio: non-syncsafe ID3 size")
        size = (size << 7) | b
    return 10 + size


def _requantize(code: int, nb: int, sf: float) -> float:
    half = 1 << (nb - 1)
    c = code ^ half  # invert the sign bit
    if c >= half:
        c -= 1 << nb
    s3 = c / half
    return sf * (float(1 << nb) / ((1 << nb) - 1)) * (s3 + 2.0 ** (1 - nb))


# ---------------------------------------------------------------------------
# Layer II (r12): allocation tables 3-B.2a-d + grouped quantizers
# ---------------------------------------------------------------------------

_L2_BITRATES = (32, 48, 56, 64, 80, 96, 112, 128,
                160, 192, 224, 256, 320, 384)  # kbit/s, index 1..14

# Table 3-B.4: the grouped quantizers carry 3 samples in one codeword
_L2_GROUP_BITS = {3: 5, 5: 7, 9: 10}  # steps -> bits per triplet

# Tables 3-B.2a-d quantizer ladders: allocation index (1-based) -> steps
_Q_HIGH_03 = (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
              8191, 16383, 32767, 65535)
_Q_HIGH_310 = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
               4095, 8191, 65535)
_Q_HIGH_1122 = (3, 5, 7, 9, 15, 31, 65535)
_Q_HIGH_23UP = (3, 5, 65535)
_Q_LOW_01 = (3, 5, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
             8191, 16383, 32767)
_Q_LOW_2UP = (3, 5, 9, 15, 31, 63, 127)

# per-subband (nbal, ladder): 3-B.2a = first 27 rows, 3-B.2b = all 30;
# 3-B.2c = first 8 low rows, 3-B.2d = all 12
_ROWS_HIGH = (((4, _Q_HIGH_03),) * 3 + ((4, _Q_HIGH_310),) * 8
              + ((3, _Q_HIGH_1122),) * 12 + ((2, _Q_HIGH_23UP),) * 7)
_ROWS_LOW = ((4, _Q_LOW_01),) * 2 + ((3, _Q_LOW_2UP),) * 10

# MPEG-2 LSF Layer II allocation (13818-3 Annex B Table B.1): ONE
# table for every bitrate, 30 subbands, built from the SAME low-rate
# ladders as 3-B.2c/d (the 3/5/9-headed grouped family) — the
# structural recall anchor: no new ladder values, only the row split
# 4 x nbal=4 / 7 x nbal=3 / 19 x nbal=2
_ROWS_LSF = (((4, _Q_LOW_01),) * 4 + ((3, _Q_LOW_2UP),) * 7
             + ((2, (3, 5, 9)),) * 19)


def _l2_table(bitrate_kbps: int, nch: int, rate: int):
    """Allocation-table selection (ISO 11172-3 §2.4.2.2): by bitrate
    per channel and sampling rate. Low rates use 3-B.2c (8 subbands,
    44.1/48 kHz) or 3-B.2d (12 subbands, 32 kHz); mid rates 3-B.2a
    (27 subbands); high rates 3-B.2b (30 subbands) except 48 kHz,
    which stays on 3-B.2a."""
    # class boundaries are PER CHANNEL: <=48 low, 56-80 mid, 96+ high
    # (2-channel modes halve the total — stereo 96 total = 48/ch is a
    # LOW-rate stream, r12 review fix)
    if nch == 1:
        cls = 0 if bitrate_kbps <= 48 else 1 if bitrate_kbps <= 80 \
            else 2
    else:
        cls = 0 if bitrate_kbps <= 96 else 1 if bitrate_kbps <= 160 \
            else 2
    if cls == 0:
        return _ROWS_LOW[: 12 if rate == 32000 else 8]
    if cls == 1:
        return _ROWS_HIGH[:27]
    return _ROWS_HIGH[: 27 if rate == 48000 else 30]


def _l2_dequant(v: int, steps: int, sf: float) -> float:
    """Table 3-B.4 requantization ``s'' = C * (s''' + D)`` where s'''
    is the sign-bit-inverted two's-complement fraction of the nb-bit
    sample value; closed-form ``C = 2**nb/steps, D = 2**(1-nb)`` for
    ``steps = 2**nb - 1``, tabled ``(8/5, 1/2)`` / ``(16/9, 1/2)`` for
    the grouped 5- and 9-step quantizers."""
    if steps == 5:
        nb, c_const, d_const = 3, 8.0 / 5.0, 0.5
    elif steps == 9:
        nb, c_const, d_const = 4, 16.0 / 9.0, 0.5
    else:
        nb = steps.bit_length()
        c_const = float(1 << nb) / steps
        d_const = 2.0 ** (1 - nb)
    half = 1 << (nb - 1)
    c = v ^ half
    if c >= half:
        c -= 1 << nb
    return sf * c_const * (c / half + d_const)


def decode_layer2(payload: bytes,
                  sample_budget: int | None = MPEG_SAMPLE_BUDGET,
                  ) -> tuple[int, np.ndarray]:
    """``(sample_rate, subbands[groups, channels, 32])`` for an MPEG-1
    Layer II stream — groups = 36 x n_frames (12 granules x 3 samples);
    each group row holds one requantized sample per subband (float64,
    exact per §2.4.3.2).

    Handles the four allocation tables (selected by bitrate/channel +
    sampling rate), grouped 3/5/9-step quantizers, scfsi scalefactor
    sharing, mono/stereo/dual/intensity-joint modes, padding slots,
    optional CRC-16 over allocation + scfsi, leading ID3v2 and
    trailing ID3v1 tags, and (r13) MPEG-2 LSF streams at 22.05/24/16
    kHz via the Annex B allocation table. Layer I/III refuse via the
    layer check; free-format and MPEG-2.5 refuse as unsupported;
    structural damage as corrupt."""
    pos = _skip_id3v2(payload)
    n = len(payload)
    if pos + 4 > n:
        raise ValueError("malformed MPEG audio: no frame header")

    frames: list[np.ndarray] = []
    rate = None
    nch_out = None
    while pos < n:
        if n - pos == 128 and payload[pos : pos + 3] == b"TAG":
            break  # trailing ID3v1
        if pos + 4 > n:
            raise ValueError("malformed MPEG audio: truncated frame header")
        b1, b2, b3, b4 = payload[pos : pos + 4]
        if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
            raise ValueError("malformed MPEG audio: lost frame sync")
        ver_bits = (b2 >> 3) & 0x3
        if ver_bits == 1:
            raise ValueError("malformed MPEG audio: reserved version")
        if ver_bits == 0:
            raise NotImplementedError(
                "MPEG-2.5 is a Layer III-only unofficial extension; "
                "no Layer II streams exist at its rates"
            )
        lsf = ver_bits == 2  # MPEG-2 LSF (r13)
        layer_code = (b2 >> 1) & 0x3
        if layer_code != 2:  # '10' = Layer II
            raise ValueError(
                "not a Layer II stream: use decode_subbands to "
                "dispatch by layer"
            )
        protected = not (b2 & 1)
        br_idx = (b3 >> 4) & 0xF
        if br_idx == 0:
            raise NotImplementedError(
                "free-format Layer II (bitrate index 0) needs frame-"
                "length discovery by sync scan; fixed-rate streams only"
            )
        if br_idx == 15:
            raise ValueError("malformed MPEG audio: invalid bitrate index")
        rate_idx = (b3 >> 2) & 0x3
        if rate_idx == 3:
            raise ValueError("malformed MPEG audio: reserved sample rate")
        frame_rate = (_RATES_LSF if lsf else _RATES)[rate_idx]
        bitrate_kbps = (_L2_LSF_BITRATES if lsf
                        else _L2_BITRATES)[br_idx - 1]
        padding = (b3 >> 1) & 1
        mode = (b4 >> 6) & 0x3
        mode_ext = (b4 >> 4) & 0x3
        nch = 1 if mode == 3 else 2
        if rate is None:
            rate, nch_out = frame_rate, nch
        elif (frame_rate, nch) != (rate, nch_out):
            raise ValueError(
                "malformed MPEG audio: rate/mode change mid-stream"
            )

        table = _ROWS_LSF if lsf \
            else _l2_table(bitrate_kbps, nch, frame_rate)
        sblimit = len(table)
        bound = min((mode_ext + 1) * 4, sblimit) if mode == 1 \
            else sblimit

        frame_len = 144 * bitrate_kbps * 1000 // frame_rate + padding
        if frame_len < 4 or pos + frame_len > n:
            raise ValueError("malformed MPEG audio: truncated frame")
        if sample_budget is not None and \
                (len(frames) + 1) * 36 * 32 * nch > sample_budget:
            raise NotImplementedError(
                f"MPEG stream exceeds the {sample_budget}-sample budget "
                "of the stdlib decoder; raise sample_budget or route to "
                "a codec library"
            )

        data_start = pos + 6 if protected else pos + 4
        br = _BitReader(payload, data_start * 8, (pos + frame_len) * 8)

        crc_bits: list[int] = []
        if protected:
            for byte in payload[pos + 2 : pos + 4]:
                crc_bits.extend((byte >> (7 - i)) & 1 for i in range(8))

        def read_tracked(nbits):
            v = br.read(nbits)
            if protected:
                crc_bits.extend(
                    (v >> (nbits - 1 - i)) & 1 for i in range(nbits))
            return v

        # -- bit allocation ------------------------------------------------
        # every 3-B.2 row's ladder has exactly 2^nbal - 1 entries, so
        # any nbal-bit allocation value is in range by construction
        alloc = [[0] * sblimit for _ in range(nch)]
        for sb in range(bound):
            for ch in range(nch):
                alloc[ch][sb] = read_tracked(table[sb][0])
        for sb in range(bound, sblimit):
            a = read_tracked(table[sb][0])
            for ch in range(nch):
                alloc[ch][sb] = a

        # -- scalefactor selection info ------------------------------------
        scfsi = [[0] * sblimit for _ in range(nch)]
        for sb in range(sblimit):
            for ch in range(nch):
                if alloc[ch][sb]:
                    scfsi[ch][sb] = read_tracked(2)
        if protected:
            crc_stored = int.from_bytes(payload[pos + 4 : pos + 6],
                                        "big")
            if _crc16(crc_bits) != crc_stored:
                raise ValueError("malformed MPEG audio: CRC-16 mismatch")

        # -- scalefactors (scfsi-shared across the 3 frame parts) ----------
        def read_sf():
            idx = br.read(6)
            if idx == 63:
                raise ValueError(
                    "malformed MPEG audio: forbidden scalefactor 63"
                )
            return _SCALEFACTORS[idx]

        sf = [[(0.0, 0.0, 0.0)] * sblimit for _ in range(nch)]
        for sb in range(sblimit):
            for ch in range(nch):
                if not alloc[ch][sb]:
                    continue
                s = scfsi[ch][sb]
                if s == 0:
                    sf[ch][sb] = (read_sf(), read_sf(), read_sf())
                elif s == 1:
                    a0, a2 = read_sf(), read_sf()
                    sf[ch][sb] = (a0, a0, a2)
                elif s == 2:
                    a = read_sf()
                    sf[ch][sb] = (a, a, a)
                else:
                    a0, a1 = read_sf(), read_sf()
                    sf[ch][sb] = (a0, a1, a1)

        # -- samples: 12 granules x 3 samples ------------------------------
        out = np.zeros((36, nch, 32), dtype=np.float64)

        def read_triplet(steps):
            g_bits = _L2_GROUP_BITS.get(steps)
            if g_bits is not None:
                code = br.read(g_bits)
                if code >= steps ** 3:
                    raise ValueError(
                        "malformed MPEG audio: grouped code out of range"
                    )
                v0 = code % steps
                code //= steps
                return (v0, code % steps, code // steps)
            nb = steps.bit_length()
            return (br.read(nb), br.read(nb), br.read(nb))

        for gr in range(12):
            part = gr // 4
            for sb in range(sblimit):
                if sb < bound:
                    for ch in range(nch):
                        a = alloc[ch][sb]
                        if not a:
                            continue
                        steps = table[sb][1][a - 1]
                        vals = read_triplet(steps)
                        for i, v in enumerate(vals):
                            out[gr * 3 + i, ch, sb] = _l2_dequant(
                                v, steps, sf[ch][sb][part])
                else:
                    a = alloc[0][sb]
                    if not a:
                        continue
                    steps = table[sb][1][a - 1]
                    vals = read_triplet(steps)
                    # intensity stereo: one sample stream, per-channel
                    # scalefactors (same contract as Layer I)
                    for i, v in enumerate(vals):
                        for ch in range(nch):
                            out[gr * 3 + i, ch, sb] = _l2_dequant(
                                v, steps, sf[ch][sb][part])
        frames.append(out)
        pos += frame_len

    if not frames:
        raise ValueError("malformed MPEG audio: no frames decoded")
    return rate, np.concatenate(frames, axis=0)


def probe_layer(payload: bytes) -> int:
    """Layer number (1/2/3) of the first MPEG-1 frame header (after an
    ID3v2 tag, if any) — the dispatch key for :func:`decode_subbands`."""
    pos = _skip_id3v2(payload)
    if pos + 4 > len(payload):
        raise ValueError("malformed MPEG audio: no frame header")
    b1, b2 = payload[pos], payload[pos + 1]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        raise ValueError("malformed MPEG audio: lost frame sync")
    layer_code = (b2 >> 1) & 0x3
    if layer_code == 0:
        raise ValueError("malformed MPEG audio: reserved layer")
    return 4 - layer_code


def decode_subbands(payload: bytes,
                    sample_budget: int | None = MPEG_SAMPLE_BUDGET,
                    ) -> tuple[int, int, np.ndarray]:
    """``(layer, sample_rate, subbands)`` — dispatch by the first frame
    header: Layer I and II decode exactly; Layer III refuses with the
    honest Huffman-table stub message."""
    layer = probe_layer(bytes(payload))
    if layer == 1:
        rate, sb = decode_layer1(payload, sample_budget)
        return 1, rate, sb
    if layer == 2:
        rate, sb = decode_layer2(payload, sample_budget)
        return 2, rate, sb
    raise NotImplementedError(
        "MPEG-1 Layer III (34 Huffman tables) needs tabulated spec "
        "data that cannot be recalled reliably; Layer I/II subband "
        "decode only — route to a codec-library executor image"
    )


def decode_layer1(payload: bytes,
                  sample_budget: int | None = MPEG_SAMPLE_BUDGET,
                  ) -> tuple[int, np.ndarray]:
    """``(sample_rate, subbands[groups, channels, 32])`` for an MPEG-1
    Layer I stream — groups = 12 x n_frames; each group row holds one
    requantized sample per subband (float64, exact per §2.4.3.1).

    Handles mono/stereo/dual/intensity-joint modes, padding slots,
    optional CRC-16 (verified), a leading ID3v2 tag and a trailing
    128-byte ID3v1 'TAG' block. Layer II/III and free-format refuse
    as unsupported; structural damage refuses as corrupt."""
    pos = _skip_id3v2(payload)
    n = len(payload)
    if pos + 4 > n:
        raise ValueError("malformed MPEG audio: no frame header")

    frames: list[np.ndarray] = []
    rate = None
    nch_out = None
    while pos < n:
        if n - pos == 128 and payload[pos : pos + 3] == b"TAG":
            break  # trailing ID3v1
        if pos + 4 > n:
            raise ValueError("malformed MPEG audio: truncated frame header")
        b1, b2, b3, b4 = payload[pos : pos + 4]
        if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
            raise ValueError("malformed MPEG audio: lost frame sync")
        ver_bits = (b2 >> 3) & 0x3
        if ver_bits == 1:
            raise ValueError("malformed MPEG audio: reserved version")
        if ver_bits == 0:
            raise NotImplementedError(
                "MPEG-2.5 is a Layer III-only unofficial extension; "
                "no Layer I streams exist at its rates"
            )
        lsf = ver_bits == 2  # MPEG-2 LSF (r13): only the rate/bitrate
        # tables change for Layer I — allocations stay raw 4-bit
        layer_code = (b2 >> 1) & 0x3
        if layer_code != 3:  # '11' = Layer I
            which = {1: "III (34 Huffman tables)",
                     2: "II (allocation tables 3-B.2a-d)",
                     0: "reserved"}[layer_code]
            if layer_code == 0:
                raise ValueError("malformed MPEG audio: reserved layer")
            raise NotImplementedError(
                f"MPEG-1 Layer {which} needs tabulated spec data that "
                "cannot be recalled reliably; Layer I subband decode "
                "only — route to a codec-library executor image"
            )
        protected = not (b2 & 1)  # protection_bit 0 = CRC present
        br_idx = (b3 >> 4) & 0xF
        if br_idx == 0:
            raise NotImplementedError(
                "free-format Layer I (bitrate index 0) needs frame-length "
                "discovery by sync scan; fixed-rate streams only"
            )
        if br_idx == 15:
            raise ValueError("malformed MPEG audio: invalid bitrate index")
        rate_idx = (b3 >> 2) & 0x3
        if rate_idx == 3:
            raise ValueError("malformed MPEG audio: reserved sample rate")
        frame_rate = (_RATES_LSF if lsf else _RATES)[rate_idx]
        bitrate = (_L1_LSF_BITRATES if lsf
                   else _L1_BITRATES)[br_idx - 1] * 1000
        padding = (b3 >> 1) & 1
        mode = (b4 >> 6) & 0x3
        mode_ext = (b4 >> 4) & 0x3
        nch = 1 if mode == 3 else 2
        bound = (mode_ext + 1) * 4 if mode == 1 else 32
        if rate is None:
            rate, nch_out = frame_rate, nch
        elif (frame_rate, nch) != (rate, nch_out):
            raise ValueError(
                "malformed MPEG audio: rate/mode change mid-stream"
            )

        slots = 12 * bitrate // frame_rate + padding
        frame_len = slots * 4
        if frame_len < 4 or pos + frame_len > n:
            raise ValueError("malformed MPEG audio: truncated frame")
        if sample_budget is not None and \
                (len(frames) + 1) * 12 * 32 * nch > sample_budget:
            raise NotImplementedError(
                f"MPEG stream exceeds the {sample_budget}-sample budget "
                "of the stdlib decoder; raise sample_budget or route to "
                "a codec library"
            )

        data_start = pos + 6 if protected else pos + 4
        br = _BitReader(payload, data_start * 8, (pos + frame_len) * 8)

        alloc = [[0] * 32 for _ in range(nch)]
        crc_bits: list[int] = []
        if protected:
            for byte in payload[pos + 2 : pos + 4]:
                crc_bits.extend((byte >> (7 - i)) & 1 for i in range(8))

        def read_alloc():
            v = br.read(4)
            if protected:
                crc_bits.extend((v >> (3 - i)) & 1 for i in range(4))
            if v == 15:
                raise ValueError(
                    "malformed MPEG audio: forbidden allocation 15"
                )
            return v

        for sb in range(bound):
            for ch in range(nch):
                alloc[ch][sb] = read_alloc()
        for sb in range(bound, 32):
            shared = read_alloc()
            for ch in range(nch):
                alloc[ch][sb] = shared
        if protected:
            (crc_stored,) = (int.from_bytes(payload[pos + 4 : pos + 6],
                                            "big"),)
            if _crc16(crc_bits) != crc_stored:
                raise ValueError("malformed MPEG audio: CRC-16 mismatch")

        sf = [[0.0] * 32 for _ in range(nch)]
        for sb in range(32):
            for ch in range(nch):
                if alloc[ch][sb]:
                    idx = br.read(6)
                    if idx == 63:
                        raise ValueError(
                            "malformed MPEG audio: forbidden scalefactor 63"
                        )
                    sf[ch][sb] = _SCALEFACTORS[idx]

        out = np.zeros((12, nch, 32), dtype=np.float64)
        for s in range(12):
            for sb in range(32):
                if sb < bound:
                    for ch in range(nch):
                        a = alloc[ch][sb]
                        if a:
                            code = br.read(a + 1)
                            out[s, ch, sb] = _requantize(
                                code, a + 1, sf[ch][sb])
                else:
                    a = alloc[0][sb]
                    if a:
                        code = br.read(a + 1)
                        # intensity stereo: one sample stream, per-
                        # channel scalefactors
                        for ch in range(nch):
                            out[s, ch, sb] = _requantize(
                                code, a + 1, sf[ch][sb])
        frames.append(out)
        pos += frame_len

    if not frames:
        raise ValueError("malformed MPEG audio: no frames decoded")
    return rate, np.concatenate(frames, axis=0)
