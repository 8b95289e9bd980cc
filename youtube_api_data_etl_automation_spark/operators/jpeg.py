"""Pure-stdlib+numpy Huffman JPEG (ITU-T T.81) decoder — baseline,
extended-sequential, AND progressive.

Closes the dominant gap in the codec-free image path
(:mod:`.multimodal`): JPEG is the majority image format of any real web
corpus, and until r9 every JPEG payload landed in quarantine as
``error_kind='unsupported'``. This module decodes the Huffman subset
honestly end-to-end — no codec library, no approximation of the spec:

- marker segments: SOI, APPn/COM (skipped), DQT (8-bit and 16-bit
  precision), DHT (redefinable between scans), SOF0/SOF1/SOF2, SOS,
  DRI + RSTn restart intervals, EOI;
- entropy decode: canonical Huffman per T.81 Annex C (BITS/HUFFVAL →
  code table), bit-serial reader over the 0xFF00-destuffed scan, DC
  category + diff with per-component predictors (reset at restarts), AC
  run/size with ZRL and EOB, generic interleaved MCU layout for any
  per-component sampling factors (4:4:4, 4:2:2, 4:2:0, greyscale);
- progressive (T.81 Annex G, late r9): multi-scan spectral selection
  (DC/AC band splits over each component's own block grid) and
  successive approximation (DC raw-bit refinement, the G.1.2.3 AC
  refinement protocol with EOB runs and buffered correction bits),
  coefficients accumulated across scans then reconstructed in one
  batched einsum IDCT per component;
- reconstruction: dequantize, inverse zigzag, separable float64 IDCT
  (8x8 DCT-III basis matrix, numpy matmul per block batch), +128 level
  shift, clip/round to uint8, nearest-neighbor (pixel-replication)
  chroma upsampling, BT.601 YCbCr→RGB.

Honest refusals (NotImplementedError → a quarantine row with
``error_kind='unsupported'``): arithmetic coding, lossless/differential/
hierarchical SOFs, non-8-bit precision, frames that declare more than
``multimodal.DECODE_PIXEL_BUDGET`` pixels (checked at the SOF, before
any buffer is sized from the header), plus scans whose entropy-coded byte count
exceeds ``JPEG_ENTROPY_BYTE_BUDGET`` — the bit-serial Huffman loop is
the same inherently-sequential Python hot spot as the PNG Average/Paeth
recurrence (see multimodal.PNG_SLOW_FILTER_BYTE_BUDGET), so the budget
bounds per-image decode latency instead of letting one 40-megapixel
photo stall an executor core. Structurally broken payloads raise
ValueError (→ 'corrupt'): refuse-rather-than-misreport, same posture
as the PNG/BMP/PPM decoders.

Scale posture: decode runs inside the same Arrow-batched ``mapInPandas``
as every other payload op (one task = one partition of payloads, no
shuffle, no driver involvement). Throughput is ~1-3 µs per Huffman
symbol of Python — fine for thumbnails and unit fixtures, deliberately
budget-capped for bulk hi-res; at 100 TB route imagery through a real
codec library on the executors and keep this path for environments
without one.
"""

from __future__ import annotations

import struct

from .multimodal import DECODE_PIXEL_BUDGET, check_budget

# Per-image budget of entropy-coded scan bytes (post-destuffing input to
# the bit-serial Huffman loop). 1 MB of scan data is roughly a couple of
# megapixels at web quality — ~1-2 s of Python worst case. Same
# recoverable-refusal contract as the PNG slow-filter budget.
JPEG_ENTROPY_BYTE_BUDGET = 1_000_000

# T.81 Figure A.6 zigzag: _ZIGZAG[i] = (row, col) of the i-th coefficient.
_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

_SOF_UNSUPPORTED = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _build_huffman(counts: list[int], symbols: bytes) -> dict:
    """Canonical Huffman table per T.81 Annex C: ``counts[l-1]`` codes of
    length ``l`` (1..16), symbols in code order. Returns
    {(length, code_int): symbol}."""
    if sum(counts) != len(symbols):
        raise ValueError(
            f"malformed JPEG: DHT declares {sum(counts)} codes but "
            f"carries {len(symbols)} symbols"
        )
    table: dict = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if code >= (1 << length):
                raise ValueError("malformed JPEG: DHT code overflow")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """Bit-serial reader over the destuffed entropy-coded segment.
    ``np.unpackbits`` turns the segment into a flat 0/1 list once; the
    decode loop then only does list indexing (the cheapest per-bit
    operation available without a compiled extension)."""

    def __init__(self, data: bytes):
        import numpy as np

        self.bits = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8)
        ).tolist()
        self.pos = 0

    def read_bit(self) -> int:
        try:
            b = self.bits[self.pos]
        except IndexError:
            raise ValueError(
                "malformed JPEG: entropy-coded data ran out mid-block"
            ) from None
        self.pos += 1
        return b

    def receive(self, n: int) -> int:
        """n raw bits, MSB first (T.81 RECEIVE)."""
        v = 0
        bits = self.bits
        pos = self.pos
        if pos + n > len(bits):
            raise ValueError(
                "malformed JPEG: entropy-coded data ran out mid-block"
            )
        for i in range(n):
            v = (v << 1) | bits[pos + i]
        self.pos = pos + n
        return v

    def decode_symbol(self, table: dict) -> int:
        """Walk the canonical code bit by bit (≤16 dict probes)."""
        code = 0
        bits = self.bits
        pos = self.pos
        n = len(bits)
        for length in range(1, 17):
            if pos >= n:
                raise ValueError(
                    "malformed JPEG: entropy-coded data ran out mid-symbol"
                )
            code = (code << 1) | bits[pos]
            pos += 1
            sym = table.get((length, code))
            if sym is not None:
                self.pos = pos
                return sym
        raise ValueError("malformed JPEG: invalid Huffman code in scan")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t raw bits to the signed difference/coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _idct_matrix():
    import numpy as np

    # Orthonormal DCT-II basis T[k, n] = c(k) * cos((2n+1) k pi / 16),
    # c(0)=sqrt(1/8), c(k)=sqrt(2/8): pixels = T.T @ coeff @ T.
    n = np.arange(8)
    k = n.reshape(8, 1)
    t = np.cos((2 * n + 1) * k * np.pi / 16)
    t[0] *= np.sqrt(1.0 / 2.0)
    return t * 0.5


def _parse_segments(payload: bytes, all_scans: bool = False):
    """Walk the marker stream up to (and including) the first SOS — or,
    with ``all_scans``, through EVERY scan (progressive frames): each
    scan then carries its destuffed data/restart offsets plus a snapshot
    of the Huffman tables and restart interval in effect (both may be
    redefined between scans). Returns
    (qtables, htables, frame, restart_interval, scans_or_scan)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("malformed JPEG: missing SOI marker")
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) -> code table
    frame = None
    restart_interval = 0
    scan = None
    scans: list[dict] = []
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(
                f"malformed JPEG: expected marker at offset {pos}, "
                f"got 0x{payload[pos]:02x}"
            )
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI before SOS
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError(
                f"malformed JPEG: segment 0x{marker:02x} declares "
                f"{seg_len - 2} bytes but only {len(body)} remain"
            )
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    vals = list(body[i : i + 64])
                    i += 64
                elif pq == 1:
                    vals = list(struct.unpack_from(">64H", body, i))
                    i += 128
                else:
                    raise ValueError(f"malformed JPEG: DQT precision {pq}")
                if len(vals) < 64:
                    raise ValueError("malformed JPEG: truncated DQT")
                qtables[tq] = vals
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                total = sum(counts)
                symbols = body[i + 17 : i + 17 + total]
                htables[(tc, th)] = _build_huffman(counts, symbols)
                i += 17 + total
        elif marker in (0xC0, 0xC1, 0xC2):  # Huffman sequential/progressive
            if len(body) < 6:
                raise ValueError("malformed JPEG: truncated SOF body")
            precision = body[0]
            if precision != 8:
                raise NotImplementedError(
                    f"JPEG sample precision {precision} not supported "
                    "(baseline is 8-bit)"
                )
            h, w = struct.unpack_from(">HH", body, 1)
            if h == 0 or w == 0:
                raise ValueError(f"malformed JPEG: zero dimension ({w}x{h})")
            check_budget(f"JPEG {w}x{h}", w * h, DECODE_PIXEL_BUDGET, "pixel")
            ncomp = body[5]
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("malformed JPEG: truncated SOF components")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append({
                    "id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq,
                })
            if any(c["h"] < 1 or c["v"] < 1 or c["h"] > 4 or c["v"] > 4
                   for c in comps):
                raise ValueError("malformed JPEG: bad sampling factor")
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"JPEG {_SOF_UNSUPPORTED[marker]} not supported; only "
                "baseline/extended-sequential Huffman decodes without a "
                "codec library"
            )
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("malformed JPEG: truncated DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("malformed JPEG: SOS before SOF")
            if not body or len(body) < 4 + 2 * body[0]:
                raise ValueError("malformed JPEG: truncated SOS body")
            ns = body[0]
            sel = []
            for si in range(ns):
                cs, tds = body[1 + 2 * si : 3 + 2 * si]
                sel.append({"cs": cs, "td": tds >> 4, "ta": tds & 0x0F})
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            scan = {"sel": sel, "data_at": pos + 2 + seg_len,
                    "ss": ss, "se": se, "ah": ahal >> 4, "al": ahal & 0x0F,
                    "ri": restart_interval, "huff": dict(htables)}
            scans.append(scan)
            if not all_scans:
                break
            data, restarts, pos = _destuff(payload, scan["data_at"])
            scan["data"], scan["restarts"] = data, restarts
            continue
        # APPn / COM / anything else: skipped
        pos += 2 + seg_len
    if frame is None or scan is None:
        raise ValueError("malformed JPEG: missing SOF/SOS")
    return qtables, htables, frame, restart_interval, \
        (scans if all_scans else scan)


def _destuff(payload: bytes, start: int):
    """Collect the entropy-coded segment from ``start``: drop 0xFF00
    stuffing, record restart-marker positions (as byte offsets in the
    destuffed stream), stop at the next real marker. Returns
    (data, restarts, position of the terminating marker)."""
    out = bytearray()
    restarts = []
    pos = start
    n = len(payload)
    while pos < n:
        b = payload[pos]
        if b != 0xFF:
            out.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            pos = n
            break
        m = payload[pos + 1]
        if m == 0x00:
            out.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            restarts.append(len(out))
            pos += 2
        else:  # EOI or next segment
            break
    return bytes(out), restarts, pos


def decode_baseline_jpeg(payload: bytes):
    """Decode a Huffman JPEG — baseline, extended-sequential, or
    progressive (dispatched on the SOF marker) — to an HxWx3 uint8 RGB
    array (greyscale replicated across channels). See the module
    docstring for the supported subset and refusal contract."""
    import numpy as np

    qtables, htables, frame, restart_interval, scan = _parse_segments(payload)
    if frame.get("progressive"):
        return _decode_progressive(payload)
    data, restart_offsets, _ = _destuff(payload, scan["data_at"])
    check_budget("JPEG", len(data), JPEG_ENTROPY_BYTE_BUDGET,
                 "entropy-coded byte")

    comps = frame["comps"]
    sel_by_cid = {s["cs"]: s for s in scan["sel"]}
    if set(sel_by_cid) != {c["id"] for c in comps}:
        raise NotImplementedError(
            "JPEG multi-scan frame (scan components != frame components) "
            "not supported; baseline interleaved scans only"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len(comps) == 1:
        # single-component scans are laid out block-by-block regardless
        # of declared factors (T.81 A.2.2)
        comps[0]["h"] = comps[0]["v"] = hmax = vmax = 1
    h_img, w_img = frame["h"], frame["w"]
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w_img + mcu_w - 1) // mcu_w
    mcus_y = (h_img + mcu_h - 1) // mcu_h

    # per component: block grid sized to the MCU cover
    planes = []
    for c in comps:
        if c["tq"] not in qtables:
            raise ValueError(
                f"malformed JPEG: component references missing quant "
                f"table {c['tq']}"
            )
        bw = mcus_x * c["h"]
        bh = mcus_y * c["v"]
        planes.append(np.zeros((bh * 8, bw * 8), dtype=np.float64))

    # dequant tables in natural (row, col) order, one 8x8 per component
    deq = []
    for c in comps:
        q = np.empty((8, 8), dtype=np.float64)
        for i, (r, cc) in enumerate(_ZIGZAG):
            q[r, cc] = qtables[c["tq"]][i]
        deq.append(q)

    for c in comps:
        s = sel_by_cid[c["id"]]
        if (0, s["td"]) not in htables or (1, s["ta"]) not in htables:
            raise ValueError(
                "malformed JPEG: scan references missing Huffman table"
            )

    tmat = _idct_matrix()
    reader = _BitReader(data)
    restart_iter = iter(restart_offsets)
    pred = {c["id"]: 0 for c in comps}
    zig = _ZIGZAG
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and \
                    mcu_index % restart_interval == 0:
                # byte-align and jump to the recorded restart boundary
                try:
                    boundary = next(restart_iter)
                except StopIteration:
                    raise ValueError(
                        "malformed JPEG: missing RST marker at restart "
                        "interval"
                    ) from None
                reader.pos = boundary * 8
                for cid in pred:
                    pred[cid] = 0
            for ci, c in enumerate(comps):
                s = sel_by_cid[c["id"]]
                dc_tab = htables.get((0, s["td"]))
                ac_tab = htables.get((1, s["ta"]))
                if dc_tab is None or ac_tab is None:
                    raise ValueError(
                        "malformed JPEG: scan references undefined "
                        "Huffman table"
                    )
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros((8, 8), dtype=np.float64)
                        t = reader.decode_symbol(dc_tab)
                        if t > 11:
                            raise ValueError(
                                "malformed JPEG: DC category > 11"
                            )
                        diff = _extend(reader.receive(t), t)
                        pred[c["id"]] += diff
                        coef[0, 0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_tab)
                            r, sz = rs >> 4, rs & 0x0F
                            if sz == 0:
                                if r == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "malformed JPEG: AC run past block end"
                                )
                            zr, zc = zig[k]
                            coef[zr, zc] = _extend(reader.receive(sz), sz)
                            k += 1
                        block = tmat.T @ (coef * deq[ci]) @ tmat + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_index += 1

    return _finish(planes, comps, hmax, vmax, h_img, w_img)


def _finish(planes, comps, hmax, vmax, h_img, w_img):
    """Shared reconstruction tail: replication upsample to full
    resolution, crop to the image, greyscale broadcast or BT.601
    YCbCr→RGB, clip/round to uint8."""
    import numpy as np

    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if vmax % c["v"] or hmax % c["h"]:
            # non-integer ratios are spec-legal but vanishingly rare
            raise NotImplementedError(
                f"JPEG fractional chroma sampling ({c['h']}x{c['v']} vs "
                f"max {hmax}x{vmax}) not supported"
            )
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h_img, :w_img])

    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(full) != 3:
        raise NotImplementedError(
            f"JPEG with {len(full)} components not supported (greyscale "
            "or YCbCr only; CMYK needs a codec library)"
        )
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_progressive(payload: bytes):
    """Progressive (SOF2) Huffman JPEG decode — T.81 Annex G: per-scan
    spectral selection (Ss..Se bands, DC and AC split) AND successive
    approximation (Ah/Al bit-plane refinement, incl. the G.1.2.3 AC
    refinement protocol with EOB runs and correction bits). Coefficients
    accumulate in zigzag order across scans; reconstruction then runs as
    one batched dequant + IDCT per component. Restart intervals reset DC
    predictors and the EOB run and re-align the reader, exactly as in
    the sequential path."""
    import numpy as np

    qtables, _, frame, _, scans = _parse_segments(payload, all_scans=True)
    total = sum(len(sc["data"]) for sc in scans)
    check_budget("JPEG", total, JPEG_ENTROPY_BYTE_BUDGET, "entropy-coded byte")
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len(comps) == 1:
        comps[0]["h"] = comps[0]["v"] = hmax = vmax = 1
    h_img, w_img = frame["h"], frame["w"]
    mcus_x = (w_img + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h_img + 8 * vmax - 1) // (8 * vmax)
    comp_by_id = {}
    coef = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qtables:
            raise ValueError(
                f"malformed JPEG: component references missing quant "
                f"table {c['tq']}"
            )
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        # non-interleaved scans cover the component's OWN block grid
        # (T.81 A.2.2), not the MCU-padded cover
        c["bw_n"] = ((w_img * c["h"] + hmax - 1) // hmax + 7) // 8
        c["bh_n"] = ((h_img * c["v"] + vmax - 1) // vmax + 7) // 8
        c["ci"] = ci
        comp_by_id[c["id"]] = c
        coef.append(np.zeros((c["bh"], c["bw"], 64), dtype=np.int64))

    for sc in scans:
        reader = _BitReader(sc["data"])
        restart_iter = iter(sc["restarts"])
        ri = sc["ri"]
        ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
        if ss > se or se > 63:
            raise ValueError(f"malformed JPEG: scan band {ss}..{se}")
        sel = sc["sel"]
        for s_ in sel:
            if s_["cs"] not in comp_by_id:
                raise ValueError(
                    f"malformed JPEG: scan selects unknown component "
                    f"{s_['cs']}"
                )

        def do_restart(preds, eob_box):
            try:
                boundary = next(restart_iter)
            except StopIteration:
                raise ValueError(
                    "malformed JPEG: missing RST marker at restart "
                    "interval"
                ) from None
            reader.pos = boundary * 8
            for cid in preds:
                preds[cid] = 0
            eob_box[0] = 0

        if ss == 0:
            # DC scan (the only scan kind that may interleave)
            if se != 0:
                raise ValueError(
                    "malformed JPEG: progressive scan mixes DC and AC"
                )
            preds = {s_["cs"]: 0 for s_ in sel}
            eob_box = [0]

            def dc_block(block, s_):
                if ah == 0:
                    dc_tab = sc["huff"].get((0, s_["td"]))
                    if dc_tab is None:
                        raise ValueError(
                            "malformed JPEG: scan references undefined "
                            f"DC Huffman table {s_['td']}"
                        )
                    t = reader.decode_symbol(dc_tab)
                    if t > 11:
                        raise ValueError("malformed JPEG: DC category > 11")
                    preds[s_["cs"]] += _extend(reader.receive(t), t)
                    block[0] = preds[s_["cs"]] << al
                else:
                    if reader.read_bit():
                        block[0] |= 1 << al
            if len(sel) > 1:
                unit = 0
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        if ri and unit and unit % ri == 0:
                            do_restart(preds, eob_box)
                        for s_ in sel:
                            c = comp_by_id[s_["cs"]]
                            for by in range(c["v"]):
                                for bx in range(c["h"]):
                                    dc_block(
                                        coef[c["ci"]][my * c["v"] + by,
                                                      mx * c["h"] + bx],
                                        s_,
                                    )
                        unit += 1
            else:
                s_ = sel[0]
                c = comp_by_id[s_["cs"]]
                unit = 0
                for by in range(c["bh_n"]):
                    for bx in range(c["bw_n"]):
                        if ri and unit and unit % ri == 0:
                            do_restart(preds, eob_box)
                        dc_block(coef[c["ci"]][by, bx], s_)
                        unit += 1
            continue

        # AC scan: single component, raster over its own grid
        if len(sel) != 1:
            raise ValueError(
                "malformed JPEG: progressive AC scan must be "
                "non-interleaved (one component)"
            )
        s_ = sel[0]
        c = comp_by_id[s_["cs"]]
        ac_tab = sc["huff"].get((1, s_["ta"]))
        if ac_tab is None:
            raise ValueError(
                "malformed JPEG: scan references missing Huffman table"
            )
        grid = coef[c["ci"]]
        eobrun = 0
        p1 = 1 << al
        m1 = -p1
        unit = 0
        dummy_preds: dict = {}
        for by in range(c["bh_n"]):
            for bx in range(c["bw_n"]):
                if ri and unit and unit % ri == 0:
                    box = [eobrun]
                    do_restart(dummy_preds, box)
                    eobrun = box[0]
                unit += 1
                block = grid[by, bx]
                if ah == 0:
                    # first pass for this band (G.1.2.2)
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = reader.decode_symbol(ac_tab)
                        r, sz = rs >> 4, rs & 0x0F
                        if sz == 0:
                            if r == 15:
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.receive(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError(
                                "malformed JPEG: AC run past band end"
                            )
                        block[k] = _extend(reader.receive(sz), sz) << al
                        k += 1
                else:
                    # refinement pass (G.1.2.3, libjpeg structure)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = reader.decode_symbol(ac_tab)
                            r, sz = rs >> 4, rs & 0x0F
                            if sz == 0:
                                if r < 15:
                                    eobrun = (1 << r)
                                    if r:
                                        eobrun += reader.receive(r)
                                    break
                                # r == 15: ZRL — advance 16 zero-history
                                # positions (correction bits ride along)
                                val = 0
                            else:
                                if sz != 1:
                                    raise ValueError(
                                        "malformed JPEG: refinement "
                                        "coefficient size != 1"
                                    )
                                val = p1 if reader.read_bit() else m1
                            while k <= se:
                                if block[k] != 0:
                                    if reader.read_bit() and \
                                            (block[k] & p1) == 0:
                                        block[k] += p1 if block[k] >= 0 \
                                            else m1
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if sz and k <= se:
                                block[k] = val
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            if block[k] != 0:
                                if reader.read_bit() and \
                                        (block[k] & p1) == 0:
                                    block[k] += p1 if block[k] >= 0 else m1
                            k += 1
                        eobrun -= 1

    # batched reconstruction: dequant in zigzag space, scatter to
    # natural order, one einsum IDCT per component
    tmat = _idct_matrix()
    zr = np.array([r for r, _ in _ZIGZAG])
    zc = np.array([cc for _, cc in _ZIGZAG])
    planes = []
    for ci, c in enumerate(comps):
        qz = np.array(qtables[c["tq"]], dtype=np.float64)
        deq = coef[ci].astype(np.float64) * qz
        nat = np.zeros((c["bh"], c["bw"], 8, 8), dtype=np.float64)
        nat[:, :, zr, zc] = deq
        blocks = np.einsum("ij,xyjk,kl->xyil", tmat.T, nat, tmat) + 128.0
        planes.append(
            blocks.transpose(0, 2, 1, 3).reshape(c["bh"] * 8, c["bw"] * 8)
        )
    return _finish(planes, comps, hmax, vmax, h_img, w_img)
