"""Baseline JPEG decoder tests (operators/jpeg.py).

The fixtures are built by a self-contained baseline JPEG ENCODER below —
forward DCT, quantization, canonical Huffman, byte stuffing, restart
markers — written independently of the decoder (explicit cos-formula
IDCT in the expected-pixel model vs the decoder's basis-matrix matmul),
so agreement is evidence, not circularity. JPEG is lossy, so tests
compare the decoder against the test's own reconstruction model
(dequant → IDCT → upsample-replicate → BT.601) with ±1 tolerance for
float rounding-order differences, plus exact assertions on DC-only
fixtures where the arithmetic is integral end-to-end.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import jpeg, multimodal

ZIGZAG = jpeg._ZIGZAG  # layout constant (T.81 Figure A.6), not logic

FLAT_Q = [16] * 64


# ---------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, n: int):
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:  # pad with 1s per spec
            self.put(1, 1)


def _dct2(block):
    """Forward DCT-II via the explicit cos formula (independent of the
    decoder's precomputed basis matrix)."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = np.sqrt(0.5) if u == 0 else 1.0
            cv = np.sqrt(0.5) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += block[x, y] * np.cos((2 * x + 1) * u * np.pi / 16) \
                        * np.cos((2 * y + 1) * v * np.pi / 16)
            out[u, v] = 0.25 * cu * cv * s
    return out


def _idct2(coef):
    """Inverse DCT via the explicit cos formula."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = np.sqrt(0.5) if u == 0 else 1.0
                    cv = np.sqrt(0.5) if v == 0 else 1.0
                    s += cu * cv * coef[u, v] \
                        * np.cos((2 * x + 1) * u * np.pi / 16) \
                        * np.cos((2 * y + 1) * v * np.pi / 16)
            out[x, y] = 0.25 * s
    return out


def _rgb_to_ycbcr(rgb):
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return [np.round(y), np.round(cb), np.round(cr)]


def _pad_to(plane, bh, bw):
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _quantized_blocks(plane, q8, bh, bw):
    """Plane -> {(by, bx): quantized 8x8 int coefficient block}."""
    padded = _pad_to(plane, bh * 8, bw * 8)
    out = {}
    for by in range(bh):
        for bx in range(bw):
            blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            out[(by, bx)] = np.round(_dct2(blk) / q8).astype(np.int64)
    return out


def _encode_jpeg(pixels, sampling=None, q=FLAT_Q, restart_interval=0,
                 q_precision=0, sof_marker=0xC0):
    """Minimal baseline encoder: one shared quant table, one DC + one AC
    Huffman table (all used symbols at one canonical code length)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    grey = pixels.ndim == 2
    ncomp = 1 if grey else 3
    sampling = sampling or ([(1, 1)] if grey else [(2, 2), (1, 1), (1, 1)])
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    h_img, w_img = pixels.shape[:2]
    q8 = np.empty((8, 8))
    for i, (r, c) in enumerate(ZIGZAG):
        q8[r, c] = q[i]

    planes = [pixels.astype(np.float64)] if grey else _rgb_to_ycbcr(pixels)
    # subsample by box average to each component's grid
    mcus_x = (w_img + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h_img + 8 * vmax - 1) // (8 * vmax)
    comp_blocks = []
    for ci, (sh, sv) in enumerate(sampling):
        p = planes[ci]
        fy, fx = vmax // sv, hmax // sh
        if fy > 1 or fx > 1:
            ph = (p.shape[0] + fy - 1) // fy * fy
            pw = (p.shape[1] + fx - 1) // fx * fx
            p = _pad_to(p, ph, pw)
            p = np.round(
                p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
            )
        comp_blocks.append(
            _quantized_blocks(p, q8, mcus_y * sv, mcus_x * sh)
        )

    # entropy-code all MCUs, collecting symbols for the Huffman tables
    # first pass: gather (dc categories, ac run/size symbols)
    def mcu_symbols():
        pred = [0] * ncomp
        for my in range(mcus_y):
            for mx in range(mcus_x):
                mi = my * mcus_x + mx
                if restart_interval and mi and mi % restart_interval == 0:
                    pred = [0] * ncomp
                for ci, (sh, sv) in enumerate(sampling):
                    for by in range(sv):
                        for bx in range(sh):
                            blk = comp_blocks[ci][(my * sv + by, mx * sh + bx)]
                            dc = int(blk[0, 0])
                            diff = dc - pred[ci]
                            pred[ci] = dc
                            zz = [int(blk[r, c]) for (r, c) in ZIGZAG]
                            yield ("dc", _category(diff), diff)
                            run = 0
                            for k in range(1, 64):
                                if zz[k] == 0:
                                    run += 1
                                    continue
                                while run > 15:
                                    yield ("ac", 0xF0, 0)
                                    run -= 16
                                sz = _category(zz[k])
                                yield ("ac", (run << 4) | sz, zz[k])
                                run = 0
                            if run:
                                yield ("ac", 0x00, 0)
                yield ("mcu_end", mi, 0)

    dc_syms = sorted({s for kind, s, _ in mcu_symbols() if kind == "dc"})
    ac_syms = sorted({s for kind, s, _ in mcu_symbols() if kind == "ac"})

    def canonical(symbols):
        length = max(2, (len(symbols) + 1).bit_length())
        counts = [0] * 16
        counts[length - 1] = len(symbols)
        codes = {sym: (length, i) for i, sym in enumerate(symbols)}
        return counts, codes

    dc_counts, dc_codes = canonical(dc_syms)
    ac_counts, ac_codes = canonical(ac_syms)

    bw_ = _BitWriter()
    scan = bytearray()
    n_mcus = mcus_y * mcus_x
    for kind, s, v in mcu_symbols():
        if kind == "mcu_end":
            mi = s
            if restart_interval and mi + 1 < n_mcus \
                    and (mi + 1) % restart_interval == 0:
                bw_.flush()
                scan += bw_.out
                bw_.out = bytearray()
                scan += bytes([0xFF, 0xD0 + (mi // restart_interval) % 8])
            continue
        ln, code = dc_codes[s] if kind == "dc" else ac_codes[s]
        bw_.put(code, ln)
        t = s & 0x0F if kind == "ac" else s
        if t:
            bits = v if v > 0 else v + (1 << t) - 1
            bw_.put(bits, t)
    bw_.flush()
    scan += bw_.out

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    if q_precision == 0:
        out += seg(0xDB, bytes([0x00]) + bytes(q))
    else:
        out += seg(0xDB, bytes([0x10]) + struct.pack(">64H", *q))
    sof = bytes([8]) + struct.pack(">HH", h_img, w_img) + bytes([ncomp])
    for ci, (sh, sv) in enumerate(sampling):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += seg(sof_marker, sof)
    for tc, counts, codes, syms in (
        (0, dc_counts, dc_codes, dc_syms),
        (1, ac_counts, ac_codes, ac_syms),
    ):
        out += seg(0xC4, bytes([tc << 4]) + bytes(counts) + bytes(syms))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"

    return bytes(out), comp_blocks, sampling, (mcus_y, mcus_x)


def _expected_pixels(comp_blocks, sampling, q, h_img, w_img):
    """The test's own reconstruction model: dequant -> explicit-formula
    IDCT -> +128 -> replicate-upsample -> BT.601 -> clip/round."""
    q8 = np.empty((8, 8))
    for i, (r, c) in enumerate(ZIGZAG):
        q8[r, c] = q[i]
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    planes = []
    for ci, (sh, sv) in enumerate(sampling):
        blocks = comp_blocks[ci]
        bh = max(k[0] for k in blocks) + 1
        bw = max(k[1] for k in blocks) + 1
        p = np.zeros((bh * 8, bw * 8))
        for (by, bx), blk in blocks.items():
            p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = \
                _idct2(blk * q8) + 128.0
        fy, fx = vmax // sv, hmax // sh
        if fy > 1 or fx > 1:
            p = np.repeat(np.repeat(p, fy, axis=0), fx, axis=1)
        planes.append(p[:h_img, :w_img])
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255) \
        .astype(np.uint8)


def _assert_close(got, want, tol=1):
    assert got.shape == want.shape
    diff = np.abs(got.astype(np.int32) - want.astype(np.int32))
    assert diff.max() <= tol, f"max pixel delta {diff.max()} > {tol}"


def _rng_image(h, w, seed, grey=False):
    rng = np.random.default_rng(seed)
    shape = (h, w) if grey else (h, w, 3)
    # smooth-ish content: low-frequency ramps + mild noise, the regime
    # where quantization error stays small and visible bugs stay visible
    base = (
        np.fromfunction(lambda y, x: 96 + 4 * (x % 16) + 3 * (y % 16), (h, w))
    )
    img = base[..., None] + rng.integers(-5, 6, shape) if not grey \
        else base + rng.integers(-5, 6, shape)
    return np.clip(img, 0, 255).astype(np.uint8)


# ----------------------------------------------------------------- tests

def test_solid_grey_dc_only_exact():
    """DC-only arithmetic is integral end-to-end with a flat Q=16 table:
    a solid 160-grey block must decode EXACTLY (no tolerance)."""
    img = np.full((8, 8), 160, dtype=np.uint8)
    payload, *_ = _encode_jpeg(img)
    rgb = jpeg.decode_baseline_jpeg(payload)
    assert rgb.shape == (8, 8, 3)
    assert (rgb == 160).all()


def test_grey_multiblock_matches_model():
    img = _rng_image(24, 16, seed=1, grey=True)
    payload, blocks, sampling, _ = _encode_jpeg(img)
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 24, 16)
    _assert_close(got, want)


def test_color_444_matches_model():
    img = _rng_image(16, 16, seed=2)
    payload, blocks, sampling, _ = _encode_jpeg(
        img, sampling=[(1, 1), (1, 1), (1, 1)]
    )
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 16, 16)
    _assert_close(got, want)


def test_color_420_and_non_mcu_aligned_size():
    """4:2:0 with a 20x13 image: MCU cover is 2x1 16x16 MCUs, the right
    and bottom edges are padding that must be cropped away."""
    img = _rng_image(13, 20, seed=3)
    payload, blocks, sampling, _ = _encode_jpeg(img)
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 13, 20)
    _assert_close(got, want)


def test_color_422_horizontal_subsampling():
    img = _rng_image(8, 32, seed=4)
    payload, blocks, sampling, _ = _encode_jpeg(
        img, sampling=[(2, 1), (1, 1), (1, 1)]
    )
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 8, 32)
    _assert_close(got, want)


def test_restart_markers_reset_dc_predictors():
    """DRI=1 inserts an RSTn between every MCU; the decoder must
    byte-align at each marker and reset all DC predictors — wrong
    predictor handling shifts whole blocks, far beyond tol=1."""
    img = _rng_image(8, 48, seed=5)  # 6 grey MCUs in a row
    payload, blocks, sampling, _ = _encode_jpeg(
        img[..., 0] if img.ndim == 3 else img, restart_interval=1
    )
    assert b"\xff\xd0" in payload or b"\xff\xd1" in payload
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 8, 48)
    _assert_close(got, want)


def test_16bit_quant_table_precision():
    q = [256] + [16] * 63  # DC step of 256 needs Pq=1
    img = np.full((8, 8), 200, dtype=np.uint8)
    payload, blocks, sampling, _ = _encode_jpeg(img, q=q, q_precision=1)
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, q, 8, 8)
    _assert_close(got, want)


def test_extended_sequential_sof1_accepted():
    img = np.full((8, 8), 78, dtype=np.uint8)
    payload, *_ = _encode_jpeg(img, sof_marker=0xC1)
    assert (jpeg.decode_baseline_jpeg(payload) == 78).all()


def test_arithmetic_refuses_and_fake_progressive_is_corrupt():
    img = np.full((8, 8), 10, dtype=np.uint8)
    arith, *_ = _encode_jpeg(img, sof_marker=0xC9)
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg.decode_baseline_jpeg(arith)
    # a baseline scan mislabeled SOF2 is NOT valid progressive (its one
    # scan spans DC and AC) — the decoder refuses it as malformed
    fake_prog, *_ = _encode_jpeg(img, sof_marker=0xC2)
    with pytest.raises(ValueError, match="mixes DC and AC"):
        jpeg.decode_baseline_jpeg(fake_prog)


def test_corrupt_payloads_refuse_with_valueerror():
    img = _rng_image(24, 24, seed=6, grey=True)  # 9 blocks of scan data
    payload, *_ = _encode_jpeg(img)
    # truncated mid-scan: entropy data runs out inside the block grid
    sos_at = payload.index(b"\xff\xda")
    with pytest.raises(ValueError, match="ran out|missing"):
        jpeg.decode_baseline_jpeg(payload[: sos_at + 14])
    # no SOI
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_baseline_jpeg(b"\x00" + payload)
    # SOS without SOF
    sof_at = payload.index(b"\xff\xc0")
    sof_len = struct.unpack_from(">H", payload, sof_at + 2)[0]
    gutted = payload[:sof_at] + payload[sof_at + 2 + sof_len :]
    with pytest.raises(ValueError, match="SOS before SOF|missing SOF"):
        jpeg.decode_baseline_jpeg(gutted)


def test_entropy_budget_refusal():
    img = _rng_image(16, 16, seed=7, grey=True)
    payload, *_ = _encode_jpeg(img)
    with pytest.raises(NotImplementedError, match="byte budget"):
        jpeg.decode_baseline_jpeg(payload, entropy_budget=4)
    # budget disabled decodes
    assert jpeg.decode_baseline_jpeg(payload, entropy_budget=None) \
        .shape == (16, 16, 3)


def test_decode_rgb_routes_jpeg():
    """multimodal._decode_rgb dispatches FFD8 payloads to the real
    decoder now — the r8 'JPEG is 100% quarantine' gap is closed."""
    img = np.full((8, 8), 160, dtype=np.uint8)
    payload, *_ = _encode_jpeg(img)
    fmt, rgb = multimodal._decode_rgb(payload)
    assert fmt == "jpeg" and (rgb == 160).all()


def test_decode_image_spark_roundtrip_and_quarantine(spark):
    """End-to-end through the Arrow-batched decode_image: good baseline
    AND progressive JPEGs yield features; an arithmetic-coded one lands
    in quarantine as 'unsupported' (recoverable), a truncated one as
    'corrupt'."""
    img = np.full((8, 8), 160, dtype=np.uint8)
    good, *_ = _encode_jpeg(img)
    prog, *_ = _encode_progressive(img)
    arith, *_ = _encode_jpeg(img, sof_marker=0xC9)
    blobs = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(prog)),
         (3, bytearray(good[:40])), (4, bytearray(arith))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.decode_image(
        blobs
    ).collect()}
    assert rows[1].format == "jpeg" and rows[1].error is None
    assert (rows[1].mean_r, rows[1].mean_g, rows[1].mean_b) == \
        (160.0, 160.0, 160.0)
    assert rows[2].format == "jpeg" and rows[2].error is None
    assert (rows[2].mean_r, rows[2].mean_g, rows[2].mean_b) == \
        (160.0, 160.0, 160.0)
    assert rows[3].error_kind == "corrupt"
    assert rows[4].error_kind == "unsupported" \
        and "arithmetic" in rows[4].error


# ------------------------------------------------------- progressive

def _prog_bits(ops, table_codes):
    bw = _BitWriter()
    for sym, extras in ops:
        if sym is not None:  # DC refinement scans are RAW bits (no code)
            ln, code = table_codes[sym]
            bw.put(code, ln)
        for val, nbits in extras:
            if nbits:
                bw.put(val, nbits)
    bw.flush()
    return bytes(bw.out)


def _dc_first_ops(comp_blocks, sampling, mcus, al):
    mcus_y, mcus_x = mcus
    pred = [0] * len(sampling)
    ops = []
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (sh, sv) in enumerate(sampling):
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(comp_blocks[ci][(my * sv + by,
                                                  mx * sh + bx)][0, 0]) >> al
                        diff = dc - pred[ci]
                        pred[ci] = dc
                        t = _category(diff)
                        bits = diff if diff > 0 else diff + (1 << t) - 1
                        ops.append((t, [(bits, t)]))
    return ops


def _dc_refine_ops(comp_blocks, sampling, mcus, al):
    mcus_y, mcus_x = mcus
    ops = []
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (sh, sv) in enumerate(sampling):
                for by in range(sv):
                    for bx in range(sh):
                        bit = (int(comp_blocks[ci][(my * sv + by,
                                                    mx * sh + bx)][0, 0])
                               >> al) & 1
                        ops.append((None, [(bit, 1)]))  # raw bit, no code
    return ops


def _block_raster(blocks, dims):
    """Non-interleaved scans cover the component's OWN block grid
    (T.81 A.2.2) — NOT the MCU-padded cover the dict holds."""
    bh_n, bw_n = dims
    return [blocks[(by, bx)] for by in range(bh_n) for bx in range(bw_n)]


def _ac_first_ops(blocks, dims, ss, se, al):
    """T.81 G.1.2.2 encoder: band run-lengths with cross-block EOB runs;
    AC point transform is magnitude-wise (sign * (|v| >> al))."""
    ops = []
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ops.append((r << 4, [(eobrun - (1 << r), r)]))
            eobrun = 0

    for blk in _block_raster(blocks, dims):
        zz = [int(blk[r, c]) for (r, c) in ZIGZAG]
        vals = []
        for k in range(ss, se + 1):
            v = zz[k]
            vals.append((abs(v) >> al) * (1 if v >= 0 else -1))
        if not any(vals):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        last_nz = max(i for i, v in enumerate(vals) if v)
        r = 0
        for v in vals[: last_nz + 1]:
            if v == 0:
                r += 1
                continue
            while r > 15:
                ops.append((0xF0, []))
                r -= 16
            sz = abs(v).bit_length()
            bits = v if v > 0 else v + (1 << sz) - 1
            ops.append(((r << 4) | sz, [(bits, sz)]))
            r = 0
        if last_nz < len(vals) - 1:
            eobrun += 1
    flush_eob()
    return ops


def _ac_refine_ops(blocks, dims, ss, se, al):
    """T.81 G.1.2.3 encoder (libjpeg encode_mcu_AC_refine structure):
    newly-visible +/-1 coefficients with run lengths, correction bits
    for already-known coefficients, EOB runs carrying buffered
    correction bits."""
    ops = []
    eobrun = 0
    pending_br: list[tuple[int, int]] = []

    def flush_eob():
        nonlocal eobrun, pending_br
        if eobrun:
            r = eobrun.bit_length() - 1
            ops.append((r << 4, [(eobrun - (1 << r), r)] + pending_br))
            eobrun = 0
            pending_br = []

    for blk in _block_raster(blocks, dims):
        zz = [int(blk[r, c]) for (r, c) in ZIGZAG]
        absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        signs = [zz[k] >= 0 for k in range(ss, se + 1)]
        eob = 0
        for i, t in enumerate(absv):
            if t == 1:
                eob = i + 1  # last newly-visible position + 1
        r = 0
        br: list[tuple[int, int]] = []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i < eob:
                flush_eob()
                ops.append((0xF0, list(br)))
                br = []
                r -= 16
            if t > 1:
                br.append((t & 1, 1))
                continue
            flush_eob()
            ops.append(((r << 4) | 1,
                        [(1 if signs[i] else 0, 1)] + br))
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pending_br += br
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return ops


def _encode_progressive(pixels, sampling=None, q=FLAT_Q):
    """Progressive JPEG encoder: DC first at Al=1 + DC refinement, then
    per component a spectral-selection split (bands 1..5 and 6..63) each
    as an Al=1 first pass plus an Al=0 refinement — every Annex G scan
    type, with per-scan Huffman tables (redefined between scans)."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    grey = pixels.ndim == 2
    ncomp = 1 if grey else 3
    sampling = sampling or ([(1, 1)] if grey else [(2, 2), (1, 1), (1, 1)])
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    h_img, w_img = pixels.shape[:2]
    q8 = np.empty((8, 8))
    for i, (r, c) in enumerate(ZIGZAG):
        q8[r, c] = q[i]
    planes = [pixels.astype(np.float64)] if grey else _rgb_to_ycbcr(pixels)
    mcus_x = (w_img + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h_img + 8 * vmax - 1) // (8 * vmax)
    comp_blocks = []
    for ci, (sh, sv) in enumerate(sampling):
        p = planes[ci]
        fy, fx = vmax // sv, hmax // sh
        if fy > 1 or fx > 1:
            ph = (p.shape[0] + fy - 1) // fy * fy
            pw = (p.shape[1] + fx - 1) // fx * fx
            p = _pad_to(p, ph, pw)
            p = np.round(
                p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
            )
        comp_blocks.append(_quantized_blocks(p, q8, mcus_y * sv, mcus_x * sh))

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes(q))
    sof = bytes([8]) + struct.pack(">HH", h_img, w_img) + bytes([ncomp])
    for ci, (sh, sv) in enumerate(sampling):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += seg(0xC2, sof)

    def emit_scan(ops, sel, ss, se, ah, al, tc):
        syms = sorted({sym for sym, _ in ops if sym is not None})
        counts, codes = (lambda c_: c_)(None) or (None, None)
        # canonical() from the baseline encoder
        length = max(2, (len(syms) + 1).bit_length())
        counts = [0] * 16
        counts[length - 1] = len(syms)
        table_codes = {sym: (length, i) for i, sym in enumerate(syms)}
        nonlocal_out = seg(
            0xC4, bytes([(tc << 4) | 0]) + bytes(counts) + bytes(syms)
        )
        sos = bytes([len(sel)])
        for cs in sel:
            sos += bytes([cs, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        data = _prog_bits(ops, table_codes)
        return nonlocal_out + seg(0xDA, sos) + data

    all_ids = list(range(1, ncomp + 1))
    out += emit_scan(_dc_first_ops(comp_blocks, sampling, (mcus_y, mcus_x), 1),
                     all_ids, 0, 0, 0, 1, 0)
    out += emit_scan(_dc_refine_ops(comp_blocks, sampling, (mcus_y, mcus_x), 0),
                     all_ids, 0, 0, 1, 0, 0)
    def ndims(ci):
        sh, sv = sampling[ci]
        cw = (w_img * sh + hmax - 1) // hmax
        ch = (h_img * sv + vmax - 1) // vmax
        return ((ch + 7) // 8, (cw + 7) // 8)

    for ci in range(ncomp):
        for (ss, se) in ((1, 5), (6, 63)):
            out += emit_scan(
                _ac_first_ops(comp_blocks[ci], ndims(ci), ss, se, 1),
                [ci + 1], ss, se, 0, 1, 1)
    for ci in range(ncomp):
        for (ss, se) in ((1, 5), (6, 63)):
            out += emit_scan(
                _ac_refine_ops(comp_blocks[ci], ndims(ci), ss, se, 0),
                [ci + 1], ss, se, 1, 0, 1)
    out += b"\xff\xd9"
    return bytes(out), comp_blocks, sampling


def test_progressive_grey_matches_baseline_model():
    img = _rng_image(24, 16, seed=21, grey=True)
    payload, blocks, sampling = _encode_progressive(img)
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 24, 16)
    _assert_close(got, want)


def test_progressive_color_420_matches_baseline_model():
    img = _rng_image(21, 19, seed=22)  # non-MCU-aligned, 4:2:0
    payload, blocks, sampling = _encode_progressive(img)
    got = jpeg.decode_baseline_jpeg(payload)
    want = _expected_pixels(blocks, sampling, FLAT_Q, 21, 19)
    _assert_close(got, want)


def test_progressive_444_and_solid_dc_only():
    img = np.full((8, 8), 160, dtype=np.uint8)
    payload, *_ = _encode_progressive(img)
    assert (jpeg.decode_baseline_jpeg(payload) == 160).all()
    img = _rng_image(16, 16, seed=23)
    payload, blocks, sampling = _encode_progressive(
        img, sampling=[(1, 1), (1, 1), (1, 1)]
    )
    got = jpeg.decode_baseline_jpeg(payload)
    _assert_close(got, _expected_pixels(blocks, sampling, FLAT_Q, 16, 16))


def _strip_dht(payload: bytes) -> bytes:
    """Remove every DHT segment — the scan then references tables no one
    defined."""
    out = bytearray(payload[:2])
    pos = 2
    while pos + 4 <= len(payload):
        marker = payload[pos + 1]
        if marker == 0xDA:
            out += payload[pos:]
            break
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        if marker != 0xC4:
            out += payload[pos : pos + 2 + seg_len]
        pos += 2 + seg_len
    return bytes(out)


def test_declared_short_segments_raise_valueerror():
    """r10 regression (ADVICE medium): malformed declared lengths used to
    escape as struct.error / IndexError and kill the task instead of
    quarantining."""
    # SOF whose declared body can't hold precision+dims+ncomp
    bad_sof = b"\xff\xd8\xff\xc0" + struct.pack(">H", 4) + b"\x08\x00"
    with pytest.raises(ValueError, match="truncated SOF body"):
        jpeg.decode_baseline_jpeg(bad_sof)
    # SOF whose body ends before its declared component list
    bad_comps = b"\xff\xd8\xff\xc0" + struct.pack(">H", 8) \
        + bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1])
    with pytest.raises(ValueError, match="truncated SOF components"):
        jpeg.decode_baseline_jpeg(bad_comps)
    # DRI with an empty body
    bad_dri = b"\xff\xd8\xff\xdd" + struct.pack(">H", 2) + b"\xff\xd9\x00\x00"
    with pytest.raises(ValueError, match="truncated DRI"):
        jpeg.decode_baseline_jpeg(bad_dri)
    # SOS whose declared body can't hold its own component selectors
    sof = b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) \
        + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    bad_sos = b"\xff\xd8" + sof + b"\xff\xda" + struct.pack(">H", 3) \
        + bytes([2])
    with pytest.raises(ValueError, match="truncated SOS body"):
        jpeg.decode_baseline_jpeg(bad_sos)


def test_undefined_huffman_table_raises_valueerror():
    """r10 regression (ADVICE medium): a scan referencing a DHT no
    segment defined used to escape as KeyError (verified on progressive
    DC scans); both the baseline and the progressive path now refuse
    with ValueError → error_kind='corrupt'."""
    img = np.full((8, 8), 100, dtype=np.uint8)
    base, *_ = _encode_jpeg(img)
    with pytest.raises(ValueError, match="undefined|missing Huffman"):
        jpeg.decode_baseline_jpeg(_strip_dht(base))
    prog, *_ = _encode_progressive(img)
    with pytest.raises(ValueError, match="undefined|missing Huffman"):
        jpeg.decode_baseline_jpeg(_strip_dht(prog))


def test_malformed_payloads_quarantine_not_kill(spark):
    """The one-bad-blob-is-a-row posture holds for the r10 malformed
    shapes end to end: they land as 'corrupt' rows, the good row still
    decodes."""
    img = np.full((8, 8), 100, dtype=np.uint8)
    good, *_ = _encode_jpeg(img)
    bad_sof = b"\xff\xd8\xff\xc0" + struct.pack(">H", 4) + b"\x08\x00"
    blobs = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad_sof)),
         (3, bytearray(_strip_dht(good)))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.decode_image(
        blobs
    ).collect()}
    assert rows[1].error is None and rows[1].mean_r == 100.0
    assert rows[2].error_kind == "corrupt"
    assert rows[3].error_kind == "corrupt"
