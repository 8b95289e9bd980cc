"""Perceptual image hashing (operators/imagehash.py): hand-checked bit
construction, cross-format stability, banding completeness (brute-force
Hamming differential — exact recall at the stated radius), and the
Spark quarantine/plan contracts."""

from __future__ import annotations

import random

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators import imagehash as IH


def _img(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3)).astype(np.float64)


def test_dhash_known_construction():
    # 8x9 luma ramp increasing left-to-right: every neighbor comparison
    # grid[r,c] > grid[r,c+1] is False -> all-zero hash
    ramp = np.dstack([np.tile(np.arange(9) * 20.0, (8, 1))] * 3)
    assert IH.dhash64(ramp) == 0
    # decreasing ramp -> all ones -> signed -1
    assert IH.dhash64(ramp[:, ::-1]) == -1


def test_ahash_known_construction():
    # half dark / half bright 8x8: bright half above mean
    img = np.zeros((8, 8, 3))
    img[:, 4:] = 255.0
    got = IH.ahash64(img)
    row = 0b00001111
    want = 0
    for _ in range(8):
        want = (want << 8) | row
    if want >= 1 << 63:
        want -= 1 << 64
    assert got == want


def test_area_average_exact_partition():
    g = np.arange(16, dtype=np.float64).reshape(4, 4)
    out = IH._area_average(g, 2, 2)
    assert out[0, 0] == g[:2, :2].mean()
    assert out[1, 1] == g[2:, 2:].mean()
    # upscale path: 1x1 source repeats, never empty boxes
    tiny = np.full((1, 1), 7.0)
    assert (IH._area_average(tiny, 8, 9) == 7.0).all()


def test_hash_stable_across_encodings():
    """The same pixels through PNG and BMP encoders hash identically —
    the decoders are exact, so the hash only sees pixels."""
    from tests.test_operators import _bmp24, _png

    px = [[(int(x * 9) % 256, int(y * 31) % 256, (x + y) * 7 % 256)
           for x in range(16)] for y in range(12)]
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        _decode_rgb,
    )

    _, rgb_png = _decode_rgb(_png(px))
    _, rgb_bmp = _decode_rgb(_bmp24(px))
    assert IH.dhash64(rgb_png) == IH.dhash64(rgb_bmp)
    assert IH.ahash64(rgb_png) == IH.ahash64(rgb_bmp)


def test_small_perturbation_small_distance():
    img = _img(64, 64, seed=3)
    tweaked = img.copy()
    tweaked[10:14, 10:14] += 30.0  # local retouch
    d = IH.dhash64(img) ^ IH.dhash64(tweaked)
    assert bin(d & ((1 << 64) - 1)).count("1") <= 6
    other = _img(64, 64, seed=4)
    d2 = IH.dhash64(img) ^ IH.dhash64(other)
    assert bin(d2 & ((1 << 64) - 1)).count("1") >= 16


def test_bits_to_i64_sign_wrap():
    bits = np.zeros(64, dtype=bool)
    bits[0] = True  # MSB
    assert IH._bits_to_i64(bits) == -(1 << 63)


def _brute_pairs(hashes, k):
    out = set()
    items = sorted(hashes.items())
    for i, (ida, ha) in enumerate(items):
        for idb, hb in items[i + 1:]:
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= k:
                out.add((ida, idb, ham))
    return out


@pytest.mark.parametrize("k", [0, 2, 4])
def test_near_dup_pairs_exact_recall(spark, k):
    """Banded join == brute force at the stated radius — planted
    near-pairs plus random codes; signed-negative hashes included."""
    rng = random.Random(1000 + k)
    hashes = {}
    hid = 0
    for _ in range(40):
        base = rng.getrandbits(64)
        hashes[hid] = base
        hid += 1
        flips = rng.sample(range(64), rng.randint(0, k)) if k else []
        near = base
        for b in flips:
            near ^= 1 << b
        hashes[hid] = near
        hid += 1
    signed = {i: (v - (1 << 64) if v >= 1 << 63 else v)
              for i, v in hashes.items()}
    df = spark.createDataFrame(
        [(i, v) for i, v in signed.items()], "doc_id long, dhash long")
    got = {(r["doc_id_a"], r["doc_id_b"], r["hamming"])
           for r in IH.near_dup_image_pairs(df, max_hamming=k).collect()}
    assert got == _brute_pairs(hashes, k)


def test_hash_bands_reassemble(spark):
    """The banding is a partition of the 64 bits: shifting every
    band_val back and OR-ing reconstructs the hash."""
    vals = [0, -1, 123456789, -(1 << 63), (1 << 62) | 9]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "doc_id long, dhash long")
    n_bands = 5
    rows = IH.hash_bands(df, "dhash", n_bands).collect()
    base, rem = divmod(64, n_bands)
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    shifts = []
    pos = 0
    for w in widths:
        shifts.append(64 - pos - w)
        pos += w
    acc = {}
    for r in rows:
        acc.setdefault(r["doc_id"], 0)
        acc[r["doc_id"]] |= r["band_val"] << shifts[r["band_idx"]]
    for i, v in enumerate(vals):
        assert acc[i] & ((1 << 64) - 1) == v & ((1 << 64) - 1)


def test_image_hashes_quarantine(spark):
    from tests.test_operators import _png

    good = _png([[(10 * x, 5 * y, 7) for x in range(12)]
                 for y in range(10)])
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:20])),
         (3, bytearray(b"junk"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in
            IH.image_hashes(df).collect()}
    assert rows[1]["error"] is None and rows[1]["format"] == "png"
    assert rows[1]["width"] == 12 and rows[1]["height"] == 10
    assert isinstance(rows[1]["dhash"], int)
    assert rows[2]["error_kind"] == "corrupt"
    assert rows[2]["error"] == "malformed PNG: truncated IHDR"
    assert rows[3]["error_kind"] == "unsupported"
    assert rows[3]["error"].startswith("unknown image format (magic b'ju')")
    assert rows[3]["dhash"] is None and rows[3]["format"] is None


def test_pair_plan_has_no_nested_loop(spark):
    df = spark.createDataFrame([(1, 5), (2, 7)], "doc_id long, dhash long")
    plan = IH.near_dup_image_pairs(df, max_hamming=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_pixel_budget_probe_first(spark):
    """A huge-dimensioned header routes 'unsupported' at O(header) cost
    — the triage posture."""
    huge_header_only = b"P6\n50000 50000\n255\n"  # 2.5 Gpx declared
    from tests.test_operators import _png

    small = _png([[(1, 2, 3)] * 4] * 3)
    df = spark.createDataFrame(
        [(1, bytearray(huge_header_only)), (2, bytearray(small))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in
            IH.image_hashes(df).collect()}
    assert rows[1]["error_kind"] == "unsupported"
    assert "pixel hash budget" in rows[1]["error"]
    assert rows[2]["error"] is None


def test_image_thumbnails_exact_and_stable(spark):
    """Thumbnail bytes are the exact area averages (hand-checkable on a
    block image), identical across containers, quarantine-contracted."""
    from tests.test_operators import _bmp24, _png

    # 4x4 image of four 2x2 constant blocks -> 2x2 thumb == block values
    blocks = [[(10, 20, 30), (10, 20, 30), (200, 100, 50), (200, 100, 50)],
              [(10, 20, 30), (10, 20, 30), (200, 100, 50), (200, 100, 50)],
              [(0, 0, 0), (0, 0, 0), (255, 255, 255), (255, 255, 255)],
              [(0, 0, 0), (0, 0, 0), (255, 255, 255), (255, 255, 255)]]
    df = spark.createDataFrame(
        [(1, bytearray(_png(blocks))), (2, bytearray(_bmp24(blocks))),
         (3, bytearray(b"junk"))],
        "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in IH.image_thumbnails(
        df, out_h=2, out_w=2).collect()}
    want = bytes([10, 20, 30, 200, 100, 50, 0, 0, 0, 255, 255, 255])
    assert bytes(rows[1]["thumb"]) == want
    assert bytes(rows[2]["thumb"]) == want  # container-invariant
    assert rows[1]["thumb_w"] == 2 and rows[1]["thumb_h"] == 2
    assert rows[3]["error_kind"] == "unsupported"
    # a refused image has no thumbnail, so no thumbnail grid either
    assert rows[3]["thumb"] is None and rows[3]["thumb_w"] is None
    # budget probe-first
    huge = spark.createDataFrame(
        [(9, bytearray(b"P6\n60000 60000\n255\n"))],
        "doc_id long, payload binary")
    r = IH.image_thumbnails(huge).collect()[0]
    assert r["error_kind"] == "unsupported" and "budget" in r["error"]
    with pytest.raises(ValueError, match="256x256"):
        IH.image_thumbnails(df, out_h=0)
