"""Pure-stdlib+numpy GIF (87a/89a) decoder.

Closes the last common web-image gap in the codec-free path after r9's
baseline JPEG: GIF's only compression is LZW over palette indices, which
stdlib Python can do honestly — no codec library, no approximation:

- logical screen descriptor + global color table;
- extension blocks (graphic control, comment, application, plain text)
  skipped via their sub-block framing; transparency is reported
  structure, not composited (same posture as PNG alpha / tRNS);
- the FIRST image descriptor decodes (an animated GIF's later frames
  are deltas against canvas state — a per-frame video decode is out of
  scope for per-image features); local color table overrides global;
- LZW: variable-width codes (min+1 .. 12 bits, LSB-first over the
  concatenated data sub-blocks), CLEAR/EOI handling, the deferred
  width bump at table size 2^width, and the code==next_entry
  (prev + prev[0]) special case — T.81-grade spec fidelity, validated
  by an independent in-test compressor round-trip on noise images
  (the regime that exercises dict growth and width bumps hardest);
- interlaced images reassemble through the four-pass row order.

The LZW loop is the same inherently-serial Python hot spot as the PNG
Average/Paeth recurrence; ``GIF_PIXEL_BUDGET`` bounds per-image decode
latency with the identical recoverable-refusal contract
(NotImplementedError → ``error_kind='unsupported'`` under quarantine).
Structurally broken payloads raise ValueError ('corrupt').
"""

from __future__ import annotations

import struct

from .multimodal import check_budget

# ~0.8 µs/pixel of Python in the LZW loop: 2M pixels ≈ 1.6 s worst case
# per image inside the Arrow batch. Same refusal as
# multimodal.PNG_SLOW_FILTER_BYTE_BUDGET.
GIF_PIXEL_BUDGET = 2_000_000

_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF LZW expand to exactly ``n_pixels`` palette indices."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"malformed GIF: LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= n:
                raise ValueError(
                    "malformed GIF: LZW stream ended before the image's "
                    f"pixel count ({len(out)}/{n_pixels})"
                )
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            raise ValueError(
                "malformed GIF: EOI before the image's pixel count "
                f"({len(out)}/{n_pixels})"
            )
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"malformed GIF: LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) > n_pixels:
        raise ValueError(
            "malformed GIF: LZW stream decodes past the image's pixel "
            f"count ({len(out)} > {n_pixels})"
        )
    return out


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks from ``pos``; return (data, next_pos
    past the 0x00 terminator)."""
    out = bytearray()
    n = len(payload)
    while True:
        if pos >= n:
            raise ValueError("malformed GIF: unterminated sub-block chain")
        size = payload[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > n:
            raise ValueError(
                f"malformed GIF: sub-block declares {size} bytes but only "
                f"{n - pos} remain (truncated payload)"
            )
        out += payload[pos : pos + size]
        pos += size


def decode_gif(payload: bytes):
    """Decode the first frame of a GIF87a/89a payload to an HxWx3 uint8
    RGB array. See the module docstring for the supported subset and
    refusal contract."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("malformed GIF: bad signature")
    if len(payload) < 13:
        raise ValueError("malformed GIF: truncated logical screen descriptor")
    packed = payload[10]
    gct = None
    pos = 13
    if packed & 0x80:
        gct_len = 2 << (packed & 0x07)
        end = pos + 3 * gct_len
        if end > len(payload):
            raise ValueError("malformed GIF: truncated global color table")
        gct = np.frombuffer(
            payload, dtype=np.uint8, count=3 * gct_len, offset=pos
        ).reshape(gct_len, 3)
        pos = end
    n = len(payload)
    while pos < n:
        block = payload[pos]
        if block == 0x3B:  # trailer before any image
            raise ValueError("malformed GIF: no image descriptor")
        if block == 0x21:  # extension: label + sub-blocks, skipped
            if pos + 2 > n:
                raise ValueError("malformed GIF: truncated extension")
            _, pos = _sub_blocks(payload, pos + 2)
            continue
        if block != 0x2C:
            raise ValueError(
                f"malformed GIF: unknown block 0x{block:02x} at {pos}"
            )
        if pos + 10 > n:
            raise ValueError("malformed GIF: truncated image descriptor")
        w, h = struct.unpack_from("<HH", payload, pos + 5)
        ipacked = payload[pos + 9]
        pos += 10
        if w == 0 or h == 0:
            raise ValueError(f"malformed GIF: zero dimension ({w}x{h})")
        pal = gct
        if ipacked & 0x80:  # local color table
            lct_len = 2 << (ipacked & 0x07)
            end = pos + 3 * lct_len
            if end > n:
                raise ValueError("malformed GIF: truncated local color table")
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=3 * lct_len, offset=pos
            ).reshape(lct_len, 3)
            pos = end
        if pal is None:
            raise ValueError(
                "malformed GIF: image without a global or local color table"
            )
        check_budget("GIF", w * h, GIF_PIXEL_BUDGET, "pixel")
        if pos >= n:
            raise ValueError("malformed GIF: missing LZW min code size")
        min_code = payload[pos]
        data, pos = _sub_blocks(payload, pos + 1)
        idx = np.frombuffer(
            bytes(_lzw_decode(data, min_code, w * h)), dtype=np.uint8
        )
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError(
                f"malformed GIF: palette index {int(idx.max())} out of "
                f"range for {pal.shape[0]}-entry color table"
            )
        rows = pal[idx].reshape(h, w, 3)
        if ipacked & 0x40:  # interlaced: reorder the decoded rows
            out = np.empty_like(rows)
            src = 0
            for y0, dy in _INTERLACE_PASSES:
                cnt = len(range(y0, h, dy))
                out[y0::dy] = rows[src : src + cnt]
                src += cnt
            rows = out
        return rows
    raise ValueError("malformed GIF: ran out of data before an image")
