"""Baseline TIFF decoder (r10) — reuses the EXIF TIFF-IFD reader.

TIFF 6.0's baseline profile is plain struct parsing over the same IFD
machinery operators/mediameta.py already walks for EXIF: strip-based
storage with four self-contained compressions — none (1), LZW (5,
the dominant archival-scan compression; MSB-first early-change variant,
see ``_lzw_decode``), deflate (8 and the old 32946 code, stdlib zlib
with a bomb-bounding max_length) and PackBits (32773, a one-byte RLE),
plus the horizontal-differencing predictor (tag 317) LZW/deflate files
usually carry (restarting per tile in tiled layouts). Both strip and
tiled (§15) layouts decode; JPEG-in-TIFF raises the honest
NotImplementedError and quarantines as 'unsupported'.

Supported: 8-bit greyscale (photometric 0/1, WhiteIsZero inverted),
8-bit RGB/RGBA (photometric 2; alpha reported structurally by dropping
the extra sample, like the PNG decoder) and 8-bit palette (photometric
3 via the 16-bit ColorMap tag), both byte orders, multi-strip layouts,
RowsPerStrip defaulting to the full image. Pixel budget with the
family's recoverable-refusal contract.
"""

from __future__ import annotations

import numpy as np

from .multimodal import DECODE_PIXEL_BUDGET


def _unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): n in 0..127 copies n+1 literals,
    n in -127..-1 repeats the next byte 1-n times, -128 is a no-op."""
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n and len(out) < expected:
        b = data[pos]
        pos += 1
        if b < 128:  # literal run
            cnt = b + 1
            if pos + cnt > n:
                raise ValueError("malformed TIFF: truncated PackBits run")
            out += data[pos : pos + cnt]
            pos += cnt
        elif b == 128:  # no-op
            continue
        else:  # repeat run
            cnt = 257 - b
            if pos >= n:
                raise ValueError("malformed TIFF: truncated PackBits run")
            out += bytes([data[pos]]) * cnt
            pos += 1
    if len(out) != expected:
        raise ValueError(
            f"malformed TIFF: PackBits yields {len(out)} bytes, strip "
            f"declares {expected}"
        )
    return bytes(out)


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW (TIFF 6.0 §13). Three deltas vs the GIF machine
    (operators/gif.py ``_lzw_decode``): codes pack MSB-first into the
    byte stream (GIF: LSB-first), the code width starts fixed at 9 bits
    over a 256-literal alphabet (GIF: min_code_size+1 over the palette),
    and the width bumps one code EARLY — when the table holds
    2^width - 1 entries, the spec's "early change" (GIF bumps at
    2^width; libtiff's maxcode is MAXCODE(n)-1 below 12 bits). Clear is
    256, EOI 257, table caps at 4096. Decodes to strip BYTES, and EOI
    (not a pixel count) ends the stream."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(CLEAR)] + [b"", b""]
        width = 9
        prev = None

    reset()
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError(
                    "malformed TIFF: LZW strip ended before EOI "
                    f"({len(out)}/{expected} bytes out)"
                )
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1
        if code == CLEAR:
            reset()
            continue
        if code == EOI:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"malformed TIFF: LZW code {code} out of range")
        out += entry
        if len(out) > expected:
            raise ValueError(
                f"malformed TIFF: LZW yields over {expected} strip bytes"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1  # early change
        prev = entry
    if len(out) != expected:
        raise ValueError(
            f"malformed TIFF: LZW yields {len(out)} bytes, strip "
            f"declares {expected}"
        )
    return bytes(out)


def _tag_values(vb: bytes, ftype: int, count: int, lt: str) -> list[int]:
    fmt = {1: "B", 3: "H", 4: "I"}.get(ftype)
    if fmt is None:
        raise ValueError(f"malformed TIFF: field type {ftype} for array")
    import struct

    return list(struct.unpack_from(lt + fmt * count, vb, 0))


# FillOrder-2 byte bit-reversal table (derived, not tabulated)
_BITREV = bytes(
    sum(((b >> i) & 1) << (7 - i) for i in range(8)) for b in range(256)
)


def _decode_tiff_ccitt(payload: bytes, tags: dict, scalar, array,
                       w: int, h: int) -> "np.ndarray":
    """Compressions 2/3/4 — CCITT bilevel fax (r13, operators/ccitt.py).

    Compression 4 is Group 4 / T.6 (the archival-scan standard; tag 293
    T6Options — the uncompressed-mode bit refuses honestly), 2 is
    modified Huffman with byte-aligned rows, 3 is G3: one-dimensional
    EOL-prefixed rows by default, MIXED 1D/2D via decode_g3 when
    T4Options bit 0 is set (fill bits are absorbed by its EOL
    scanner; the uncompressed option refuses).
    FillOrder 2 (r13: LSB-first bit fill, common in fax TIFFs) decodes
    via a derived per-byte bit reversal. Strips
    decode independently (each restarts the all-white reference line,
    per TIFF 6.0 §2's strip independence); bilevel samples map through
    PhotometricInterpretation exactly like the 8-bit grey path (the
    spec mandates 0 = WhiteIsZero for fax, but a file declaring 1 is
    honored, not second-guessed)."""
    from .ccitt import decode_g3, decode_g4, decode_mh

    compression = scalar(259)
    photometric = scalar(262)
    if photometric not in (0, 1):
        raise ValueError(
            f"malformed TIFF: CCITT with photometric {photometric} "
            "(bilevel grey only)"
        )
    spp = scalar(277, default=1)
    if spp != 1:
        raise ValueError(
            f"malformed TIFF: CCITT with {spp} samples per pixel"
        )
    bits = array(258) if 258 in tags else [1]
    if bits != [1]:
        raise ValueError(
            f"malformed TIFF: CCITT with bits-per-sample {bits}"
        )
    fill_order = scalar(266, default=1)
    if fill_order not in (1, 2):
        raise ValueError(
            f"malformed TIFF: FillOrder {fill_order}"
        )
    if compression == 4:
        opts = scalar(293, default=0)
        if opts & 2:
            raise NotImplementedError(
                "T.6 uncompressed mode (T6Options bit 1) not supported"
            )
        if opts & ~2:
            raise ValueError(
                f"malformed TIFF: reserved T6Options bits set ({opts})"
            )
    g3_2d = False
    if compression == 3:
        opts = scalar(292, default=0)
        g3_2d = bool(opts & 1)  # r13: mixed 1D/2D decodes (T.4 §4.2)
        if opts & 2:
            raise NotImplementedError(
                "G3 uncompressed option not supported"
            )
        # fill bits (bit 2) need no plumbing: the 2D path's EOL
        # scanner absorbs any zero fill, and the 1D path skips EOLs
        if (opts & 4) and not g3_2d:
            raise NotImplementedError(
                "G3 1D with byte-aligned EOLs (fill bits) not "
                "supported; the 2D variant handles fill"
            )
    if 322 in tags:
        raise NotImplementedError("tiled CCITT layout not supported")
    if 273 not in tags or 279 not in tags:
        raise ValueError("malformed TIFF: missing strip offsets/counts")
    offsets = array(273)
    counts = array(279)
    if len(offsets) != len(counts):
        raise ValueError("malformed TIFF: strip offsets/counts mismatch")
    rows_per_strip = scalar(278, default=h)
    if rows_per_strip == 0:
        raise ValueError("malformed TIFF: RowsPerStrip=0")

    parts = []
    remaining = h
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(payload):
            raise ValueError("malformed TIFF: strip out of bounds")
        n_rows = min(rows_per_strip, remaining)
        chunk = bytes(payload[off : off + cnt])
        if fill_order == 2:
            # FillOrder 2 (r13): bits fill low-to-high within each
            # byte — common in real fax TIFFs; a per-byte bit reversal
            # restores the MSB-first stream the decoder reads
            chunk = chunk.translate(_BITREV)
        if compression == 4:
            parts.append(decode_g4(chunk, w, n_rows))
        elif compression == 2:
            parts.append(decode_mh(chunk, w, n_rows, byte_align=True))
        elif g3_2d:
            parts.append(decode_g3(chunk, w, n_rows))
        else:
            parts.append(decode_mh(chunk, w, n_rows))
        remaining -= n_rows
    if remaining > 0:
        raise ValueError(
            f"malformed TIFF: strips cover {h - remaining} of {h} rows"
        )
    sample = np.concatenate(parts, axis=0)
    grey = sample * np.uint8(255)
    if photometric == 0:  # WhiteIsZero: sample 1 (black) -> dark
        grey = 255 - grey
    return np.repeat(grey[:, :, None], 3, axis=2)


def _decode_tiff_jpeg(payload: bytes, tags: dict, scalar, array,
                      w: int, h: int) -> "np.ndarray":
    """Compression 7 — new-style JPEG-in-TIFF (TIFF Tech Note 2).

    Each strip/tile is a complete JPEG interchange or abbreviated-image
    stream; tag 347 (JPEGTables) holds an abbreviated tables-only
    stream (SOI, DQT/DHT…, EOI) shared by every segment. Decoding is a
    byte splice — ``SOI + tables[2:-2] + segment[2:]`` — through
    operators/jpeg.py's decoder, which already enforces its own entropy
    budget and marker validation; the YCbCr→RGB conversion happens
    there, so photometric 6 (the normal color-JPEG tagging) needs no
    extra math here. Old-style TIFF JPEG (compression 6, withdrawn by
    the tech note) is not supported — it is the one with the famously
    broken per-strip restart semantics."""
    from .jpeg import decode_baseline_jpeg

    tables = None
    if 347 in tags:
        ftype, count, vb = tags[347]
        tb = bytes(vb[:count])
        if len(tb) < 4 or tb[:2] != b"\xff\xd8" or tb[-2:] != b"\xff\xd9":
            raise ValueError(
                "malformed TIFF: JPEGTables is not an abbreviated "
                "JPEG stream"
            )
        tables = tb[2:-2]
    photometric = scalar(262, default=6)
    if photometric not in (1, 2, 6):
        raise NotImplementedError(
            f"TIFF photometric {photometric} with JPEG compression not "
            "supported (grey/RGB/YCbCr only)"
        )

    def decode_chunk(off: int, cnt: int, exp_h: int, exp_w: int):
        if off + cnt > len(payload):
            raise ValueError("malformed TIFF: JPEG segment out of bounds")
        chunk = payload[off : off + cnt]
        if chunk[:2] != b"\xff\xd8":
            raise ValueError("malformed TIFF: JPEG segment without SOI")
        stream = chunk if tables is None \
            else chunk[:2] + tables + chunk[2:]
        rgb = decode_baseline_jpeg(stream)
        if rgb.shape[0] < exp_h or rgb.shape[1] < exp_w:
            raise ValueError(
                f"malformed TIFF: JPEG segment {rgb.shape[1]}x"
                f"{rgb.shape[0]} smaller than the declared "
                f"{exp_w}x{exp_h}"
            )
        return rgb[:exp_h, :exp_w]

    if 322 in tags and 323 in tags:
        tw = scalar(322)
        th = scalar(323)
        if tw == 0 or th == 0 or tw % 16 or th % 16:
            raise ValueError(
                f"malformed TIFF: tile size {tw}x{th} (must be a "
                "positive multiple of 16)"
            )
        if 324 not in tags or 325 not in tags:
            raise ValueError("malformed TIFF: missing tile offsets/counts")
        offsets = array(324)
        counts = array(325)
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        if len(offsets) != tiles_x * tiles_y or \
                len(offsets) != len(counts):
            raise ValueError(
                f"malformed TIFF: {len(offsets)} tiles for a "
                f"{tiles_x}x{tiles_y} grid"
            )
        arr = np.zeros((tiles_y * th, tiles_x * tw, 3), dtype=np.uint8)
        for t, (off, cnt) in enumerate(zip(offsets, counts)):
            ty, tx = divmod(t, tiles_x)
            arr[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = \
                decode_chunk(off, cnt, th, tw)
        return np.ascontiguousarray(arr[:h, :w])
    if 273 not in tags or 279 not in tags:
        raise ValueError("malformed TIFF: missing strip offsets/counts")
    offsets = array(273)
    counts = array(279)
    if len(offsets) != len(counts):
        raise ValueError("malformed TIFF: strip offsets/counts mismatch")
    rows_per_strip = scalar(278, default=h)
    if rows_per_strip == 0:
        raise ValueError("malformed TIFF: RowsPerStrip=0")
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    remaining = h
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        n_rows = min(rows_per_strip, remaining)
        if n_rows <= 0:
            raise ValueError("malformed TIFF: more strips than rows")
        y0 = i * rows_per_strip
        arr[y0 : y0 + n_rows] = decode_chunk(off, cnt, n_rows, w)
        remaining -= n_rows
    if remaining > 0:
        raise ValueError(
            f"malformed TIFF: strips cover {h - remaining} of {h} rows"
        )
    return arr


def _ifd_chain(payload: bytes, lt: str, stop_after: int | None = None,
               max_pages: int = 1 << 16) -> list[int]:
    """Offsets of the IFDs in the page chain (TIFF 6.0: each IFD ends
    with a u32 pointer to the next, 0 terminates). Loop- and
    bounds-checked. ``stop_after`` returns once that many offsets are
    collected WITHOUT touching the next pointer — so requesting page 0
    never validates the rest of the chain (r13 review fix: broken
    writers leave junk in the next-IFD field of single-page files, and
    walking it would flip previously-decodable payloads to corrupt).
    ``max_pages`` bounds a pathological chain with an honest refusal,
    never a silent truncation."""
    import struct

    (off,) = struct.unpack_from(lt + "I", payload, 4)
    offs: list[int] = []
    seen: set[int] = set()
    while off:
        if off in seen:
            raise ValueError("malformed TIFF: IFD chain loop")
        if off + 2 > len(payload):
            raise ValueError("malformed TIFF: IFD offset out of bounds")
        seen.add(off)
        offs.append(off)
        if stop_after is not None and len(offs) >= stop_after:
            return offs
        if len(offs) >= max_pages:
            raise NotImplementedError(
                f"TIFF page chain exceeds {max_pages} IFDs; raise "
                "max_pages or route to a codec library")
        (n,) = struct.unpack_from(lt + "H", payload, off)
        nxt_at = off + 2 + 12 * n
        if nxt_at + 4 > len(payload):
            raise ValueError("malformed TIFF: truncated IFD chain")
        (off,) = struct.unpack_from(lt + "I", payload, nxt_at)
    if not offs:
        raise ValueError("malformed TIFF: empty IFD chain")
    return offs


def decode_tiff(payload: bytes,
                pixel_budget: int | None = DECODE_PIXEL_BUDGET,
                page: int = 0) -> np.ndarray:
    """Decode a baseline TIFF payload to an (h, w, 3) uint8 RGB array.
    ``page`` selects the IFD in the page chain (r13: multi-page TIFFs
    are the normal container for scanned/fax documents — enumerate
    with :func:`extract_tiff_pages`; page 0 never validates the rest of
    the chain, so junk trailing next-IFD pointers stay decodable)."""
    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("malformed TIFF: bad magic")
    lt = "<" if payload[:2] == b"II" else ">"
    if page < 0:
        raise ValueError(f"malformed TIFF: page {page}")
    chain = _ifd_chain(payload, lt, stop_after=page + 1)
    if page >= len(chain):
        raise ValueError(
            f"malformed TIFF: page {page} of a {len(chain)}-page file")
    return _decode_ifd(payload, lt, chain[page], pixel_budget)


def _decode_ifd(payload: bytes, lt: str, ifd0: int,
                pixel_budget: int | None) -> np.ndarray:
    """Decode ONE IFD's image (the body shared by the page-selected
    public API and the multi-page extractor, which walks the chain
    once and decodes by offset — O(pages), r13 review fix)."""
    import struct

    from .mediameta import _tiff_ifd_entries

    tags: dict[int, tuple[int, int, bytes]] = {}
    for tag, ftype, count, vb in _tiff_ifd_entries(payload, 0, ifd0, lt):
        tags[tag] = (ftype, count, vb)

    def scalar(tag, default=None):
        if tag not in tags:
            if default is None:
                raise ValueError(f"malformed TIFF: missing tag {tag}")
            return default
        ftype, count, vb = tags[tag]
        return _tag_values(vb, ftype, count, lt)[0]

    def array(tag):
        ftype, count, vb = tags[tag]
        return _tag_values(vb, ftype, count, lt)

    w = scalar(256)
    h = scalar(257)
    if w == 0 or h == 0:
        raise ValueError(f"malformed TIFF: zero dimension ({w}x{h})")
    if pixel_budget is not None and w * h > pixel_budget:
        raise NotImplementedError(
            f"TIFF {w}x{h} exceeds the {pixel_budget}-pixel budget; "
            "raise pixel_budget or route to a codec library"
        )
    compression = scalar(259, default=1)
    # FillOrder 2 is handled on the CCITT path (derived bit reversal);
    # for every other compression the bit order changes the entropy
    # stream itself — refuse honestly instead of decoding garbage
    # (r13 review fix; FillOrder 2 outside fax is vanishingly rare).
    # Values other than 1/2 are malformed per TIFF 6.0 on EVERY path.
    _fo = scalar(266, default=1)
    if _fo not in (1, 2):
        raise ValueError(f"malformed TIFF: FillOrder {_fo}")
    if _fo == 2 and compression not in (2, 3, 4):
        raise NotImplementedError(
            f"TIFF FillOrder 2 only supported for CCITT "
            "compressions (2/3/4)"
        )
    if compression == 7:
        # new-style JPEG (TIFF Tech Note 2): each strip/tile is a JPEG
        # stream, tables optionally shared via tag 347 — decoded by the
        # in-repo Huffman JPEG decoder, so this is composition, not a
        # new codec
        return _decode_tiff_jpeg(payload, tags, scalar, array, w, h)
    if compression in (2, 3, 4):
        # CCITT bilevel fax (r13): Group 4 + MH/G3-1D via the from-
        # scratch T.4/T.6 decoder
        return _decode_tiff_ccitt(payload, tags, scalar, array, w, h)
    if compression not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {compression} needs a codec library; "
            "uncompressed (1), LZW (5), deflate (8/32946), PackBits "
            "(32773), new-style JPEG (7, Huffman subset) and CCITT "
            "(2/3-1D/4) decode here"
        )
    predictor = scalar(317, default=1)
    if predictor not in (1, 2):
        raise NotImplementedError(
            f"TIFF predictor {predictor} not supported (none/horizontal "
            "differencing only; 3 is floating-point)"
        )
    photometric = scalar(262)
    if photometric not in (0, 1, 2, 3):
        raise NotImplementedError(
            f"TIFF photometric {photometric} not supported (baseline "
            "grey/RGB/palette only — CMYK/YCbCr need a codec)"
        )
    spp = scalar(277, default=1)
    if photometric == 2 and spp not in (3, 4):
        raise ValueError(
            f"malformed TIFF: RGB with {spp} samples per pixel"
        )
    if photometric in (0, 1, 3) and spp != 1:
        raise ValueError(
            f"malformed TIFF: greyscale/palette with {spp} samples "
            "per pixel"
        )
    colormap = None
    if photometric == 3:
        if 320 not in tags:
            raise ValueError("malformed TIFF: palette without ColorMap")
        cm = array(320)
        if len(cm) != 3 * 256:
            raise ValueError(
                f"malformed TIFF: ColorMap has {len(cm)} entries, "
                "8-bit palette needs 768"
            )
        # ColorMap values are 16-bit (black 0, white 65535); R then G
        # then B planes of 2^bits entries each
        colormap = (np.array(cm, dtype=np.uint16)
                    .reshape(3, 256).T >> 8).astype(np.uint8)
    # TIFF 6.0 defaults BitsPerSample to 1 (bilevel) when tag 258 is
    # absent — assuming 8 would misread a tagless bilevel file as a
    # short strip; route it through the same unsupported branch instead
    bits = array(258) if 258 in tags else [1]
    if any(b != 8 for b in bits):
        raise NotImplementedError(
            f"TIFF bits-per-sample {bits} not supported (8-bit "
            "baseline only)"
        )
    def decompress(chunk: bytes, expected: int) -> bytes:
        if compression == 32773:
            return _unpackbits(chunk, expected)
        if compression == 5:
            return _lzw_decode(chunk, expected)
        if compression in (8, 32946):
            import zlib
            try:
                # max_length caps output: a deflate bomb costs at most
                # the chunk's declared pixel bytes, never unbounded RAM
                d = zlib.decompressobj()
                inflated = d.decompress(chunk, expected)
            except zlib.error as e:
                raise ValueError(f"malformed TIFF: bad deflate data "
                                 f"({e})") from None
            if len(inflated) != expected:
                raise ValueError(
                    f"malformed TIFF: deflate yields {len(inflated)} "
                    f"bytes, segment declares {expected}"
                )
            return inflated
        if len(chunk) < expected:
            raise ValueError("malformed TIFF: short strip/tile")
        return chunk[:expected]

    if 322 in tags and 323 in tags:
        # tiled layout (TIFF 6.0 §15): the image is a grid of tw x th
        # tiles, left-to-right top-to-bottom, EVERY tile padded to the
        # full tile size (edge tiles carry pad pixels that crop away)
        tw = scalar(322)
        th = scalar(323)
        if tw == 0 or th == 0 or tw % 16 or th % 16:
            raise ValueError(
                f"malformed TIFF: tile size {tw}x{th} (must be a "
                "positive multiple of 16)"
            )
        if 324 not in tags or 325 not in tags:
            raise ValueError("malformed TIFF: missing tile offsets/counts")
        offsets = array(324)
        counts = array(325)
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        if len(offsets) != tiles_x * tiles_y or                 len(offsets) != len(counts):
            raise ValueError(
                f"malformed TIFF: {len(offsets)} tiles for a "
                f"{tiles_x}x{tiles_y} grid"
            )
        tile_bytes = tw * th * spp
        arr = np.zeros((tiles_y * th, tiles_x * tw, spp), dtype=np.uint8)
        for t, (off, cnt) in enumerate(zip(offsets, counts)):
            if off + cnt > len(payload):
                raise ValueError("malformed TIFF: tile out of bounds")
            tile = np.frombuffer(
                decompress(payload[off : off + cnt], tile_bytes),
                dtype=np.uint8,
            ).reshape(th, tw, spp)
            if predictor == 2:
                # differencing restarts at each tile's left edge
                tile = np.add.accumulate(tile, axis=1, dtype=np.uint8)
            ty, tx = divmod(t, tiles_x)
            arr[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = tile
        arr = arr[:h, :w]
    else:
        if 273 not in tags or 279 not in tags:
            raise ValueError(
                "malformed TIFF: missing strip offsets/counts"
            )
        offsets = array(273)
        counts = array(279)
        if len(offsets) != len(counts):
            raise ValueError(
                "malformed TIFF: strip offsets/counts mismatch"
            )
        rows_per_strip = scalar(278, default=h)
        if rows_per_strip == 0:
            raise ValueError("malformed TIFF: RowsPerStrip=0")

        row_bytes = w * spp
        raw = bytearray()
        remaining_rows = h
        for off, cnt in zip(offsets, counts):
            if off + cnt > len(payload):
                raise ValueError("malformed TIFF: strip out of bounds")
            n_rows = min(rows_per_strip, remaining_rows)
            raw += decompress(payload[off : off + cnt],
                              n_rows * row_bytes)
            remaining_rows -= n_rows
        if remaining_rows > 0:
            raise ValueError(
                f"malformed TIFF: strips cover {h - remaining_rows} of "
                f"{h} rows"
            )
        arr = np.frombuffer(bytes(raw), dtype=np.uint8,
                            count=h * row_bytes)
        arr = arr.reshape(h, w, spp)
        if predictor == 2:
            # horizontal differencing (tag 317): each sample stores the
            # delta to its left neighbour; invert with a wrapping cumsum
            arr = np.add.accumulate(arr, axis=1, dtype=np.uint8)
    if photometric == 2:
        return np.ascontiguousarray(arr[:, :, :3])
    if photometric == 3:
        return np.ascontiguousarray(colormap[arr[:, :, 0]])
    grey = arr[:, :, 0]
    if photometric == 0:  # WhiteIsZero
        grey = 255 - grey
    return np.repeat(grey[:, :, None], 3, axis=2)


# ---------------------------------------------------------------------------
# Multi-page corpus bridge (r13): fax/scan archives are multi-page
# TIFFs; one row per page, as a payload the image pipeline decodes
# directly — the pdf_images idiom (operators/pdf.py:1658) for the
# other scanned-document container.
# ---------------------------------------------------------------------------

TIFF_PAGES_SCHEMA = (
    "doc_id long, page_idx int, format string, width int, height int, "
    "payload binary, error string, error_kind string"
)


def extract_tiff_pages(payload: bytes,
                       pixel_budget: int | None = DECODE_PIXEL_BUDGET,
                       ) -> list[dict]:
    """Every page of a (possibly multi-page) TIFF as a P6 PPM payload
    row dict; per-page failures — including bug-shaped ones, the full
    DECODE_ERRORS set — yield their own error rows while the other
    pages still extract (the pdf_images two-level contract; r13 review
    fix: a narrower per-page catch let an IndexError discard healthy
    sibling pages). One chain walk; pages decode by IFD offset."""
    from .multimodal import _row_or_error

    payload = bytes(payload)
    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("malformed TIFF: bad magic")
    lt = "<" if payload[:2] == b"II" else ">"

    def page_row(off):
        rgb = _decode_ifd(payload, lt, off, pixel_budget)
        h, w = rgb.shape[:2]
        return {"format": "ppm", "width": int(w), "height": int(h),
                "payload": b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()}

    chain = _ifd_chain(payload, lt)  # raises on a malformed container
    return [{"page_idx": page, "format": None, "width": None,
             "height": None, "payload": None, "error": None,
             "error_kind": None, **_row_or_error(page_row, off)}
            for page, off in enumerate(chain)]


def tiff_page_images(blobs,
                     pixel_budget: int | None = DECODE_PIXEL_BUDGET):
    """TIFF payload table → one row per PAGE, each a standalone P6 PPM
    the image pipeline decodes directly (multi-page TIFF is the normal
    fax/scan-archive container). Two-level quarantine through the
    shared harness (:func:`.multimodal._quarantine_map`, like
    pdf_images): a malformed CONTAINER yields one row with NULL
    page_idx; a refused PAGE (unsupported compression, pixel budget)
    yields its own error row while sibling pages extract. Arrow-batched
    mapInPandas, no shuffle; the ``(doc_id, payload)`` columns feed
    decode_image / image_hashes directly."""
    from .multimodal import _quarantine_map

    return _quarantine_map(
        blobs,
        lambda p: extract_tiff_pages(p, pixel_budget=pixel_budget),
        TIFF_PAGES_SCHEMA)
