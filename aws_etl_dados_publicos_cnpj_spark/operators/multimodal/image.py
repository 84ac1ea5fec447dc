"""Still-image codecs: BMP, netpbm, ICO/CUR, Sun Raster, QOI, TGA, TIFF,
PNG/APNG (+ encoder twin), GIF (+ twin), JPEG baseline/progressive/lossless
(+ twins), PCX, SGI, DDS.

Split out of the r12 single-module multimodal.py (r12 verdict item:
52% of the package in one file); behavior-identical, facade in
``__init__``. See the package docstring for decode-status honesty.
"""

from __future__ import annotations

import functools
import numpy as np
import struct
from .audio import _check_pixels, _check_u8_pixels

def _bmp_pixels(payload: bytes) -> np.ndarray:
    """Pixel array (height, width, 3 BGR) of a BMP — pure struct/numpy
    header parse, no codec library. r9 widens beyond 24-bit BI_RGB to
    every common DIB layout: 32-bit BGRA (alpha dropped), 8-bit and
    4-bit paletted (BGRA color table after the info header, biClrUsed
    honored), RLE8 AND RLE4 compression (encoded runs, absolute mode,
    EOL/EOF/delta escapes), 16-bit 555, and BI_BITFIELDS with
    arbitrary contiguous non-overlapping channel masks (565, v4/v5
    header masks) expanded to 8 bits by exact integer rounding."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    try:
        return _bmp_pixels_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt BMP header ({exc})") from exc


def _bmp_palette(payload: bytes, bpp: int) -> np.ndarray:
    """(n, 3) BGR color table following the info header."""
    header_size = struct.unpack_from("<I", payload, 14)[0]
    clr_used = (
        struct.unpack_from("<I", payload, 46)[0] if header_size >= 40 else 0
    )
    n = clr_used or (1 << bpp)
    if n > 1 << bpp:
        raise ValueError(f"BMP color table too large ({n})")
    start = 14 + header_size
    if start + 4 * n > len(payload):
        raise ValueError("BMP color table truncated")
    return np.frombuffer(payload, np.uint8, 4 * n, start).reshape(n, 4)[:, :3]


def _bmp_core_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) BGR of an OS/2 BITMAPCOREHEADER BMP (r11 late — the
    12-byte header's u16 dims and 3-byte palette entries predate the
    Windows layout every other arm parses): uncompressed 24-bit and
    8-bit paletted, bottom-up 4-byte-aligned rows."""
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    w, h, _planes, bpp = struct.unpack_from("<HHHH", payload, 18)
    if not w or not h:
        raise ValueError(f"invalid BMP dimensions ({w}x{h})")
    if w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"BMP {w}x{h} exceeds the decode cap")
    if bpp not in (8, 24):
        raise ValueError(f"unsupported OS/2 BMP depth {bpp}")
    pal = None
    min_offset = 26
    if bpp == 8:
        min_offset += 3 * 256
        if len(payload) < 26 + 3 * 256:
            raise ValueError("OS/2 BMP palette truncated")
        pal = np.frombuffer(payload, np.uint8, 3 * 256, 26).reshape(256, 3)
    if data_offset < min_offset:
        raise ValueError("OS/2 BMP data offset inside the header/palette")
    stride = (w * (bpp // 8) + 3) // 4 * 4
    need = stride * h
    if len(payload) < data_offset + need:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(payload, np.uint8, need, data_offset).reshape(h, stride)
    if bpp == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)
    else:
        px = pal[rows[:, :w]]
    return np.ascontiguousarray(px[::-1])  # bottom-up


def _bmp_pixels_impl(payload: bytes) -> np.ndarray:
    if len(payload) >= 18 and struct.unpack_from("<I", payload, 14)[0] == 12:
        return _bmp_core_pixels(payload)
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    supported = (
        (bpp in (24, 32, 16, 8, 4) and compression == 0)
        or (bpp == 8 and compression == 1)
        or (bpp == 4 and compression == 2)
        or (bpp in (16, 32) and compression == 3)
    )
    if not supported:
        raise ValueError(
            f"unsupported BMP variant (bpp={bpp}, compression={compression})"
        )
    if width <= 0 or height == 0:
        # width is signed in the header; non-positive would turn the
        # frombuffer count negative (= read-to-end garbage)
        raise ValueError(f"invalid BMP dimensions ({width}x{height})")
    header_size = struct.unpack_from("<I", payload, 14)[0]
    min_offset = 14 + max(header_size, 40)
    if bpp <= 8:
        # paletted layouts: pixel data must also clear the color table
        # (r9 review: a lying offset would decode PALETTE bytes as
        # pixel indices with ok=True)
        clr_used = struct.unpack_from("<I", payload, 46)[0]
        min_offset += 4 * (clr_used or (1 << bpp))
    if compression == 3 and header_size == 40:
        # BI_BITFIELDS with the classic header: the three DWORD masks
        # sit between the header and the pixel data
        min_offset += 12
    if data_offset < min_offset:
        # pixel data cannot start inside the headers/color table; a
        # lying offset would silently decode header bytes as pixels
        raise ValueError(f"invalid BMP data offset ({data_offset})")
    if compression in (1, 2):  # RLE8/RLE4 (spec: always bottom-up)
        if height < 0:
            raise ValueError("RLE BMP cannot be top-down")
        palette = _bmp_palette(payload, bpp)
        idx = _bmp_rle_indices(
            payload, data_offset, width, height, nibbles=compression == 2
        )
        if (idx >= len(palette)).any():
            raise ValueError("BMP palette index out of range")
        px = palette[idx.astype(np.int64)]
        return px[::-1]
    bits_per_row = width * bpp
    row_size = (bits_per_row + 31) // 32 * 4  # rows pad to 4-byte boundaries
    # explicit bound (not just frombuffer's own buffer check): corrupt
    # 32-bit dims can push offset+count past C ssize_t, which surfaces
    # as OverflowError instead of the quarantine ValueError
    if data_offset + row_size * abs(height) > len(payload):
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(
        payload, dtype=np.uint8, offset=data_offset, count=row_size * abs(height)
    ).reshape(abs(height), row_size)
    if bpp == 16 or compression == 3:
        if compression == 3:
            if len(payload) < 66:
                raise ValueError("BMP BITFIELDS masks truncated")
            # v4/v5 headers embed the masks at the same offset the
            # classic header places its mask block: right after the
            # 40 fixed bytes
            mr, mg, mb = struct.unpack_from("<III", payload, 54)
        else:
            mr, mg, mb = 0x7C00, 0x03E0, 0x001F  # 16-bit default: 555
        if (
            not (mr and mg and mb)
            or (mr & mg) | (mr & mb) | (mg & mb)
            or max(mr, mg, mb) >= (1 << bpp)
        ):
            raise ValueError(
                f"invalid BMP channel masks ({mr:#x}/{mg:#x}/{mb:#x})"
            )
        sub = np.ascontiguousarray(rows[:, : width * (bpp // 8)])
        vals = sub.view("<u2" if bpp == 16 else "<u4").reshape(
            abs(height), width
        ).astype(np.int64)

        def chan(mask: int) -> np.ndarray:
            shift = (mask & -mask).bit_length() - 1
            m = mask >> shift
            if m != (1 << m.bit_length()) - 1:
                raise ValueError(f"non-contiguous BMP channel mask {mask:#x}")
            v = (vals >> shift) & m
            if m == 255:
                return v.astype(np.uint8)
            # expand to 8 bits with exact integer round-to-nearest
            return ((v * 255 + m // 2) // m).astype(np.uint8)

        px = np.stack([chan(mb), chan(mg), chan(mr)], axis=2)  # stored-BGR
    elif bpp in (24, 32):
        nch = bpp // 8
        px = rows[:, : width * nch].reshape(abs(height), width, nch)[:, :, :3]
    else:
        palette = _bmp_palette(payload, bpp)
        if bpp == 8:
            idx = rows[:, :width]
        else:  # 4-bit: high nibble first
            nib = np.empty((abs(height), row_size * 2), dtype=np.uint8)
            nib[:, 0::2] = rows >> 4
            nib[:, 1::2] = rows & 0x0F
            idx = nib[:, :width]
        if (idx >= len(palette)).any():
            raise ValueError("BMP palette index out of range")
        px = palette[idx.astype(np.int64)]
    if height > 0:  # positive height = bottom-up row order
        px = px[::-1]
    return px


def _bmp_rle_indices(
    payload: bytes, pos: int, width: int, height: int, nibbles: bool = False
) -> np.ndarray:
    """(height, width) palette indices of an RLE8 (``nibbles=False``)
    or RLE4 (``nibbles=True``) stream — encoded runs (count, value;
    RLE4 alternates the value byte's two nibbles), absolute mode
    (word-aligned literal spans, nibble-packed for RLE4), and the
    0-escapes (end-of-line, end-of-bitmap, position delta), every
    write bounds-checked so a hostile stream raises instead of
    writing out of the grid."""
    # The grid allocation must be bounded (r9 fuzz: a smashed
    # height/width field otherwise allocates gigabytes before the
    # stream is read). Each 2-byte RLE pair emits at most 255 explicit
    # pixels, but EOL/EOF/delta escapes legally leave arbitrarily many
    # pixels at the background index (sparse sprites/masks), so the
    # stream-backed bound carries a generous absolute floor instead of
    # rejecting spec-legal sparse images (r9 review).
    kind = "RLE4" if nibbles else "RLE8"
    if width * height > max(((len(payload) - pos) // 2) * 255, 1 << 22):
        raise ValueError(f"{kind} dimensions exceed what the stream can encode")
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    n = len(payload)
    while pos + 2 <= n:
        count, val = payload[pos], payload[pos + 1]
        pos += 2
        if count:  # encoded run
            if y >= height or x + count > width:
                raise ValueError(f"{kind} run outside the bitmap")
            if nibbles:  # the value byte's nibbles alternate, high first
                pattern = np.empty(count, dtype=np.uint8)
                pattern[0::2] = val >> 4
                pattern[1::2] = val & 0x0F
                out[y, x : x + count] = pattern
            else:
                out[y, x : x + count] = val
            x += count
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if pos + 2 > n:
                raise ValueError(f"{kind} delta truncated")
            x += payload[pos]
            y += payload[pos + 1]
            pos += 2
            if x > width or y > height:
                raise ValueError(f"{kind} delta outside the bitmap")
        else:  # absolute mode: val literal indices, word-aligned
            span = val
            data_bytes = (span + 1) // 2 if nibbles else span
            end = pos + data_bytes + (data_bytes & 1)
            if end > n:
                raise ValueError(f"{kind} absolute run truncated")
            if y >= height or x + span > width:
                raise ValueError(f"{kind} absolute run outside the bitmap")
            raw = np.frombuffer(payload, np.uint8, data_bytes, pos)
            if nibbles:
                nib = np.empty(data_bytes * 2, dtype=np.uint8)
                nib[0::2] = raw >> 4
                nib[1::2] = raw & 0x0F
                out[y, x : x + span] = nib[:span]
            else:
                out[y, x : x + span] = raw
            x += span
            pos = end
    raise ValueError(f"{kind} stream missing end-of-bitmap")


def decode_bmp(payload: bytes) -> dict:
    px = _bmp_pixels(payload)
    mean_bgr = px.mean(axis=(0, 1)) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_bgr[2]),
        "mean_g": float(mean_bgr[1]),
        "mean_b": float(mean_bgr[0]),
    }


# --- netpbm (r11): P1–P6 — the classic interchange family -------------
#
# PBM/PGM/PPM, ASCII and binary variants, implemented from the public
# netpbm format specs: whitespace/comment-tolerant header tokens,
# maxval scaling with the engine's exact round (v·255 + maxval//2) //
# maxval — the same bit-pinnable rule as the 16-bit PNG/TIFF paths —
# and two-byte big-endian samples when maxval > 255.


def _pnm_tokens(payload: bytes, start: int, n: int) -> tuple[list[int], int]:
    """``n`` whitespace-separated ASCII integer tokens from ``start``,
    honoring ``#``-to-end-of-line comments; returns (values, position
    just past the final token's trailing whitespace byte)."""
    vals: list[int] = []
    i = start
    cur = bytearray()
    while len(vals) < n:
        if i >= len(payload):
            raise ValueError("PNM header truncated")
        b = payload[i]
        if b == 0x23:  # '#' comment runs to end of line
            if cur:
                vals.append(int(cur.decode("ascii")))
                cur.clear()
            while i < len(payload) and payload[i] not in (0x0A, 0x0D):
                i += 1
            continue
        if b in (0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C):
            if cur:
                vals.append(int(cur.decode("ascii")))
                cur.clear()
            i += 1
            continue
        if not 0x30 <= b <= 0x39:
            raise ValueError(f"PNM header: unexpected byte {b:#x}")
        cur.append(b)
        i += 1
    return vals, i


def _pnm_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB pixels of a netpbm image: P1/P4 bitmap (1 =
    black), P2/P5 grayscale, P3/P6 RGB; ASCII variants read
    whitespace-separated sample tokens, binary variants raw bytes (or
    big-endian byte pairs at maxval > 255); P4 rows pad to whole
    bytes. Malformed headers/short data raise ValueError (the module
    quarantine contract)."""
    if len(payload) < 2 or payload[0:1] != b"P" or payload[1] not in range(0x31, 0x37):
        raise ValueError("not a netpbm payload")
    kind = payload[1] - 0x30
    bitmap = kind in (1, 4)
    chans = 3 if kind in (3, 6) else 1
    (w, h), pos = _pnm_tokens(payload, 2, 2)
    maxval = 1
    if not bitmap:
        (maxval,), pos = _pnm_tokens(payload, pos, 1)
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PNM dimensions ({w}x{h})")
    if w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"PNM {w}x{h} exceeds the decode cap")
    if not 1 <= maxval <= 65535:
        raise ValueError(f"invalid PNM maxval {maxval}")
    n = w * h * chans
    if kind <= 3:  # ASCII variants
        if kind == 1:
            # P1 allows unseparated digits ('0110'); read raw 0/1 runs
            bits = [b - 0x30 for b in payload[pos:] if b in (0x30, 0x31)]
            if len(bits) < n:
                raise ValueError("PNM data shorter than its dimensions")
            samples = np.asarray(bits[:n], dtype=np.int64)
        else:
            vals, _ = _pnm_tokens(payload, pos, n)
            samples = np.asarray(vals, dtype=np.int64)
    elif kind == 4:
        stride = (w + 7) // 8
        need = stride * h
        raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError("PNM data shorter than its dimensions")
        rows = np.unpackbits(
            np.frombuffer(raw, dtype=np.uint8).reshape(h, stride), axis=1
        )[:, :w]
        samples = rows.astype(np.int64).reshape(-1)
    else:
        width = 2 if maxval > 255 else 1
        need = n * width
        raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError("PNM data shorter than its dimensions")
        samples = (
            np.frombuffer(raw, dtype=">u2").astype(np.int64)
            if width == 2
            else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        )
    if samples.size and (samples.max() > maxval or samples.min() < 0):
        raise ValueError(f"PNM sample exceeds maxval {maxval}")
    if bitmap:
        gray = (1 - samples) * 255  # 1 = black per the PBM spec
        px = gray.reshape(h, w, 1)
    else:
        scaled = (samples * 255 + maxval // 2) // maxval
        px = scaled.reshape(h, w, chans)
    if chans == 1:
        px = np.repeat(px, 3, axis=2)
    return px.astype(np.uint8)


def decode_pnm(payload: bytes) -> dict:
    px = _pnm_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_pnm(px: np.ndarray, kind: int = 6, maxval: int = 255) -> bytes:
    """netpbm encoder twin: (h,w) grayscale → P2/P5, (h,w,3) RGB →
    P3/P6 (``kind`` picks ASCII 2/3 or binary 5/6); ``maxval`` 65535
    emits big-endian byte pairs with samples v·257 so the decoder's
    exact-round scaling returns v — the 16-bit PNG/TIFF trick.
    Lossless for uint8 input at either maxval."""
    px = np.asarray(px)
    gray = px.ndim == 2
    if not gray and not (px.ndim == 3 and px.shape[2] == 3):
        raise ValueError(
            f"encode_pnm takes (h,w) grayscale or (h,w,3) RGB, got {px.shape}"
        )
    if px.size == 0:
        raise ValueError("encode_pnm: empty image")
    _check_pixels(px, "encode_pnm", 255)
    if kind not in (2, 3, 5, 6) or (gray != (kind in (2, 5))):
        raise ValueError(f"PNM kind {kind} contradicts the input shape")
    if maxval not in (255, 65535):
        raise ValueError(f"unsupported PNM maxval {maxval}")
    vals = px.astype(np.int64).reshape(-1)
    if maxval == 65535:
        vals = vals * 257
    head = b"P%d\n%d %d\n%d\n" % (kind, px.shape[1], px.shape[0], maxval)
    if kind in (2, 3):
        body = b" ".join(b"%d" % v for v in vals) + b"\n"
    elif maxval == 65535:
        body = vals.astype(">u2").tobytes()
    else:
        body = vals.astype(np.uint8).tobytes()
    return head + body


# --- ICO/CUR (r11): the Windows icon container -------------------------
#
# A directory of images where each entry is either a PNG stream
# (Vista+) or a headerless DIB whose biHeight covers the XOR pixels
# PLUS the 1-bit AND mask (doubled). Decoding DELEGATES: PNG entries
# route through _png_pixels, DIB entries get a synthetic 14-byte BMP
# file header (offset computed from the DIB's own header/palette) and
# the halved height — so both decoders' full matrices apply to icons
# with no new pixel code.


# --- Sun Raster (r12): a classic format with a REAL on-box
# third-party fixture (CPython's imghdrdata logo), so the decoder is
# gated by pixel-exact agreement with the PNG/TIFF/BMP arms on a
# genuine file — the doctrine's gold standard. Implemented from the
# public rasterfile.h layout; the reference repo has no image code at
# all ([EXT] surface).

_RAS_MAGIC = 0x59A66A95


def _ras_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB pixels of a Sun Raster file: 8-word big-endian
    header; depths 1/8/24/32; RT_STANDARD (BGR order, rows padded to
    16 bits) / RT_FORMAT_RGB (RGB order) / RT_BYTE_ENCODED (the
    0x80-escape RLE over the standard layout); RMT_EQUAL_RGB colormaps
    (three concatenated planes). ValueError on corrupt bytes."""
    try:
        if len(payload) < 32:
            raise ValueError("Sun Raster header truncated")
        magic, w, h, depth, length, rtype, maptype, maplen = struct.unpack(
            ">8I", payload[:32]
        )
        if magic != _RAS_MAGIC:
            raise ValueError("not a Sun Raster payload")
        if not 0 < w <= 1 << 15 or not 0 < h <= 1 << 15 or w * h > _IMG_MAX_PIXELS:
            raise ValueError(f"Sun Raster dimensions {w}x{h} out of range")
        if depth not in (1, 8, 24, 32):
            raise ValueError(f"unsupported Sun Raster depth {depth}")
        if rtype not in (0, 1, 2, 3):
            raise NotImplementedError(f"Sun Raster type {rtype} not implemented")
        pos = 32
        cmap = None
        if maptype == 1:  # RMT_EQUAL_RGB: all R, all G, all B
            if maplen % 3 or pos + maplen > len(payload):
                raise ValueError("corrupt Sun Raster colormap")
            n = maplen // 3
            planes = np.frombuffer(payload, np.uint8, maplen, pos).reshape(3, n)
            cmap = planes.T.copy()  # (n, 3) RGB
            pos += maplen
        elif maptype != 0:
            raise NotImplementedError(f"Sun Raster maptype {maptype} not implemented")
        elif maplen:
            pos += maplen  # RMT_NONE with a (spec-legal) dummy map
        # row stride rounds up to 16 bits
        stride = ((w * depth + 15) // 16) * 2
        need = stride * h
        if rtype == 2:
            data = bytearray()
            end = min(len(payload), pos + length) if length else len(payload)
            i = pos
            while i < end and len(data) < need:
                b = payload[i]
                if b == 0x80:
                    if i + 1 >= end:
                        raise ValueError("Sun Raster RLE truncated")
                    n = payload[i + 1]
                    if n == 0:
                        data.append(0x80)
                        i += 2
                    else:
                        if i + 2 >= end:
                            raise ValueError("Sun Raster RLE truncated")
                        data += bytes([payload[i + 2]]) * (n + 1)
                        i += 3
                else:
                    data.append(b)
                    i += 1
            raw = bytes(data)
        else:
            raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError("Sun Raster pixel data truncated")
        rows = np.frombuffer(raw, np.uint8, need).reshape(h, stride)
        if depth == 1:
            bits = np.unpackbits(rows, axis=1)[:, :w]  # MSB-first per spec
            gray = np.where(bits == 0, 255, 0).astype(np.uint8)  # 1 = ink
            if cmap is not None and len(cmap) >= 2:
                return cmap[bits.astype(np.intp)].astype(np.uint8)
            return np.repeat(gray[:, :, None], 3, axis=2)
        if depth == 8:
            idx = rows[:, :w]
            if cmap is None:
                return np.repeat(idx[:, :, None], 3, axis=2).copy()
            if idx.max() >= len(cmap):
                raise ValueError("Sun Raster index exceeds the colormap")
            return cmap[idx.astype(np.intp)].astype(np.uint8)
        npx = depth // 8
        px = rows[:, : w * npx].reshape(h, w, npx)
        if depth == 32:
            px = px[:, :, 1:]  # leading pad/alpha byte per rasterfile.h
        # RT_FORMAT_RGB stores RGB; every other type stores BGR
        return (px if rtype == 3 else px[:, :, ::-1]).copy()
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt Sun Raster stream ({exc})") from exc


def decode_ras(payload: bytes) -> dict:
    px = _ras_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_ras(px: np.ndarray, rtype: int = 1, depth: int = 24) -> bytes:
    """Sun Raster encoder twin: RT_STANDARD (BGR) / RT_FORMAT_RGB /
    RT_BYTE_ENCODED at 24 or 32 bits — lossless, covering every truecolor
    decode arm for the round-trip fuzz campaign."""
    h, w, _ = px.shape
    if depth == 32:
        body = np.zeros((h, w, 4), dtype=np.uint8)
        body[:, :, 1:] = px if rtype == 3 else px[:, :, ::-1]
    else:
        body = px if rtype == 3 else px[:, :, ::-1]
    stride = ((w * depth + 15) // 16) * 2
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * depth // 8] = body.reshape(h, -1)
    raw = rows.tobytes()
    if rtype == 2:
        out = bytearray()
        i = 0
        while i < len(raw):
            b = raw[i]
            run = 1
            while i + run < len(raw) and raw[i + run] == b and run < 256:
                run += 1
            if run >= 3 or b == 0x80:
                # a lone 0x80 escapes as (0x80, 0x00); runs emit
                # (0x80, n-1, value) — including 0x80 runs
                if run == 1:  # only reachable for b == 0x80
                    out += bytes([0x80, 0x00])
                else:
                    out += bytes([0x80, run - 1, b])
            else:
                out += bytes([b]) * run
            i += run
        raw = bytes(out)
    hdr = struct.pack(
        ">8I", _RAS_MAGIC, w, h, depth, len(raw), rtype, 0, 0
    )
    return hdr + raw


def _ico_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB pixels of the LARGEST image in an ICO/CUR
    container."""
    if len(payload) < 6:
        raise ValueError("not an ICO payload")
    reserved, typ, count = struct.unpack_from("<HHH", payload, 0)
    if reserved != 0 or typ not in (1, 2) or count == 0:
        raise ValueError("not an ICO payload")
    try:
        return _ico_pixels_impl(payload, count)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt ICO container ({exc})") from exc


def _ico_count(payload: bytes) -> int:
    # 6-byte floor BEFORE the unpack: a 4-byte fragment passing the
    # magic check must quarantine as ValueError, not leak struct.error
    # (r11 fuzz finding)
    if len(payload) < 6 or payload[:4] not in (
        b"\x00\x00\x01\x00",
        b"\x00\x00\x02\x00",
    ):
        raise ValueError("not an ICO payload")
    return struct.unpack_from("<H", payload, 4)[0]


def _ico_pixels_impl(payload: bytes, count: int) -> np.ndarray:
    best = None
    for i in range(count):
        e = 6 + 16 * i
        if e + 16 > len(payload):
            raise ValueError("ICO directory truncated")
        bw, bh = payload[e], payload[e + 1]
        size, off = struct.unpack_from("<II", payload, e + 8)
        area = (bw or 256) * (bh or 256)
        if best is None or area > best[0]:
            best = (area, off, size)
    _area, off, size = best
    if size < 8 or off + size > len(payload):
        raise ValueError("ICO image data out of bounds")
    img = payload[off : off + size]
    if img[:8] == _PNG_MAGIC:
        return _png_pixels(img)
    (hdr_size,) = struct.unpack_from("<I", img, 0)
    if hdr_size < 40 or hdr_size > len(img):
        raise ValueError(f"unsupported ICO DIB header size {hdr_size}")
    dib = bytearray(img)
    (dib_h,) = struct.unpack_from("<i", dib, 8)
    # biHeight covers XOR + AND mask: halve it (sign-preserving)
    struct.pack_into("<i", dib, 8, int(dib_h / 2))
    bpp = struct.unpack_from("<H", dib, 14)[0]
    compression = struct.unpack_from("<I", dib, 16)[0]
    data_off = 14 + hdr_size
    if bpp <= 8:
        clr_used = (
            struct.unpack_from("<I", dib, 32)[0] if hdr_size >= 36 else 0
        )
        if bpp == 0:
            raise ValueError("invalid ICO DIB bpp 0")
        data_off += 4 * (clr_used or (1 << bpp))
    if compression == 3 and hdr_size == 40:
        data_off += 12
    bm = b"BM" + struct.pack("<IHHI", 14 + len(dib), 0, 0, data_off) + bytes(dib)
    return _bmp_pixels(bm)[:, :, ::-1]


def decode_ico(payload: bytes) -> dict:
    """Icon stats: the largest image's pixels; ``n_frames`` reports
    the directory's image count (an icon IS a multi-resolution set —
    the multi-page TIFF convention)."""
    n = _ico_count(payload)
    px = _ico_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
        "n_frames": n,
    }


def encode_ico(images: list, png: bool = False) -> bytes:
    """ICO encoder twin: each (h,w,3) RGB image (≤256 on a side)
    becomes one directory entry — PNG streams when ``png``, else
    24-bit DIBs with doubled biHeight and an all-zero AND mask."""
    if not images:
        raise ValueError("encode_ico takes at least one image")
    blobs = []
    dims = []
    for px in images:
        px = np.asarray(px)
        if not (px.ndim == 3 and px.shape[2] == 3) or px.size == 0:
            raise ValueError("encode_ico takes non-empty (h,w,3) images")
        _check_pixels(px, "encode_ico", 255)
        h, w = px.shape[:2]
        if h > 256 or w > 256:
            raise ValueError(f"ICO images are at most 256x256, got {w}x{h}")
        if png:
            blobs.append(encode_png(px.astype(np.uint8)))
        else:
            row_size = (w * 3 + 3) // 4 * 4
            rows = np.zeros((h, row_size), dtype=np.uint8)
            rows[:, : w * 3] = np.flipud(px.astype(np.uint8)[:, :, ::-1]).reshape(
                h, w * 3
            )
            and_stride = (w + 31) // 32 * 4
            body = rows.tobytes() + bytes(and_stride * h)
            blobs.append(
                struct.pack(
                    "<IiiHHIIiiII", 40, w, 2 * h, 1, 24, 0, len(body), 0, 0, 0, 0
                )
                + body
            )
        dims.append((w, h))
    out = bytearray(struct.pack("<HHH", 0, 1, len(images)))
    off = 6 + 16 * len(images)
    for (w, h), blob in zip(dims, blobs):
        out += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 24, len(blob), off
        )
        off += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)


# --- QOI (r11): the Quite OK Image format ------------------------------
#
# Implemented from the public-domain one-page spec (qoiformat.org):
# RGBA running state, a 64-slot color index keyed (3r+5g+7b+11a)%64,
# and five ops — RGB, RGBA, INDEX, DIFF (2-bit biased deltas), LUMA
# (green-anchored deltas), RUN (1..62). Modern ML image corpora ship
# it as the cheap lossless interchange; the decode is serial per
# pixel but per-payload parallel inside mapInPandas like the other
# recurrence codecs.

_QOI_MAGIC = b"qoif"
_QOI_END = bytes(7) + b"\x01"


def _qoi_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB pixels of a QOI image; alpha is tracked through
    the full RGBA state machine (it keys the color index) and dropped
    at the end, the PNG rule. Truncated streams, bad headers, and
    pixel overruns raise ValueError."""
    if payload[:4] != _QOI_MAGIC:
        raise ValueError("not a QOI payload")
    if len(payload) < 14:
        raise ValueError("QOI header truncated")
    w, h = struct.unpack_from(">II", payload, 4)
    channels, colorspace = payload[12], payload[13]
    if channels not in (3, 4) or colorspace not in (0, 1):
        raise ValueError(
            f"invalid QOI header (channels={channels}, colorspace={colorspace})"
        )
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid QOI dimensions ({w}x{h})")
    if w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"QOI {w}x{h} exceeds the decode cap")
    n = w * h
    out = np.empty((n, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    px = (0, 0, 0, 255)
    pos = 14
    i = 0
    end = len(payload) - len(_QOI_END)
    while i < n:
        if pos >= end:
            raise ValueError("QOI stream shorter than its pixel count")
        b0 = payload[pos]
        pos += 1
        if b0 == 0xFE:  # QOI_OP_RGB
            if pos + 3 > end:
                raise ValueError("QOI stream truncated")
            px = (payload[pos], payload[pos + 1], payload[pos + 2], px[3])
            pos += 3
        elif b0 == 0xFF:  # QOI_OP_RGBA
            if pos + 4 > end:
                raise ValueError("QOI stream truncated")
            px = tuple(payload[pos : pos + 4])
            pos += 4
        else:
            tag = b0 >> 6
            if tag == 0:  # QOI_OP_INDEX
                px = index[b0 & 0x3F]
            elif tag == 1:  # QOI_OP_DIFF
                px = (
                    (px[0] + ((b0 >> 4) & 3) - 2) & 0xFF,
                    (px[1] + ((b0 >> 2) & 3) - 2) & 0xFF,
                    (px[2] + (b0 & 3) - 2) & 0xFF,
                    px[3],
                )
            elif tag == 2:  # QOI_OP_LUMA
                if pos >= end:
                    raise ValueError("QOI stream truncated")
                dg = (b0 & 0x3F) - 32
                b1 = payload[pos]
                pos += 1
                px = (
                    (px[0] + dg + ((b1 >> 4) & 0xF) - 8) & 0xFF,
                    (px[1] + dg) & 0xFF,
                    (px[2] + dg + (b1 & 0xF) - 8) & 0xFF,
                    px[3],
                )
            else:  # QOI_OP_RUN
                run = (b0 & 0x3F) + 1
                if i + run > n:
                    raise ValueError("QOI run overruns the pixel count")
                out[i : i + run] = px
                i += run
                continue
        index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
        out[i] = px
        i += 1
    return out[:, :3].reshape(h, w, 3)


def decode_qoi(payload: bytes) -> dict:
    px = _qoi_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_qoi(px: np.ndarray) -> bytes:
    """QOI encoder twin — the spec's reference strategy (run, then
    index, then diff/luma, then RGB), RGB-only (channels=3). Lossless
    by construction, fuzz/round-trip gated like every other twin."""
    px = np.asarray(px)
    if not (px.ndim == 3 and px.shape[2] == 3) or px.size == 0:
        raise ValueError(f"encode_qoi takes a non-empty (h,w,3) image, got {px.shape}")
    _check_pixels(px, "encode_qoi", 255)
    h, w = px.shape[:2]
    flat = px.astype(np.uint8).reshape(-1, 3)
    out = bytearray(_QOI_MAGIC + struct.pack(">II", w, h) + bytes([3, 0]))
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    for r, g, b in flat:
        cur = (int(r), int(g), int(b), 255)
        if cur == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        key = (cur[0] * 3 + cur[1] * 5 + cur[2] * 7 + cur[3] * 11) % 64
        if index[key] == cur:
            out.append(key)
        else:
            index[key] = cur
            dr = (cur[0] - prev[0]) & 0xFF
            dg = (cur[1] - prev[1]) & 0xFF
            db = (cur[2] - prev[2]) & 0xFF
            sdr = dr - 256 if dr > 127 else dr
            sdg = dg - 256 if dg > 127 else dg
            sdb = db - 256 if db > 127 else db
            if -2 <= sdr <= 1 and -2 <= sdg <= 1 and -2 <= sdb <= 1:
                out.append(0x40 | ((sdr + 2) << 4) | ((sdg + 2) << 2) | (sdb + 2))
            elif (
                -32 <= sdg <= 31
                and -8 <= sdr - sdg <= 7
                and -8 <= sdb - sdg <= 7
            ):
                out.append(0x80 | (sdg + 32))
                out.append(((sdr - sdg + 8) << 4) | (sdb - sdg + 8))
            else:
                out += bytes([0xFE, cur[0], cur[1], cur[2]])
        prev = cur
    if run:
        out.append(0xC0 | (run - 1))
    # the first pixel may equal the implicit (0,0,0,255) start state:
    # the run above covers it, but it must also land in the index the
    # way the decoder's state machine does — handled because runs
    # never touch the index on either side (spec rule)
    out += _QOI_END
    return bytes(out)
#
# Implemented from the public TGA 2.0 spec: gray/truecolor/
# color-mapped, raw and RLE, 8/15/16/24/32-bit depths, both vertical
# origins. TGA has NO leading magic; the magic-sniffed entry
# (_image_pixels) accepts only files ending in the spec's v2 footer
# signature, while the mime-routed entry decodes v1 files too.

_TGA_FOOTER = b"TRUEVISION-XFILE.\x00"


def _tga_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB pixels of a TARGA image. Color-mapped entries and
    truecolor pixels follow the spec's little-endian BGR(A) layouts;
    15/16-bit 5:5:5 channels scale by the exact (v·255 + 15)//31
    round; RLE packets are bounded by the pixel count; the alpha
    channel, when present, is parsed and dropped (the PNG rule)."""
    if len(payload) < 18:
        raise ValueError("TGA header truncated")
    (
        idlen, cmap_type, itype, cm_first, cm_len, cm_bits,
        _xo, _yo, w, h, depth, desc,
    ) = struct.unpack_from("<BBBHHBHHHHBB", payload, 0)
    if itype not in (1, 2, 3, 9, 10, 11):
        raise ValueError(f"unsupported TGA image type {itype}")
    if cmap_type not in (0, 1):
        raise ValueError(f"invalid TGA color map type {cmap_type}")
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid TGA dimensions ({w}x{h})")
    if w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"TGA {w}x{h} exceeds the decode cap")
    mapped = itype in (1, 9)
    gray = itype in (3, 11)
    rle = itype >= 9
    if mapped:
        if cmap_type != 1 or cm_len == 0:
            raise ValueError("color-mapped TGA missing its color map")
        if depth != 8:
            raise ValueError(f"unsupported TGA index depth {depth}")
        if cm_bits not in (15, 16, 24, 32):
            raise ValueError(f"unsupported TGA color map entry size {cm_bits}")
    elif gray:
        if depth != 8:
            raise ValueError(f"unsupported TGA gray depth {depth}")
    elif depth not in (15, 16, 24, 32):
        raise ValueError(f"unsupported TGA depth {depth}")
    pos = 18 + idlen
    cmap = None
    if cmap_type == 1 and cm_len:
        # an unused-but-present map (legal for truecolor/gray types)
        # still needs its entry size validated BEFORE the byte math:
        # entry sizes 0-7 would reach _tga_to_rgb with a zero/one-
        # column array and leak IndexError (r11 fuzz find)
        if cm_bits not in (15, 16, 24, 32):
            raise ValueError(f"unsupported TGA color map entry size {cm_bits}")
        entry_bytes = (cm_bits + 7) // 8
        need = cm_len * entry_bytes
        if pos + need > len(payload):
            raise ValueError("TGA color map truncated")
        if mapped:
            cmap = _tga_to_rgb(
                np.frombuffer(payload, np.uint8, need, pos).reshape(
                    cm_len, entry_bytes
                ),
                cm_bits,
            )
        pos += need
    bpp = (depth + 7) // 8
    n_px = w * h
    if rle:
        out = np.empty((n_px, bpp), dtype=np.uint8)
        filled = 0
        while filled < n_px:
            if pos >= len(payload):
                raise ValueError("TGA RLE stream truncated")
            head = payload[pos]
            pos += 1
            count = (head & 0x7F) + 1
            count = min(count, n_px - filled)
            if head & 0x80:
                if pos + bpp > len(payload):
                    raise ValueError("TGA RLE stream truncated")
                out[filled : filled + count] = np.frombuffer(
                    payload, np.uint8, bpp, pos
                )
                pos += bpp
            else:
                need = count * bpp
                if pos + need > len(payload):
                    raise ValueError("TGA RLE stream truncated")
                out[filled : filled + count] = np.frombuffer(
                    payload, np.uint8, need, pos
                ).reshape(count, bpp)
                pos += need
            filled += count
        raw = out
    else:
        need = n_px * bpp
        if pos + need > len(payload):
            raise ValueError("TGA pixel data truncated")
        raw = np.frombuffer(payload, np.uint8, need, pos).reshape(n_px, bpp)
    if mapped:
        # pixel values index from firstEntryIndex per the spec
        idx = raw[:, 0].astype(np.int64) - cm_first
        if idx.size and (idx.max() >= len(cmap) or idx.min() < 0):
            raise ValueError("TGA index outside the color map")
        rgb = cmap[idx]
    elif gray:
        rgb = np.repeat(raw[:, :1], 3, axis=1)
    else:
        rgb = _tga_to_rgb(raw, depth)
    px = rgb.reshape(h, w, 3)
    if not desc & 0x20:  # bottom-up origin (the format's default)
        px = px[::-1]
    if desc & 0x10:  # right-to-left
        px = px[:, ::-1]
    return np.ascontiguousarray(px)


def _tga_to_rgb(raw: np.ndarray, bits: int) -> np.ndarray:
    """(n, 3) RGB from (n, bytes) little-endian TGA pixel/entry rows:
    BGR(A) at 24/32 bits, 5:5:5 at 15/16 (attribute bit dropped)."""
    if bits in (24, 32):
        return raw[:, [2, 1, 0]].copy()
    v = raw[:, 0].astype(np.int64) | (raw[:, 1].astype(np.int64) << 8)
    b = v & 0x1F
    g = (v >> 5) & 0x1F
    r = (v >> 10) & 0x1F
    return (
        (np.stack([r, g, b], axis=1) * 255 + 15) // 31
    ).astype(np.uint8)


def decode_tga(payload: bytes) -> dict:
    px = _tga_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_tga(px: np.ndarray, rle: bool = False) -> bytes:
    """TGA encoder twin: (h,w) grayscale → type 3/11, (h,w,3) RGB →
    type 2/10 (24-bit BGR), top-down origin, the spec's v2 footer
    appended so the magic-sniffed entry recognizes the file.
    Lossless; ``rle`` emits max-128 run/literal packets."""
    px = np.asarray(px)
    gray = px.ndim == 2
    if not gray and not (px.ndim == 3 and px.shape[2] == 3):
        raise ValueError(
            f"encode_tga takes (h,w) grayscale or (h,w,3) RGB, got {px.shape}"
        )
    if px.size == 0:
        raise ValueError("encode_tga: empty image")
    _check_pixels(px, "encode_tga", 255)
    h, w = px.shape[:2]
    bpp = 1 if gray else 3
    rows = (
        px.astype(np.uint8).reshape(h, w, 1)
        if gray
        else px.astype(np.uint8)[:, :, ::-1]  # RGB → BGR
    )
    flat = rows.reshape(-1, bpp)
    if rle:
        body = bytearray()
        i = 0
        n = len(flat)
        while i < n:
            run = 1
            while i + run < n and run < 128 and np.array_equal(flat[i + run], flat[i]):
                run += 1
            if run >= 2:
                body.append(0x80 | (run - 1))
                body += flat[i].tobytes()
                i += run
            else:
                lit = 1
                while (
                    i + lit < n
                    and lit < 128
                    and not (
                        i + lit + 1 < n
                        and np.array_equal(flat[i + lit], flat[i + lit + 1])
                    )
                ):
                    lit += 1
                body.append(lit - 1)
                body += flat[i : i + lit].tobytes()
                i += lit
        itype = 11 if gray else 10
        data = bytes(body)
    else:
        itype = 3 if gray else 2
        data = flat.tobytes()
    head = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, itype, 0, 0, 0, 0, 0, w, h, bpp * 8, 0x20
    )
    footer = bytes(8) + _TGA_FOOTER
    return head + data + footer


# --- TIFF: baseline 6.0 (r9) — IFD walk + LZW/PackBits strips ---------
#
# The fourth image container family (BMP, PNG, JPEG, GIF, now TIFF —
# the scanned-document corpus staple). Implemented from the public
# TIFF 6.0 spec: both byte orders, first-IFD tag walk, strip-based
# storage, compression 1 (none) / 5 (LZW, MSB-first with early
# change — NOT the GIF variant) / 32773 (PackBits), photometric
# 0/1 (bilevel+gray, WhiteIsZero inverted) / 2 (RGB, alpha dropped)
# / 3 (palette, 16-bit colormap scaled >>8). 16-bit samples (r10):
# gray + RGB, file byte order, predictor 2 mod 65536, exact
# v·255/65535 16→8 rounding (the PNG depth-16 rule). Also r10:
# multi-page IFD chains (cycle-guarded), PlanarConfiguration 2
# (plane-major strip tables), and CMYK/photometric 5 (multiplicative
# under-color removal, exact rounding). No codec library.


def _tiff_lzw_decode(data: bytes, max_bytes: int) -> bytes:
    """TIFF-variant LZW: MSB-first bit packing, 9-bit initial width,
    Clear=256 / EOI=257, and the spec's EARLY CHANGE (the width bumps
    one code sooner than GIF's table-full point)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    next_code = 258
    prev: bytes | None = None
    acc = bits = pos = 0
    while len(out) < max_bytes:
        while bits < width:
            if pos >= len(data):
                raise ValueError("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            bits += 8
            pos += 1
        bits -= width
        code = (acc >> bits) & ((1 << width) - 1)
        acc &= (1 << bits) - 1  # unmasked, acc grows with the stream
        # and every shift goes quadratic (r9 review: 480x480 -> hours)
        if code == 256:  # Clear
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            next_code = 258
            prev = None
            continue
        if code == 257:  # EOI
            break
        if prev is None:
            if code >= 256:
                raise ValueError("TIFF LZW stream must start with a literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"TIFF LZW code {code} out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            # early change, decoder side: the decoder's table lags the
            # encoder's by exactly one add (it can only reconstruct an
            # entry after seeing the NEXT code), so it must widen one
            # slot earlier than the encoder's 2^w - 1 point — the
            # classic TIFF-LZW off-by-one (r9 encoder fuzz caught the
            # = -1 version desynchronizing on high-entropy input).
            if next_code == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry
    return bytes(out[:max_bytes])


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Encoder twin of ``_tiff_lzw_decode`` — real dictionary growth,
    early-change width bumps, table reset at the spec's 4094 cap."""
    out = bytearray()
    acc = bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, bits
        acc = (acc << width) | code
        bits += width
        while bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
        acc &= (1 << bits) - 1  # keep the accumulator bounded

    def reset() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = reset()
    emit(256, width)  # leading Clear, per spec
    buf = b""
    for byte in data:
        trial = buf + bytes([byte])
        if trial in table:
            buf = trial
            continue
        emit(table[buf], width)
        table[trial] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4094:
            emit(256, width)
            table, next_code, width = reset()
        buf = bytes([byte])
    if buf:
        emit(table[buf], width)
    emit(257, width)  # EOI
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, max_bytes: int) -> bytes:
    """PackBits (TIFF compression 32773): n in 0..127 → n+1 literal
    bytes; n in -127..-1 (two's complement) → next byte repeated
    1-n times; -128 is a no-op."""
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < max_bytes:
        n = data[pos]
        pos += 1
        if n < 128:  # literal run
            if pos + n + 1 > len(data):
                raise ValueError("PackBits literal run truncated")
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:  # repeat run of 257-n
            if pos >= len(data):
                raise ValueError("PackBits repeat run truncated")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op
    return bytes(out[:max_bytes])


def _packbits_encode(data: bytes) -> bytes:
    """Encoder twin: repeat runs >= 3 bytes become (257-len, byte),
    everything else literal spans (<= 128 each)."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = 0

    def flush_literal(end: int) -> None:
        j = lit_start
        while j < end:
            span = min(128, end - j)
            out.append(span - 1)
            out.extend(data[j : j + span])
            j += span

    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            flush_literal(i)
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literal(n)
    return bytes(out)


_TIFF_TYPE_SIZES = {1: 1, 3: 2, 4: 4, 7: 1}  # BYTE, SHORT, LONG, UNDEFINED


def _tiff_pixels(payload: bytes, page: int = 0) -> np.ndarray:
    """(h, w, 3) RGB pixels of one page of a baseline TIFF (r10:
    multi-page via the IFD next-pointer chain — the scanned-document
    staple) — see the section comment for the supported matrix.
    Corrupt containers raise ValueError (the module quarantine
    contract)."""
    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF payload")
    try:
        # lazy walk: page 0 never reads past the first IFD, so a
        # dangling next pointer in a TRUNCATED multi-page scan cannot
        # quarantine an intact first page (r10 review)
        offsets = _tiff_ifd_chain(payload, need=page + 1)
        if page >= len(offsets):
            raise ValueError(
                f"TIFF has {len(offsets)} reachable pages, page {page} "
                "requested"
            )
        return _tiff_pixels_impl(payload, offsets[page])
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt TIFF container ({exc})") from exc


def _tiff_ifd_chain(
    payload: bytes, need: int | None = None, strict: bool = True
) -> list[int]:
    """IFD offsets in chain order — lazily stopping after ``need``
    links when given. Bounds-checked per link; the chain length is
    capped (a forged next-pointer loop must terminate, the same
    discipline as every other header-driven walk here) and a repeated
    offset means a cycle. ``strict`` raises on a bad link; the
    page-COUNT path passes False to get the readable prefix instead
    (a truncated tail should not quarantine pages that decode)."""
    e = "<" if payload[:2] == b"II" else ">"
    (off,) = struct.unpack_from(f"{e}I", payload, 4)
    seen: list[int] = []
    seen_set: set[int] = set()
    while off:
        bad = None
        nxt_off = None
        if off + 2 > len(payload):
            bad = "TIFF IFD offset out of bounds"
        elif off in seen_set:
            bad = "TIFF IFD chain cycles"
        elif len(seen) >= 1024:
            bad = "TIFF IFD chain exceeds 1024 pages"
        else:
            (n_entries,) = struct.unpack_from(f"{e}H", payload, off)
            nxt = off + 2 + 12 * n_entries
            if nxt + 4 <= len(payload):
                (nxt_off,) = struct.unpack_from(f"{e}I", payload, nxt)
            elif nxt <= len(payload):
                # entry table intact, only the 4-byte next pointer is
                # cut off (data-before-IFD layout truncated at the
                # tail): the page itself decodes, so accept it and end
                # the chain here instead of quarantining (r10 advice)
                nxt_off = 0
            else:
                bad = "TIFF IFD truncated"
        if bad is not None:
            if strict:
                raise ValueError(bad)
            break
        seen.append(off)
        seen_set.add(off)
        if need is not None and len(seen) >= need:
            return seen
        off = nxt_off
    if not seen:
        raise ValueError("TIFF has no IFDs")
    return seen


def _tiff_tag_values(payload: bytes, e: str, entry_off: int) -> tuple[int, list[int]]:
    """(tag, values) of one 12-byte IFD entry — BYTE/SHORT/LONG only
    (what the baseline tags use); inline when they fit in the 4-byte
    value slot, at the pointed offset otherwise."""
    tag, typ, count = struct.unpack_from(f"{e}HHI", payload, entry_off)
    size = _TIFF_TYPE_SIZES.get(typ)
    if size is None:
        return tag, []  # unsupported value type: caller treats as absent
    if count > 1 << 20:
        raise ValueError(f"TIFF tag {tag} count {count} implausible")
    total = size * count
    if total <= 4:
        base = entry_off + 8
    else:
        (base,) = struct.unpack_from(f"{e}I", payload, entry_off + 8)
        if base + total > len(payload):
            raise ValueError(f"TIFF tag {tag} values out of bounds")
    fmt = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
    return tag, list(struct.unpack_from(f"{e}{count}{fmt}", payload, base))


def _tiff_pixels_impl(payload: bytes, ifd_off: int | None = None) -> np.ndarray:
    e = "<" if payload[:2] == b"II" else ">"
    if ifd_off is None:
        (ifd_off,) = struct.unpack_from(f"{e}I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(f"{e}H", payload, ifd_off)
    if ifd_off + 2 + 12 * n_entries > len(payload):
        raise ValueError("TIFF IFD truncated")
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        tag, vals = _tiff_tag_values(payload, e, ifd_off + 2 + 12 * i)
        if vals:
            tags[tag] = vals
    try:
        width = tags[256][0]
        height = tags[257][0]
        photometric = tags[262][0]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag {exc}") from exc
    tiled = 322 in tags or 324 in tags
    if tiled:
        try:
            tile_w, tile_h = tags[322][0], tags[323][0]
            seg_offsets, seg_counts = tags[324], tags[325]
        except KeyError as exc:
            raise ValueError(f"tiled TIFF missing tag {exc}") from exc
    else:
        try:
            seg_offsets, seg_counts = tags[273], tags[279]
        except KeyError as exc:
            raise ValueError(f"TIFF missing required tag {exc}") from exc
    bps_list = tags.get(258, [1])
    spp = tags.get(277, [1])[0]
    compression = tags.get(259, [1])[0]
    rows_per_strip = tags.get(278, [height])[0] or height
    if compression == 7:
        # new-style JPEG-in-TIFF (TIFF Technical Note #2): every
        # segment is its own JPEG datastream through the engine's
        # baseline+progressive decoder
        return _tiff_jpeg_pixels(payload, tags)
    if compression == 6:
        raise NotImplementedError(
            "old-style JPEG-in-TIFF (compression 6) was withdrawn by "
            "TIFF Technical Note #2 and needs the deprecated tag-512 "
            "table machinery; re-save as new-style (compression 7)"
        )
    planar = tags.get(284, [1])[0]
    if planar not in (1, 2) or (planar == 2 and tiled):
        raise ValueError(
            f"unsupported TIFF planar configuration {planar}"
            + (" (tiled)" if tiled else "")
        )
    predictor = tags.get(317, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    bps = bps_list[0]
    if any(b != bps for b in bps_list):
        raise ValueError(f"unsupported mixed TIFF bits-per-sample {bps_list}")
    supported = (
        (photometric in (0, 1) and spp == 1 and bps in (1, 8, 16))
        or (photometric == 2 and spp in (3, 4) and bps in (8, 16))
        or (photometric == 3 and spp == 1 and bps in (4, 8))
        or (photometric == 5 and spp == 4 and bps in (8, 16))
    )
    # 8 = Adobe Deflate, 32946 = the older Deflate code — same stream
    if not supported or compression not in (1, 5, 8, 32773, 32946):
        raise ValueError(
            f"unsupported TIFF variant (photometric={photometric}, "
            f"spp={spp}, bps={bps}, compression={compression})"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid TIFF dimensions ({width}x{height})")
    if width * height > _IMG_MAX_PIXELS:
        raise ValueError(f"TIFF {width}x{height} exceeds the decode cap")
    if len(seg_offsets) != len(seg_counts):
        raise ValueError("TIFF segment offset/count tables disagree")

    def _decompress(raw: bytes, want: int, label: str) -> np.ndarray:
        if compression == 5:
            raw = _tiff_lzw_decode(raw, want)
        elif compression == 32773:
            raw = _packbits_decode(raw, want)
        elif compression in (8, 32946):
            import zlib

            try:
                # max_length bounds the inflate at exactly the bytes
                # the segment geometry needs — a deflate bomb cannot
                # allocate past `want` (same cap discipline as LZW)
                raw = zlib.decompressobj().decompress(raw, want)
            except zlib.error as exc:
                raise ValueError(f"corrupt TIFF deflate {label} ({exc})") from exc
        if len(raw) < want:
            raise ValueError(f"TIFF {label} shorter than its rows")
        return np.frombuffer(raw, np.uint8, want)

    def _expand(
        grid: np.ndarray, rows_n: int, w: int, channels: int | None = None
    ) -> np.ndarray:
        """(rows_n, w, channels) samples from unpredicted scanline
        bytes — the predictor resets per segment row, so this runs per
        strip grid or per TILE, never across segment boundaries.
        ``channels`` defaults to spp; planar strips pass 1 (each strip
        carries ONE plane)."""
        ch = spp if channels is None else channels
        if bps == 16:
            # 16-bit samples follow the FILE byte order (r10); the
            # predictor, when present, differences 16-bit VALUES per
            # channel (mod 65536), not bytes
            pairs = (
                grid[:, : w * ch * 2]
                .reshape(rows_n, w * ch, 2)
                .astype(np.uint32)
            )
            hi, lo = (0, 1) if e == ">" else (1, 0)
            vals = ((pairs[:, :, hi] << 8) | pairs[:, :, lo]).reshape(
                rows_n, w, ch
            )
            if predictor == 2:
                vals = np.cumsum(vals, axis=1, dtype=np.int64) & 0xFFFF
            return vals.astype(np.uint16)
        if predictor == 2:
            # horizontal differencing (tag 317 — libtiff's default
            # with LZW): invert with a per-channel cumsum mod 256
            if bps != 8:
                raise ValueError("TIFF predictor 2 requires 8- or 16-bit samples")
            und = grid[:, : w * ch].reshape(rows_n, w, ch)
            return (np.cumsum(und, axis=1, dtype=np.int64) & 0xFF).astype(np.uint8)
        if bps == 8:
            return grid[:, : w * ch].reshape(rows_n, w, ch)
        bits = np.unpackbits(grid, axis=1)
        per = bits.shape[1] // bps
        weights = (1 << np.arange(bps - 1, -1, -1)).astype(np.uint8)
        return (
            (bits[:, : per * bps].reshape(rows_n, per, bps) * weights)
            .sum(axis=2, dtype=np.uint16)[:, :w]
            .reshape(rows_n, w, 1)
        )

    if tiled:
        if tile_w < 1 or tile_h < 1:
            raise ValueError(f"invalid TIFF tile size {tile_w}x{tile_h}")
        if tile_w * tile_h > _IMG_MAX_PIXELS:
            # the per-tile buffer allocates at FULL tile size before
            # cropping, so a lying huge tile size is its own bomb
            raise ValueError(f"TIFF tile {tile_w}x{tile_h} exceeds the decode cap")
        across = (width + tile_w - 1) // tile_w
        down = (height + tile_h - 1) // tile_h
        if len(seg_offsets) < across * down:
            raise ValueError("TIFF tile table smaller than the tile grid")
        tile_stride = (tile_w * bps * spp + 7) // 8
        samples = None
        for ti, (off, cnt) in enumerate(
            zip(seg_offsets[: across * down], seg_counts)
        ):
            if off + cnt > len(payload):
                raise ValueError("TIFF tile data out of bounds")
            grid = _decompress(
                payload[off : off + cnt], tile_h * tile_stride, f"tile {ti}"
            ).reshape(tile_h, tile_stride)
            sub = _expand(grid, tile_h, tile_w)
            if samples is None:
                # buffer dtype follows _expand's output (uint8 at 8 bps,
                # uint16 below) so the sub-assignment can never silently
                # wrap; the grid is >= 1x1 so the loop always allocates
                samples = np.zeros((height, width, spp), dtype=sub.dtype)
            y0 = (ti // across) * tile_h
            x0 = (ti % across) * tile_w
            ch = min(tile_h, height - y0)
            cw = min(tile_w, width - x0)
            samples[y0 : y0 + ch, x0 : x0 + cw] = sub[:ch, :cw]
    else:
        ch_per_strip = 1 if planar == 2 else spp
        stride = (width * bps * ch_per_strip + 7) // 8

        def strips_grid(pairs: "list[tuple[int, int]]", pfx: str) -> np.ndarray:
            rows = []
            row_total = 0
            for si, (off, cnt) in enumerate(pairs):
                if off + cnt > len(payload):
                    raise ValueError("TIFF strip data out of bounds")
                n_rows = min(rows_per_strip, height - row_total)
                if n_rows <= 0:
                    break
                rows.append(
                    _decompress(
                        payload[off : off + cnt],
                        n_rows * stride,
                        f"{pfx}strip {si}",
                    ).reshape(n_rows, stride)
                )
                row_total += n_rows
            if row_total < height:
                raise ValueError("TIFF strips cover fewer rows than ImageLength")
            return np.concatenate(rows, axis=0)

        if planar == 2:
            # PlanarConfiguration 2: the strip table holds spp×
            # strips-per-plane entries, PLANE-MAJOR per the spec; each
            # plane decodes as a one-channel image, then channels stack
            spl = (height + rows_per_strip - 1) // rows_per_strip
            if len(seg_offsets) < spp * spl:
                raise ValueError(
                    "TIFF planar strip table smaller than planes x strips"
                )
            planes = [
                _expand(
                    strips_grid(
                        list(
                            zip(
                                seg_offsets[pl * spl : (pl + 1) * spl],
                                seg_counts[pl * spl : (pl + 1) * spl],
                            )
                        ),
                        f"plane {pl} ",
                    ),
                    height,
                    width,
                    channels=1,
                )
                for pl in range(spp)
            ]
            samples = np.concatenate(planes, axis=2)
        else:
            samples = _expand(
                strips_grid(list(zip(seg_offsets, seg_counts)), ""),
                height,
                width,
            )
    if photometric == 5:
        # CMYK (Separated, the scanned-print staple): ink values where
        # smax = full ink; the conversion every RGBA-style reader uses
        # is multiplicative under-color removal
        # R = (smax−C)(smax−K)/smax² · 255, exact round-to-nearest
        smax = 65535 if bps == 16 else 255
        c = samples.astype(np.uint64)
        num = (smax - c[:, :, :3]) * (smax - c[:, :, 3:4]) * 255
        return ((num + (smax * smax) // 2) // (smax * smax)).astype(np.uint8)
    if photometric == 2:
        if bps == 16:
            # exact round-to-nearest 16→8 (v·255/65535) — the same
            # bit-pinnable formula as the PNG depth-16 path, not >>8
            return (
                (samples[:, :, :3].astype(np.uint32) * 255 + 32767) // 65535
            ).astype(np.uint8)
        return samples[:, :, :3].astype(np.uint8)
    if photometric == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * (1 << bps):
            raise ValueError("palette TIFF missing/short ColorMap")
        n = 1 << bps
        # ColorMap is 16-bit per channel, all reds then greens then blues
        table = (
            np.asarray(cmap[: 3 * n], dtype=np.uint32).reshape(3, n).T >> 8
        ).astype(np.uint8)
        idx = samples[:, :, 0].astype(np.int64)
        return table[idx]
    # photometric 0/1: grayscale; 0 = WhiteIsZero inverts
    maxval = (1 << bps) - 1
    gray = samples[:, :, 0].astype(np.int64)
    if photometric == 0:
        gray = maxval - gray
    if bps == 16:
        gray = (gray * 255 + 32767) // 65535  # same exact round as RGB
    elif bps < 8:
        gray = gray * (255 // maxval)
    return np.repeat(gray.astype(np.uint8)[:, :, None], 3, axis=2)


def _tiff_jpeg_pixels(payload: bytes, tags: dict) -> np.ndarray:
    """(h, w, 3) RGB pixels of a new-style JPEG-in-TIFF page
    (compression 7, TIFF Technical Note #2 — the scanned-document
    staple): every strip/tile is a complete baseline or progressive
    JPEG datastream, decoded by the engine's own ``_jpeg_pixels``; a
    JPEGTables tag (347) holds an abbreviated table-specification
    stream whose DQT/DHT apply to every segment (merged as
    SOI + tables + segment[SOI:], libjpeg's tables-only rule).
    Photometric 6 (YCbCr — what libjpeg-family writers emit; the
    sample decoder's BT.601 conversion applies) and 0/1 (grayscale)
    decode; RGB-kept-in-JPEG (photometric 2) would need the
    conversion SKIPPED per-scan and is rejected as unsupported."""
    width, height = tags[256][0], tags[257][0]
    photometric = tags[262][0]
    spp = tags.get(277, [1])[0]
    bps_list = tags.get(258, [8])
    if not (
        (photometric in (0, 1) and spp == 1) or (photometric == 6 and spp == 3)
    ) or any(b != 8 for b in bps_list):
        raise ValueError(
            f"unsupported TIFF JPEG variant (photometric={photometric}, "
            f"spp={spp}, bps={bps_list})"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid TIFF dimensions ({width}x{height})")
    if width * height > _IMG_MAX_PIXELS:
        raise ValueError(f"TIFF {width}x{height} exceeds the decode cap")
    tables = bytes(tags[347]) if 347 in tags else None
    if tables is not None and (
        len(tables) < 4
        or tables[:2] != b"\xff\xd8"
        or tables[-2:] != b"\xff\xd9"
    ):
        raise ValueError("TIFF JPEGTables is not an abbreviated JPEG stream")

    def seg_px(off: int, cnt: int, label: str) -> np.ndarray:
        if off + cnt > len(payload):
            raise ValueError(f"TIFF {label} data out of bounds")
        buf = payload[off : off + cnt]
        if buf[:2] != b"\xff\xd8":
            raise ValueError(f"TIFF {label} is not a JPEG datastream")
        if tables is not None:
            buf = tables[:-2] + buf[2:]
        px = _jpeg_pixels(buf)
        if photometric == 0:  # WhiteIsZero inverts, like the raw arm
            px = (255 - px.astype(np.int16)).astype(np.uint8)
        return px

    tiled = 322 in tags or 324 in tags
    if tiled:
        try:
            tile_w, tile_h = tags[322][0], tags[323][0]
            seg_offsets, seg_counts = tags[324], tags[325]
        except KeyError as exc:
            raise ValueError(f"tiled TIFF missing tag {exc}") from exc
        if tile_w < 1 or tile_h < 1:
            raise ValueError(f"invalid TIFF tile size {tile_w}x{tile_h}")
        if tile_w * tile_h > _IMG_MAX_PIXELS:
            raise ValueError(f"TIFF tile {tile_w}x{tile_h} exceeds the decode cap")
        across = (width + tile_w - 1) // tile_w
        down = (height + tile_h - 1) // tile_h
        if len(seg_offsets) < across * down or len(seg_counts) < across * down:
            raise ValueError("TIFF tile table smaller than the tile grid")
        out = np.zeros((height, width, 3), dtype=np.uint8)
        for ti in range(across * down):
            px = seg_px(seg_offsets[ti], seg_counts[ti], f"tile {ti}")
            y0 = (ti // across) * tile_h
            x0 = (ti % across) * tile_w
            ch = min(tile_h, height - y0)
            cw = min(tile_w, width - x0)
            if px.shape[0] < ch or px.shape[1] < cw:
                raise ValueError(f"TIFF tile {ti} JPEG smaller than the tile")
            out[y0 : y0 + ch, x0 : x0 + cw] = px[:ch, :cw]
        return out
    try:
        seg_offsets, seg_counts = tags[273], tags[279]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag {exc}") from exc
    if len(seg_offsets) != len(seg_counts):
        raise ValueError("TIFF segment offset/count tables disagree")
    rows_per_strip = tags.get(278, [height])[0] or height
    out = np.zeros((height, width, 3), dtype=np.uint8)
    row = 0
    for si, (off, cnt) in enumerate(zip(seg_offsets, seg_counts)):
        n_rows = min(rows_per_strip, height - row)
        if n_rows <= 0:
            break
        px = seg_px(off, cnt, f"strip {si}")
        # JPEG pads to MCU multiples; the strip contributes exactly
        # its declared rows (the decoder already cropped to the SOF
        # dims, which may themselves be MCU-padded by the writer)
        if px.shape[0] < n_rows or px.shape[1] < width:
            raise ValueError(f"TIFF strip {si} JPEG smaller than its rows")
        out[row : row + n_rows] = px[:n_rows, :width]
        row += n_rows
    if row < height:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")
    return out


def _jpeg_split_tables(stream: bytes) -> tuple[bytes, bytes]:
    """(tables stream, abbreviated image stream) of one complete JPEG:
    DQT/DHT segments move to an SOI+tables+EOI stream (the JPEGTables
    tag-347 payload), everything else — including the entropy-coded
    data after SOS — stays. The inverse of the decoder's merge rule."""
    if stream[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG datastream")
    i = 2
    tables = bytearray()
    rest = bytearray(b"\xff\xd8")
    while i + 4 <= len(stream):
        if stream[i] != 0xFF:
            raise ValueError("JPEG marker desync while splitting tables")
        marker = stream[i + 1]
        (ln,) = struct.unpack_from(">H", stream, i + 2)
        seg = stream[i : i + 2 + ln]
        if marker in (0xDB, 0xC4):  # DQT / DHT
            tables += seg
        else:
            rest += seg
        i += 2 + ln
        if marker == 0xDA:  # SOS: entropy data follows, copy verbatim
            break
    rest += stream[i:]
    return b"\xff\xd8" + bytes(tables) + b"\xff\xd9", bytes(rest)


def encode_tiff_jpeg(
    px: np.ndarray,
    rows_per_strip: int | None = None,
    progressive: bool = False,
    shared_tables: bool = False,
    tile: tuple[int, int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """New-style JPEG-in-TIFF encoder twin (fixture discipline):
    grayscale (h,w) → photometric 1 or RGB (h,w,3) → photometric 6,
    every strip/tile its own ``encode_jpeg`` datastream;
    ``shared_tables`` splits the (identical, Annex-K) DQT/DHT out of
    every segment into one JPEGTables tag — the abbreviated-stream
    layout libtiff writes. Lossy in general; exactly lossless on
    block-constant fixtures (the ``encode_jpeg`` DC-divisor-8
    property), which is what lets driver fixtures oracle it."""
    px = np.asarray(px)
    gray = px.ndim == 2
    if not gray and not (px.ndim == 3 and px.shape[2] == 3):
        raise ValueError(
            f"encode_tiff_jpeg takes (h,w) grayscale or (h,w,3) RGB, got {px.shape}"
        )
    if px.size == 0:
        raise ValueError("encode_tiff_jpeg: empty image")
    h, w = px.shape[:2]
    spp = 1 if gray else 3

    def jstream(block: np.ndarray) -> bytes:
        return encode_jpeg(
            block, progressive=progressive, restart_interval=restart_interval
        )

    strips = []
    if tile is not None:
        tw, th = tile
        if tw < 1 or th < 1 or tw % 16 or th % 16:
            raise ValueError(f"TIFF tile dims must be multiples of 16, got {tw}x{th}")
        for y0 in range(0, h, th):
            for x0 in range(0, w, tw):
                block = np.zeros(
                    (th, tw) if gray else (th, tw, 3), dtype=px.dtype
                )
                sub = px[y0 : y0 + th, x0 : x0 + tw]
                block[: sub.shape[0], : sub.shape[1]] = sub
                strips.append(jstream(block))
        loc_tag, cnt_tag = 324, 325
        rps = h
    else:
        rps = h if rows_per_strip is None else rows_per_strip
        if rps < 1:
            raise ValueError(f"invalid TIFF rows_per_strip {rps}")
        for y0 in range(0, h, rps):
            strips.append(jstream(px[y0 : y0 + rps]))
        loc_tag, cnt_tag = 273, 279
    entries = [
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8] * spp),
        (259, 3, [7]),
        (262, 3, [1 if gray else 6]),
        (277, 3, [spp]),
    ]
    if tile is not None:
        entries += [(322, 4, [tile[0]]), (323, 4, [tile[1]])]
    else:
        entries.append((278, 4, [rps]))
    if shared_tables:
        tables, abbreviated = None, []
        for s in strips:
            t, a = _jpeg_split_tables(s)
            if tables is None:
                tables = t
            elif tables != t:
                raise ValueError("segments disagree on JPEG tables")
            abbreviated.append(a)
        strips = abbreviated
        entries.append((347, 7, list(tables)))
    entries.append((loc_tag, 4, [0] * len(strips)))
    entries.append((cnt_tag, 4, [len(s) for s in strips]))
    return _tiff_assemble(entries, strips, loc_tag)


def decode_tiff(payload: bytes) -> dict:
    """Stats of page 0 (multi-page documents report every page's
    pixels via ``_tiff_pixels(payload, page=k)``; the stats dict stays
    DECODE_SCHEMA-shaped, so the page count rides in ``n_frames`` —
    the same field the animation/video arms use for frame counts)."""
    px = _tiff_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
        # REACHABLE pages: a corrupt next pointer ends the count (the
        # readable prefix of a truncated scan) rather than failing
        # stats for pages that decode fine (r10 review)
        "n_frames": len(_tiff_ifd_chain(payload, strict=False)),
    }


def encode_tiff(
    px: np.ndarray,
    compression: int = 1,
    rows_per_strip: int | None = None,
    predictor: int = 1,
    tile: tuple[int, int] | None = None,
    bits: int = 8,
    planar: int = 1,
    cmyk: bool = False,
    _nonspec_tiles: bool = False,
    _as_page: bool = False,
) -> bytes:
    """Baseline-TIFF encoder twin (fixture discipline): grayscale
    (h,w) or RGB (h,w,3) uint8, little-endian, strip-based with real
    LZW (early change), Deflate (8, zlib), or PackBits when asked.
    Lossless, so the text-byte oracles can hash-check the round
    trip. ``bits=16`` (r10) emits 16-bit samples (values 0–65535,
    little-endian, predictor 2 differences mod 65536); the decoder's
    RGB8 contract rounds 16→8 exactly like the PNG path, so v·257
    round-trips to v."""
    px = np.asarray(px)
    if bits not in (8, 16):
        raise ValueError(f"unsupported TIFF bits-per-sample {bits}")
    if bits == 16:
        _check_pixels(px, "encode_tiff", 65535)
        px = px.astype(np.uint16)
    else:
        _check_pixels(px, "encode_tiff", 255)
        px = px.astype(np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    want_ch = (4,) if cmyk else (1, 3)
    if px.ndim != 3 or px.shape[2] not in want_ch or px.size == 0:
        raise ValueError(
            "encode_tiff takes a non-empty (h,w,4) CMYK image"
            if cmyk
            else "encode_tiff takes a non-empty (h,w) or (h,w,3) image"
        )
    if compression not in (1, 5, 8, 32773):
        raise ValueError(f"unsupported TIFF compression {compression}")
    h, w, spp = px.shape
    photometric = 5 if cmyk else (1 if spp == 1 else 2)
    rps = h if rows_per_strip is None else rows_per_strip
    if rps < 1:
        raise ValueError(f"invalid TIFF rows_per_strip {rps}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if planar not in (1, 2) or (planar == 2 and tile is not None):
        raise ValueError(f"unsupported TIFF planar configuration {planar}")
    mask = (1 << bits) - 1
    store = np.dtype("<u2") if bits == 16 else np.dtype(np.uint8)

    def _diff(block: np.ndarray) -> np.ndarray:
        if predictor != 2:
            return block.astype(store)
        d = block.astype(np.int64)
        d[:, 1:] = (d[:, 1:] - d[:, :-1]) & mask
        return d.astype(store)

    def _compress(raw: bytes) -> bytes:
        if compression == 5:
            return _tiff_lzw_encode(raw)
        if compression == 8:
            import zlib

            return zlib.compress(raw, 6)
        if compression == 32773:
            return _packbits_encode(raw)
        return raw

    strips = []
    if tile is not None:
        tw, th = tile
        if tw < 1 or th < 1:
            raise ValueError(f"invalid TIFF tile size {tw}x{th}")
        if (tw % 16 or th % 16) and not _nonspec_tiles:
            # TIFF 6.0 requires TileWidth/TileLength to be multiples of
            # 16; emitted fixtures must stay readable by libtiff-family
            # tools. _nonspec_tiles is a decoder-test escape hatch only
            # (our decoder is deliberately liberal about tile geometry).
            raise ValueError(
                f"TIFF tile dims must be multiples of 16, got {tw}x{th}"
            )
        for y0 in range(0, h, th):
            for x0 in range(0, w, tw):
                block = np.zeros((th, tw, spp), dtype=px.dtype)
                sub = px[y0 : y0 + th, x0 : x0 + tw]
                block[: sub.shape[0], : sub.shape[1]] = sub
                strips.append(_compress(_diff(block).tobytes()))
    elif planar == 2:
        # plane-major strip table per the spec: every plane's strips,
        # then the next plane's
        for pl in range(spp):
            plane = _diff(px[:, :, pl : pl + 1])
            for y0 in range(0, h, rps):
                strips.append(_compress(plane[y0 : y0 + rps].tobytes()))
    else:
        data_px = _diff(px)
        for y0 in range(0, h, rps):
            strips.append(_compress(data_px[y0 : y0 + rps].tobytes()))
    n_strips = len(strips)

    entries = []  # (tag, type, count, value_or_bytes)

    def entry(tag: int, typ: int, vals: list[int]) -> None:
        entries.append((tag, typ, vals))

    entry(256, 4, [w])
    entry(257, 4, [h])
    entry(258, 3, [bits] * spp)
    entry(259, 3, [compression])
    entry(262, 3, [photometric])
    entry(277, 3, [spp])
    if tile is not None:
        entry(322, 4, [tile[0]])
        entry(323, 4, [tile[1]])
        loc_tag, cnt_tag = 324, 325
    else:
        entry(278, 4, [rps])
        loc_tag, cnt_tag = 273, 279
    if predictor == 2:
        entry(317, 3, [2])
    if planar == 2:
        entry(284, 3, [2])
    # segment offsets are back-patched once the header size is known
    entry(loc_tag, 4, [0] * n_strips)
    entry(cnt_tag, 4, [len(s) for s in strips])
    if _as_page:
        return entries, strips, loc_tag
    return _tiff_assemble(entries, strips, loc_tag)


def encode_tiff_multipage(pages_px: list, **kwargs) -> bytes:
    """Multi-page baseline TIFF (r11): one IFD per page chained
    through the next-pointer, every page encoded with the same
    ``encode_tiff`` settings — the scanned-document shape
    ``_tiff_pixels(payload, page=k)`` and the ``n_frames`` page count
    walk."""
    if not pages_px:
        raise ValueError("encode_tiff_multipage takes at least one page")
    return _tiff_assemble_multi(
        [encode_tiff(p, _as_page=True, **kwargs) for p in pages_px]
    )


def _tiff_assemble(entries: list, strips: list, loc_tag: int) -> bytes:
    """Single-page convenience wrapper over ``_tiff_assemble_multi``."""
    return _tiff_assemble_multi([(entries, strips, loc_tag)])


def _tiff_assemble_multi(pages: list) -> bytes:
    """Little-endian TIFF bytes from per-page (entries, strips,
    loc_tag) triples, IFDs chained through the next-pointer — the
    container tail shared by ``encode_tiff``, ``encode_tiff_jpeg``,
    and ``encode_tiff_multipage`` (r11). Per page: IFD, then overflow
    value arrays, then segment data; each ``loc_tag`` entry is
    back-patched with the real segment offsets; type 7 (UNDEFINED)
    entries carry raw bytes."""
    fmt = {3: "H", 4: "I", 7: "B"}
    size = {3: 2, 4: 4, 7: 1}
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    pos = 8
    for pi, (entries, strips, loc_tag) in enumerate(pages):
        entries = sorted(entries, key=lambda t: t[0])
        # page layout: count(2) + 12*n + next(4), then overflow
        # value arrays, then strip data
        ifd_off = pos
        overflow_off = ifd_off + 2 + 12 * len(entries) + 4
        overflow = bytearray()
        fixed = []
        for tag, typ, vals in entries:
            total = size[typ] * len(vals)
            if total <= 4:
                val_bytes = struct.pack(
                    f"<{len(vals)}{fmt[typ]}", *vals
                ).ljust(4, b"\0")
                fixed.append((tag, typ, len(vals), val_bytes, None))
            else:
                fixed.append(
                    (tag, typ, len(vals), None, overflow_off + len(overflow))
                )
                overflow += struct.pack(f"<{len(vals)}{fmt[typ]}", *vals)
        data_off = overflow_off + len(overflow)
        offsets = []
        dpos = data_off
        for s in strips:
            offsets.append(dpos)
            dpos += len(s)
        next_ifd = dpos if pi + 1 < len(pages) else 0
        # back-patch the location tag with the real strip offsets
        out += struct.pack("<H", len(fixed))
        for tag, typ, count, val_bytes, ptr in fixed:
            out += struct.pack("<HHI", tag, typ, count)
            if tag == loc_tag:
                if count * 4 <= 4:
                    out += struct.pack("<I", offsets[0])
                else:
                    out += struct.pack("<I", ptr)
                    struct.pack_into(
                        f"<{count}I", overflow, ptr - overflow_off, *offsets
                    )
            elif val_bytes is not None:
                out += val_bytes
            else:
                out += struct.pack("<I", ptr)
        out += struct.pack("<I", next_ifd)
        out += overflow
        for s in strips:
            out += s
        pos = dpos
    return bytes(out)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_pixels(payload: bytes) -> np.ndarray:
    """Pixel array (height, width, 3 RGB) of a PNG — pure stdlib
    ``zlib`` + the five scanline filters inverted here; no codec
    library (r5 verdict item #5: PNG is zlib + per-scanline filters,
    both expressible without PIL). r9 widens coverage to every
    sub-16-bit variant: color types 0 (grayscale, depths 1/2/4/8),
    2 (RGB), 3 (palette via PLTE, depths 1/2/4/8), 4 (gray+alpha),
    6 (RGBA), 16-bit channels (exact round-to-nearest 16→8, not the
    >>8 truncation shortcut), and Adam7 interlacing (each of the 7
    passes is its own filtered sub-image, deinterleaved here). Alpha,
    if present, is parsed and dropped; grayscale is bit-exactly
    expanded (255/85/17/1 scale factors). The full IHDR matrix the
    spec defines is therefore decodable.

    Performance caveat (r6 advice, reworked r8): None/Up/Sub unfilter
    vectorized (Sub as per-channel cumsum mod 256); Average/Paeth run
    a per-scanline running recurrence over plain Python ints (their
    predictor is a NONLINEAR function of the just-decoded left
    neighbor, so the chain is inherently serial — no exact numpy
    closed form). Still O(w*h) interpreter work on those scanlines,
    but 2-3× the old per-element numpy-scalar loop; a corpus dominated
    by large Paeth PNGs would still want a real codec on the cluster
    image."""
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    try:
        return _png_pixels_impl(payload)
    except (struct.error, zlib.error, IndexError) as exc:
        raise ValueError(f"corrupt PNG stream ({type(exc).__name__}: {exc})") from exc


# Absolute image-pixel decode cap shared by the PNG path (and the
# GIF caps above follow the same discipline): 67M pixels ≈ an
# 8192x8192 image — far beyond any fingerprinting corpus image, small
# enough that one hostile header cannot OOM an executor.
_IMG_MAX_PIXELS = 1 << 26

# PNG channel count per color type; depths < 8 only exist for the
# single-channel types (grayscale, palette) per the spec.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass grid: (x_start, y_start, x_step, y_step)
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(arr: np.ndarray, stride: int, fu: int) -> np.ndarray:
    """Invert the five PNG scanline filters over one filtered region
    (one whole image, or one Adam7 pass). ``fu`` is the left-neighbor
    byte distance — bytes-per-pixel rounded up to >= 1, per spec.

    Performance (r6 advice, reworked r8): None/Up/Sub unfilter
    vectorized (Sub as per-channel cumsum mod 256); Average/Paeth run
    a per-scanline running recurrence over plain Python ints (their
    predictor is a NONLINEAR function of the just-decoded left
    neighbor, so the chain is inherently serial — no exact numpy
    closed form)."""
    height = arr.shape[0]
    # the grid stores plain bytes — uint8 keeps a capped-size image's
    # unfilter buffer at 1x raw instead of 8x (r9 review); per-line
    # arithmetic still runs in int64
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        f = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int64)
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up — vectorizable (no left dependence)
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub — per-channel prefix sum; mod 256 commutes
            # with addition, so cumsum-then-mask is exact and avoids
            # the per-pixel Python scan on the most common filter
            cur = np.empty(stride, dtype=np.int64)
            for c in range(fu):
                cur[c::fu] = np.cumsum(line[c::fu]) & 0xFF
        elif f in (3, 4):  # Average/Paeth: nonlinear left dependence
            # serial recurrence over plain Python ints (r8 rewrite:
            # measured 2-3x the per-element numpy-scalar loop)
            lineL = line.tolist()
            prevL = prev.tolist()
            curL = [0] * stride
            if f == 3:
                for x in range(stride):
                    a = curL[x - fu] if x >= fu else 0
                    curL[x] = (lineL[x] + ((a + prevL[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = curL[x - fu] if x >= fu else 0
                    b = prevL[x]
                    c = prevL[x - fu] if x >= fu else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    curL[x] = (lineL[x] + pred) & 0xFF
            cur = np.asarray(curL, dtype=np.int64)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out


def _png_expand_samples(
    bytes_out: np.ndarray, pw: int, depth: int, channels: int
) -> np.ndarray:
    """(rows, pw, channels) samples from unfiltered scanline bytes —
    depth-8 bytes pass through; sub-byte depths unpack big-endian
    within each byte (single-channel types only, per spec)."""
    rows = bytes_out.shape[0]
    if depth == 8:
        return bytes_out[:, : pw * channels].reshape(rows, pw, channels)
    if depth == 16:  # big-endian byte pairs
        b = bytes_out.reshape(rows, -1, 2).astype(np.uint16)
        vals = (b[:, :, 0] << 8) | b[:, :, 1]
        return vals[:, : pw * channels].reshape(rows, pw, channels)
    bits = np.unpackbits(bytes_out, axis=1)
    per = bits.shape[1] // depth
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (bits[:, : per * depth].reshape(rows, per, depth) * weights).sum(
        axis=2, dtype=np.uint16
    )
    return vals[:, :pw].reshape(rows, pw, 1)


def _png_pixels_impl(payload: bytes, rgba: bool = False) -> np.ndarray:
    import zlib

    pos = 8
    width = height = color_type = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            width, height, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            ok = (
                (depth == 8 and color_type in _PNG_CHANNELS)
                or (depth in (1, 2, 4) and color_type in (0, 3))
                or (depth == 16 and color_type in (0, 2, 4, 6))
            )
            if not ok or interlace not in (0, 1):
                raise ValueError(
                    f"unsupported PNG variant (depth={depth}, "
                    f"color_type={color_type}, interlace={interlace})"
                )
        elif ctype == b"PLTE":
            if length % 3 or length > 256 * 3:
                raise ValueError("malformed PNG PLTE chunk")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc32
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    # Absolute pixel cap (r9 review): DEFLATE legitimately expands
    # ~1000:1, so data-backing alone lets a 1 MB depth-1 payload
    # demand a multi-GB samples grid; capping w*h here bounds the raw
    # stream, the unfilter grid, and the samples array all at once.
    if width * height > _IMG_MAX_PIXELS:
        raise ValueError(
            f"PNG {width}x{height} exceeds the decode cap ({_IMG_MAX_PIXELS} px)"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    channels = _PNG_CHANNELS[color_type]
    bpp_bits = depth * channels
    fu = max(1, bpp_bits // 8)
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = list(_PNG_ADAM7)
    dims = []
    for xs, ys, xstep, ystep in passes:
        pw = (width - xs + xstep - 1) // xstep if width > xs else 0
        ph = (height - ys + ystep - 1) // ystep if height > ys else 0
        stride = (pw * bpp_bits + 7) // 8
        dims.append((pw, ph, stride))
    expected = sum(ph * (stride + 1) for pw, ph, stride in dims if pw and ph)
    comp = b"".join(idat)
    # DEFLATE's max expansion is ~1032:1, so a lying IHDR cannot demand
    # more output than the compressed bytes can back; decompressing with
    # max_length then bounds the allocation even for a crafted bomb
    # whose header matches its own inflated size — a plain
    # zlib.decompress() here would materialize the whole bomb first.
    if expected > 1032 * len(comp) + (1 << 15):
        raise ValueError("PNG pixel data size mismatch")
    d = zlib.decompressobj()
    raw = d.decompress(comp, expected + 1)
    # d.eof preserves the integrity check plain zlib.decompress gave:
    # a stream truncated at its adler32 trailer otherwise yields full
    # output with no error
    if len(raw) != expected or not d.eof:
        raise ValueError("PNG pixel data size mismatch")
    samples = np.zeros((height, width, channels), dtype=np.uint16)
    offset = 0
    for (xs, ys, xstep, ystep), (pw, ph, stride) in zip(passes, dims):
        if not pw or not ph:
            continue
        block = raw[offset : offset + ph * (stride + 1)]
        offset += ph * (stride + 1)
        arr = np.frombuffer(block, dtype=np.uint8).reshape(ph, stride + 1)
        sub = _png_expand_samples(_png_unfilter(arr, stride, fu), pw, depth, channels)
        samples[
            (ys + ystep * np.arange(ph))[:, None],
            (xs + xstep * np.arange(pw))[None, :],
        ] = sub
    # → RGB (or RGBA for the APNG composition path)
    if color_type == 3:  # palette indices are raw, never scaled
        idx = samples[:, :, 0]
        if (idx >= len(plte)).any():
            raise ValueError("PNG palette index out of range")
        rgb = plte[idx]
        if not rgba:
            return rgb
        return np.concatenate(
            [rgb, np.full((height, width, 1), 255, np.uint8)], axis=2
        )
    if depth == 16:
        # exact round-to-nearest 16→8 (v*255/65535), not the >>8
        # truncation shortcut — keeps the expansion bit-pinnable
        samples = (samples.astype(np.uint32) * 255 + 32767) // 65535
    elif depth < 8:  # single-channel types only; bit-exact expansion
        samples = samples * np.uint16({1: 255, 2: 85, 4: 17}[depth])
    if color_type in (2, 6):
        if not rgba:
            return samples.astype(np.uint8)[:, :, :3]
        out = np.full((height, width, 4), 255, np.uint8)
        out[:, :, : 3 + (color_type == 6)] = samples.astype(np.uint8)[
            :, :, : 3 + (color_type == 6)
        ]
        return out
    # grayscale (0) / gray+alpha (4)
    gray = samples[:, :, 0].astype(np.uint8)
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    if not rgba:
        return rgb
    alpha = (
        samples[:, :, 1].astype(np.uint8)
        if color_type == 4
        else np.full((height, width), 255, np.uint8)
    )
    return np.concatenate([rgb, alpha[:, :, None]], axis=2)


def decode_png(payload: bytes) -> dict:
    px = _png_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    out = {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }
    actl = _apng_chunks(payload)[0]
    if actl is not None:
        out["n_frames"] = actl
    return out


# --- APNG (r11): the animated-PNG frame layer ------------------------
#
# From the public APNG spec (now folded into the W3C PNG 3 spec):
# acTL declares the frame count, each frame is an fcTL control chunk
# (region, delays, dispose/blend ops) followed by fdAT data chunks
# (IDAT-equivalent, prefixed by a sequence number); when an fcTL
# precedes IDAT, the default image doubles as frame 0. Every frame
# region decodes through the engine's own PNG machinery (a rebuilt
# single-image stream), then composes per the dispose/blend rules —
# the _gif_frames playback-composition twin.


def _apng_chunks(payload: bytes):
    """(n_frames_or_None, ihdr_data, plte_data, default_idat, frames)
    — frames is a list of (fctl_fields, [raw_data...]); fctl_fields =
    (w, h, x, y, dispose, blend). Sequence numbers are validated to
    be contiguous per the spec."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    actl = None
    ihdr = plte = None
    idat: list[bytes] = []
    frames: list = []
    seqs: list[int] = []
    idat_is_frame0 = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"acTL":
            if len(data) < 8:
                raise ValueError("truncated acTL chunk")
            actl = struct.unpack_from(">I", data, 0)[0]
        elif ctype == b"fcTL":
            if len(data) < 26:
                raise ValueError("truncated fcTL chunk")
            seq, w, h, x, y = struct.unpack_from(">IIIII", data, 0)
            dispose, blend = data[24], data[25]
            seqs.append(seq)
            frames.append(((w, h, x, y, dispose, blend), []))
            if not idat:
                idat_is_frame0 = True
        elif ctype == b"fdAT":
            if len(data) < 4:
                raise ValueError("truncated fdAT chunk")
            seqs.append(struct.unpack_from(">I", data, 0)[0])
            if not frames:
                raise ValueError("fdAT before any fcTL")
            frames[-1][1].append(data[4:])
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if seqs != list(range(len(seqs))):
        raise ValueError("APNG sequence numbers are not contiguous")
    return actl, ihdr, plte, idat, frames, idat_is_frame0


def _alpha_over(dst: np.ndarray, region: np.ndarray) -> None:
    """In-place OVER compositing of an RGBA region onto an RGBA
    canvas slice — the integer alpha math both APNG and animated WebP
    playback share."""
    a = region[:, :, 3:4].astype(np.uint32)
    d = dst.astype(np.uint32)
    src = region.astype(np.uint32)
    out_a = a + d[:, :, 3:4] * (255 - a) // 255
    num = src[:, :, :3] * a + d[:, :, :3] * d[:, :, 3:4] * (255 - a) // 255
    rgb = np.where(out_a > 0, num // np.maximum(out_a, 1), 0)
    dst[:, :, :3] = rgb.astype(np.uint8)
    dst[:, :, 3:4] = out_a.astype(np.uint8)


def _png_frames(payload: bytes) -> list[np.ndarray]:
    """Composed playback frames of an APNG as (h, w, 3) RGB — frame
    regions decode via the engine's PNG decoder over a rebuilt
    stream, then composite per fcTL dispose (none/background/
    previous) and blend (source/over) ops on an RGBA canvas that
    starts transparent black. A plain PNG returns its single image."""
    actl, ihdr, plte, idat, frames, idat_is_frame0 = _apng_chunks(payload)
    if actl is None or not frames:
        return [_png_pixels(payload)]
    if ihdr is None or not idat:
        raise ValueError("APNG missing IHDR/IDAT")
    cw, ch = struct.unpack_from(">II", ihdr, 0)
    # bound the canvas BEFORE allocating (r11 fuzz find: a mutated
    # IHDR width demanded a 171 GiB canvas here, ahead of the pixel
    # cap the per-frame decode would have enforced)
    if not cw or not ch or cw * ch > _IMG_MAX_PIXELS:
        raise ValueError(f"APNG {cw}x{ch} exceeds the decode cap")
    if actl != len(frames):
        raise ValueError(
            f"acTL declares {actl} frames, stream carries {len(frames)}"
        )
    if len(frames) > 1024:
        raise ValueError("APNG frame count exceeds the playback cap")

    def _region_rgba(w: int, h: int, data_parts: list[bytes]) -> np.ndarray:
        import zlib

        sub_ihdr = struct.pack(">II", w, h) + ihdr[8:]
        stream = _PNG_MAGIC + _png_chunk(b"IHDR", sub_ihdr)
        if plte is not None:
            stream += _png_chunk(b"PLTE", plte)
        for part in data_parts:
            stream += _png_chunk(b"IDAT", part)
        stream += _png_chunk(b"IEND", b"")
        try:
            return _png_pixels_impl(stream, rgba=True)
        except ValueError:
            raise
        except (struct.error, zlib.error, IndexError, KeyError, OverflowError) as exc:
            # zlib.error included (r11 fuzz find: a mutated fdAT body
            # leaked the raw decompressor error through this rebuild)
            raise ValueError(f"corrupt APNG frame ({exc})") from exc

    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    out: list[np.ndarray] = []
    for i, ((w, h, x, y, dispose, blend), parts) in enumerate(frames):
        if i == 0 and idat_is_frame0:
            parts = idat
            if (w, h, x, y) != (cw, ch, 0, 0):
                raise ValueError("APNG frame 0 must cover the canvas")
        if not parts:
            raise ValueError("APNG frame without data chunks")
        if x + w > cw or y + h > ch or not w or not h:
            raise ValueError("APNG frame region outside the canvas")
        if blend not in (0, 1) or dispose not in (0, 1, 2):
            raise ValueError("invalid APNG dispose/blend op")
        region = _region_rgba(w, h, parts)
        if region.shape[:2] != (h, w):
            raise ValueError("APNG frame dims disagree with its fcTL")
        saved = canvas[y : y + h, x : x + w].copy()
        if blend == 0:  # SOURCE: replace, alpha included
            canvas[y : y + h, x : x + w] = region
        else:  # OVER: standard alpha compositing, integer math
            _alpha_over(canvas[y : y + h, x : x + w], region)
        out.append(canvas[:, :, :3].copy())
        if dispose == 1:  # BACKGROUND: region → transparent black
            canvas[y : y + h, x : x + w] = 0
        elif dispose == 2:  # PREVIOUS: revert the region
            canvas[y : y + h, x : x + w] = saved
    return out


def encode_apng(frames: list, delay_den: int = 100) -> bytes:
    """APNG encoder twin: frame 0 is a full-canvas (h, w, 3) array
    riding in IDAT (fcTL-before-IDAT form); later entries are either
    full frames or (x, y, array) region updates (blend SOURCE,
    dispose NONE — the deterministic-composition subset the tests
    pin). Each frame's pixel data is produced by encode_png and
    re-wrapped as fdAT."""
    if not frames:
        raise ValueError("encode_apng needs at least one frame")

    def _norm(f):
        if isinstance(f, tuple):
            x, y, arr = f
            return int(x), int(y), np.asarray(arr)
        return 0, 0, np.asarray(f)

    first = _norm(frames[0])[2]
    if first.ndim != 3 or first.shape[2] != 3:
        raise ValueError("encode_apng frames are (h, w, 3) RGB")
    ch, cw = first.shape[:2]

    def _idat_of(arr: np.ndarray) -> bytes:
        stream = encode_png(arr)
        pos = 8
        parts = b""
        while pos + 8 <= len(stream):
            (length,) = struct.unpack_from(">I", stream, pos)
            if stream[pos + 4 : pos + 8] == b"IDAT":
                parts += stream[pos + 8 : pos + 8 + length]
            pos += 12 + length
        return parts

    seq = 0
    body = b""
    ihdr = struct.pack(">IIBBBBB", cw, ch, 8, 2, 0, 0, 0)
    body += _png_chunk(b"IHDR", ihdr)
    body += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))
    for i, f in enumerate(frames):
        x, y, arr = _norm(f)
        h, w = arr.shape[:2]
        if i == 0 and (x or y or (h, w) != (ch, cw)):
            raise ValueError("APNG frame 0 must cover the canvas")
        if x + w > cw or y + h > ch:
            raise ValueError("APNG frame region outside the canvas")
        fctl = struct.pack(
            ">IIIIIHHBB", seq, w, h, x, y, 1, delay_den, 0, 0
        )
        body += _png_chunk(b"fcTL", fctl)
        seq += 1
        data = _idat_of(arr)
        if i == 0:
            body += _png_chunk(b"IDAT", data)
        else:
            body += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    body += _png_chunk(b"IEND", b"")
    return _PNG_MAGIC + body


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _png_pack_rows(img: np.ndarray, depth: int) -> np.ndarray:
    """(rows, stride) uint8 scanline bytes of an (h, w·ch) sample grid
    at the given depth: 16-bit big-endian pairs, 8-bit identity,
    sub-byte MSB-first bit packing — the exact inverses of
    ``_png_expand_samples``."""
    h = img.shape[0]
    if depth == 16:
        return np.ascontiguousarray(img.astype(">u2")).view(np.uint8).reshape(h, -1)
    if depth == 8:
        return img.astype(np.uint8)
    per_byte = 8 // depth
    w = img.shape[1]
    padded = np.zeros((h, (w + per_byte - 1) // per_byte * per_byte), np.uint8)
    padded[:, :w] = img
    bits = np.unpackbits(
        padded.reshape(h, -1, 1), axis=2, count=8
    )[:, :, 8 - depth :]
    return np.packbits(bits.reshape(h, -1), axis=1)


def _png_filter_pass(rows: np.ndarray, bpp: int) -> bytes:
    """Adaptive per-row filtering (libpng's minimum-sum-of-absolute-
    differences heuristic, filtered bytes read as signed): each row
    competes all five spec filters and keeps the cheapest."""
    h, stride = rows.shape
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    zeros = np.zeros(bpp, dtype=np.int64)
    for y in range(h):
        cur = rows[y].astype(np.int64)
        a = np.concatenate([zeros, cur[:-bpp]]) if stride > bpp else np.zeros(
            stride, dtype=np.int64
        )
        b = prev
        c = np.concatenate([zeros, prev[:-bpp]]) if stride > bpp else np.zeros(
            stride, dtype=np.int64
        )
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        cands = (
            cur,
            (cur - a) & 0xFF,
            (cur - b) & 0xFF,
            (cur - ((a + b) >> 1)) & 0xFF,
            (cur - paeth) & 0xFF,
        )
        costs = [
            int(np.abs(f.astype(np.uint8).astype(np.int8).astype(np.int64)).sum())
            for f in cands
        ]
        f = int(np.argmin(costs))
        out += bytes([f]) + cands[f].astype(np.uint8).tobytes()
        prev = cur
    return bytes(out)


def encode_png(
    px: np.ndarray,
    depth: int = 8,
    interlace: bool = False,
    palette: "list[tuple[int, int, int]] | None" = None,
) -> bytes:
    """PNG encoder twin of the full decode matrix (fixture
    discipline): grayscale (h,w), gray+alpha (h,w,2), RGB (h,w,3),
    RGBA (h,w,4), or palette indices (h,w) with ``palette``; depths
    1/2/4/8/16 where the spec allows them (sub-byte only for
    gray/palette, no 16-bit palette); optional Adam7 interlacing.
    Adaptive per-row filtering — every row cost-competes all five
    filters like libpng — and a real zlib stream. Lossless, so
    ``_png_pixels`` round trips exactly (16-bit via the pinned
    v·255/65535 rounding)."""
    px = np.asarray(px)
    if palette is not None:
        color_type, ch = 3, 1
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"palette PNG depth must be 1/2/4/8, got {depth}")
        if not 1 <= len(palette) <= min(256, 1 << depth):
            raise ValueError("palette size must be in [1, min(256, 2^depth)]")
        if px.ndim != 2:
            raise ValueError("palette encode_png takes (h, w) indices")
        _check_pixels(px, "encode_png", len(palette) - 1)
    else:
        if px.ndim == 2:
            px = px[:, :, None]
        if px.ndim != 3 or px.shape[2] not in (1, 2, 3, 4):
            raise ValueError(
                "encode_png takes (h,w[,channels]) with 1-4 channels"
            )
        ch = px.shape[2]
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        allowed = (1, 2, 4, 8, 16) if color_type == 0 else (8, 16)
        if depth not in allowed:
            raise ValueError(
                f"PNG color type {color_type} cannot carry depth {depth}"
            )
        _check_pixels(px, "encode_png", (1 << depth) - 1)
    if px.size == 0:
        raise ValueError("encode_png takes a non-empty image")
    h, w = px.shape[0], px.shape[1]
    img = px.reshape(h, w * ch).astype(np.uint16 if depth == 16 else np.uint8)
    bpp = max(1, ch * depth // 8)

    import zlib

    if interlace:
        raw = b""
        for xs, ys, xst, yst in _PNG_ADAM7:
            sub = px[ys::yst, xs::xst]
            if sub.size == 0:
                continue  # empty passes contribute nothing, per spec
            sub_img = sub.reshape(sub.shape[0], -1)
            raw += _png_filter_pass(_png_pack_rows(sub_img, depth), bpp)
    else:
        raw = _png_filter_pass(_png_pack_rows(img, depth), bpp)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    out = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(
            b"PLTE", bytes(v for rgb in palette for v in rgb[:3])
        )
    return out + _png_chunk(b"IDAT", zlib.compress(raw, 6)) + _png_chunk(b"IEND", b"")


# --- JPEG: baseline sequential DCT (ITU-T T.81), pure stdlib+numpy --------
#
# The r6 verdict's optional depth item: JPEG is huffman coding + 8×8
# DCT + chroma subsampling, all expressible without PIL (the container
# ships no codec libraries). Supported: baseline sequential (SOF0),
# 8-bit, 1 or 3 components, any integer sampling-factor ratio (4:4:4 /
# 4:2:2 / 4:2:0 via pixel replication), restart markers (DRI/RSTn),
# byte unstuffing. Unsupported variants (progressive SOF2, 12-bit,
# arithmetic coding, 16-bit quant tables) raise and quarantine.
#
# Performance shape: the iDCT / dequant / color convert are BATCHED
# numpy over all blocks of an image; the entropy (huffman) decode loop
# is per-symbol Python — inherent, the bitstream is serial — so decode
# cost on corpus-sized photos is dominated by that loop, same caveat
# as the PNG Average/Paeth unfilter. Fixture images here are tiny.

_JPEG_ZIGZAG = [  # zz[k] = row-major position of the k-th zigzag coef
    r * 8 + c
    for r, c in sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
    )
]


def _jpeg_dct_matrix() -> np.ndarray:
    # M[u, x] = (C_u / 2) cos((2x+1) u pi / 16); iDCT = M.T @ S @ M,
    # FDCT = M @ s @ M.T (orthonormal, so the pair is exact-inverse)
    u = np.arange(8).reshape(8, 1).astype(np.float64)
    x = np.arange(8).reshape(1, 8).astype(np.float64)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] /= np.sqrt(2.0)
    return m


_JPEG_DCT_M = _jpeg_dct_matrix()

# Annex-K-shaped huffman tables: the DC table and the AC bits array
# plus its high-frequency head are the public Annex K constants; the
# AC tail (rarely-hit long codes) is completed programmatically so
# every (run, size) symbol — 16 runs × 10 sizes + EOB + ZRL = 162 —
# provably exists. Encoder and decoder both read the tables from the
# DHT segment, so the round trip is self-consistent by construction —
# and real-world JPEGs carry their own tables anyway.
_JPEG_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_STD_DC_VALS = list(range(12))
_JPEG_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_JPEG_STD_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A,
]
_JPEG_STD_AC_VALS += [
    (run << 4) | size
    for run in range(16)
    for size in range(1, 11)
    if ((run << 4) | size) not in set(_JPEG_STD_AC_VALS)
]
assert len(_JPEG_STD_AC_VALS) == sum(_JPEG_STD_AC_BITS) == 162


def _jpeg_huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG code assignment: sym -> (nbits, code)."""
    out: dict[int, tuple[int, int]] = {}
    code = k = 0
    for n in range(1, 17):
        for _ in range(bits[n - 1]):
            out[vals[k]] = (n, code)
            code += 1
            k += 1
        code <<= 1
    return out


@functools.lru_cache(maxsize=1)
def _jpeg_std_dc_codes() -> dict[int, tuple[int, int]]:
    return _jpeg_huffman_codes(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)


@functools.lru_cache(maxsize=1)
def _jpeg_std_ac_codes() -> dict[int, tuple[int, int]]:
    return _jpeg_huffman_codes(_JPEG_STD_AC_BITS, _JPEG_STD_AC_VALS)


class _JpegBitReader:
    """MSB-first bit reader. Multi-bit reads use int arithmetic on an
    accumulated buffer, not a per-bit Python loop — the entropy stage
    is the serial hot loop of the whole decoder, so constant factors
    here are the decode throughput (measured ~2× on the fixture
    corpus vs the bit-at-a-time form)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.n = 0

    def _fill(self, k: int) -> None:
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream exhausted")
            self.buf = (self.buf << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8

    def read_bits(self, k: int) -> int:
        if not k:
            return 0
        self._fill(k)
        self.n -= k
        v = (self.buf >> self.n) & ((1 << k) - 1)
        self.buf &= (1 << self.n) - 1
        return v

    def decode(self, table) -> int:
        """Huffman-decode one symbol: 8-bit-prefix LUT fast path (one
        peek + one skip for the overwhelmingly common short codes),
        bit-serial fallback for codes longer than 8 bits."""
        lut, long_codes = table
        avail = self.n + 8 * (len(self.data) - self.pos)
        k = 8 if avail >= 8 else avail
        if k:
            self._fill(k)
            # pad missing low bits with 1s (the T.81 byte-pad rule), so
            # a short code at stream end still hits its LUT span
            peek = (
                ((self.buf >> (self.n - k)) << (8 - k)) | ((1 << (8 - k)) - 1)
            )
            hit = lut[peek]
            if hit is not None and hit[1] <= k:
                self.read_bits(hit[1])
                return hit[0]
        code = 0
        for n in range(1, 17):
            code = (code << 1) | self.read_bits(1)
            if n > 8:
                sym = long_codes.get((n, code))
                if sym is not None:
                    return sym
        raise ValueError("invalid JPEG huffman code")


@functools.lru_cache(maxsize=64)
def _jpeg_decode_tables(bits_b: bytes, vals_b: bytes):
    """(lut, long_codes) decode form of a DHT segment: lut[p] maps
    every 8-bit prefix p to its (symbol, code_length) for codes ≤8
    bits; longer codes go to a {(len, code): sym} dict. Cached — a
    corpus of images from one encoder shares identical DHT bytes, so
    the table is built once per executor, not once per payload."""
    codes = _jpeg_huffman_codes(list(bits_b), list(vals_b))
    lut: list = [None] * 256
    long_codes: dict[tuple[int, int], int] = {}
    for sym, (n, code) in codes.items():
        if n <= 8:
            lo = code << (8 - n)
            for i in range(1 << (8 - n)):
                lut[lo + i] = (sym, n)
        else:
            long_codes[(n, code)] = sym
    return lut, long_codes


def _jpeg_extend(v: int, s: int) -> int:
    # T.81 F.12: s-bit magnitude v decodes negative when the sign bit
    # (MSB) is 0
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _jpeg_decode_block(
    r: _JpegBitReader,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    pred: int,
) -> tuple[np.ndarray, int]:
    s = r.decode(dc_tab)
    dc = pred + (_jpeg_extend(r.read_bits(s), s) if s else 0)
    coefs = np.zeros(64, dtype=np.int64)
    coefs[0] = dc
    k = 1
    while k < 64:
        sym = r.decode(ac_tab)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL: 16 zeros
            k += 16
            continue
        k += sym >> 4
        size = sym & 0x0F
        if k > 63 or size == 0:
            raise ValueError("corrupt JPEG AC run")
        coefs[k] = _jpeg_extend(r.read_bits(size), size)
        k += 1
    return coefs, dc


def _jpeg_pixels(payload: bytes) -> np.ndarray:
    """Pixel array (height, width, 3 RGB) of a baseline sequential
    JPEG — marker parse, DHT huffman entropy decode, dequantize,
    de-zigzag, batched-numpy iDCT, sampling-factor MCU assembly with
    replication upsampling, BT.601 YCbCr→RGB. Grayscale replicates Y.
    Lossless SOF3 streams (r11) route to the Annex-H predictive
    decoder. Every malformed-stream failure mode surfaces as
    ValueError (the PNG decoder's contract), so quarantine matching
    stays uniform."""
    try:
        if _jpeg_first_sof(payload) == 0xC3:
            return _jpeg_lossless_impl(payload)
        return _jpeg_pixels_impl(payload)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError, OverflowError, StopIteration) as exc:
        raise ValueError(
            f"corrupt JPEG stream ({type(exc).__name__}: {exc})"
        ) from exc


def _jpeg_entropy_segments(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuffed entropy data from ``start`` to the next real marker,
    split at RSTn boundaries. Returns (segments, end_position)."""
    segments: list[bytes] = []
    cur = bytearray()
    i = start
    while i < len(payload):
        b = payload[i]
        if b == 0xFF:
            nxt = payload[i + 1] if i + 1 < len(payload) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # a real marker ends the scan
        cur.append(b)
        i += 1
    segments.append(bytes(cur))
    return segments, i


def _jpeg_ac_first(reader, ac_tab, coef, ss, se, al, state) -> None:
    """Progressive AC initial scan for one block band (T.81 G.1.2.2):
    run/size coding of coef >> al, with EOB-run skipping whole blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        sym = reader.decode(ac_tab)
        r, s = sym >> 4, sym & 15
        if s == 0:
            if r != 15:
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += reader.read_bits(r)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("corrupt JPEG AC run")
        coef[k] = _jpeg_extend(reader.read_bits(s), s) << al
        k += 1


def _jpeg_ac_refine(reader, ac_tab, coef, ss, se, al, state) -> None:
    """Progressive AC refinement scan (T.81 G.1.2.3): one correction
    bit per already-nonzero coefficient, ±1<<al for newly-significant
    ones; runs count only zero-HISTORY positions."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            sym = reader.decode(ac_tab)
            r, s = sym >> 4, sym & 15
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                val = 0  # ZRL: advance 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("corrupt JPEG refinement scan")
                val = p1 if reader.read_bits(1) else m1
            while k <= se:
                if coef[k] != 0:
                    if reader.read_bits(1) and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                coef[k] = val
            k += 1
    if state["eobrun"] > 0:
        # EOB blocks still carry correction bits for nonzero history
        while k <= se:
            if coef[k] != 0:
                if reader.read_bits(1) and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _jpeg_pixels_impl(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    w = h = dri = 0
    hmax = vmax = mcux = mcuy = 0
    progressive = False
    saw_scan = False

    def _alloc() -> None:
        nonlocal hmax, vmax, mcux, mcuy
        # validate sampling factors BEFORE any division: a zero factor
        # would raise ZeroDivisionError, which is outside the decoder's
        # ValueError quarantine contract
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        for c in comps:
            if c["h"] < 1 or c["v"] < 1 or hmax % c["h"] or vmax % c["v"]:
                raise ValueError("non-integer JPEG sampling ratio")
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        # Bound the coefficient-state allocation: every block costs
        # >= 1 bit in the (DC) entropy stream, so a lying 16-bit SOF
        # (65535x65535 would want ~100 GB of int64 state) cannot demand
        # blocks the stream can't back — and because each block holds
        # 512 bytes of int64 state (a ~4096x amplification of that
        # 1-bit floor), an absolute cap keeps even a stream-backed
        # claim inside ~2 GB. ~84 Mpixel ceiling; a corpus of genuinely
        # larger images wants a real codec, like the PNG Paeth note.
        total_blocks = sum(
            (mcuy * c["v"]) * (mcux * c["h"]) for c in comps
        )
        if total_blocks > 8 * len(payload) or total_blocks > (1 << 22):
            raise ValueError("JPEG dimensions exceed what the stream can encode")
        for c in comps:
            # zigzag-ordered coefficient state, accumulated across
            # scans (one scan for baseline, many for progressive)
            c["coef"] = np.zeros(
                (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
            )
            # non-interleaved walk bounds: the component's OWN block
            # grid (T.81 A.2 — sampling factors don't apply in a
            # single-component scan)
            c["bw"] = -(-(-(-w * c["h"] // hmax)) // 8)
            c["bh"] = -(-(-(-h * c["v"] // vmax)) // 8)

    def _decode_scan(scomps: list[dict], segments: list[bytes],
                     ss: int, se: int, ah: int, al: int) -> None:
        reader = _JpegBitReader(segments[0])
        seg_i = 0
        state = {"eobrun": 0}
        for c in scomps:
            c["pred"] = 0
        interleaved = len(scomps) > 1
        units = mcux * mcuy if interleaved else scomps[0]["bw"] * scomps[0]["bh"]

        def unit(c: dict, by: int, bx: int) -> None:
            coef = c["coef"][by, bx]
            dc_tab = huff.get((0, c["td"]))
            ac_tab = huff.get((1, c["ta"]))
            if (dc_tab is None and (not progressive or (ss == 0 and ah == 0))) or (
                ac_tab is None and (not progressive or ss > 0)
            ):
                raise ValueError("JPEG scan references undefined huffman table")
            if not progressive:
                block, c["pred"] = _jpeg_decode_block(
                    reader, dc_tab, ac_tab, c["pred"]
                )
                coef[:] = block
            elif ss == 0:
                if ah == 0:  # DC first: diff-coded (dc >> al)
                    s = reader.decode(dc_tab)
                    c["pred"] += _jpeg_extend(reader.read_bits(s), s) if s else 0
                    coef[0] = c["pred"] << al
                elif reader.read_bits(1):  # DC refinement: one bit
                    coef[0] |= 1 << al
            elif ah == 0:
                _jpeg_ac_first(reader, ac_tab, coef, ss, se, al, state)
            else:
                _jpeg_ac_refine(reader, ac_tab, coef, ss, se, al, state)

        for u in range(units):
            if dri and u and u % dri == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("missing JPEG restart segment")
                reader = _JpegBitReader(segments[seg_i])
                state["eobrun"] = 0
                for c in scomps:
                    c["pred"] = 0
            if interleaved:
                my, mx = divmod(u, mcux)
                for c in scomps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            unit(c, my * c["v"] + by, mx * c["h"] + bx)
            else:
                by, bx = divmod(u, scomps[0]["bw"])
                unit(scomps[0], by, bx)

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        while payload[pos + 1] == 0xFF:  # T.81 allows 0xFF fill bytes
            pos += 1
            if pos + 4 > len(payload):
                raise ValueError("truncated JPEG marker stream")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(data):
                pq, tq = data[p] >> 4, data[p] & 15
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                qt[tq] = np.frombuffer(
                    data[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                p += 65
        elif marker == 0xC4:  # DHT (redefinable between scans)
            p = 0
            while p < len(data):
                tc, th = data[p] >> 4, data[p] & 15
                nv = sum(data[p + 1 : p + 17])
                huff[(tc, th)] = _jpeg_decode_tables(
                    bytes(data[p + 1 : p + 17]),
                    bytes(data[p + 17 : p + 17 + nv]),
                )
                p += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            if data[0] != 8:
                raise ValueError("non-8-bit JPEG unsupported")
            h, w = struct.unpack_from(">HH", data, 1)
            for i in range(data[5]):
                cid, hv, tq = data[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if len(comps) not in (1, 3):
                raise ValueError("unsupported JPEG component count")
            _alloc()
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG SOF type 0x{marker:02x} "
                "(baseline sequential + progressive huffman only)"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS — one of possibly many scans
            if not comps:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            if not progressive and ns != len(comps):
                raise ValueError(
                    "multi-scan baseline JPEG unsupported (decoding only "
                    "the first scan would be silently wrong)"
                )
            scomps = []
            for i in range(ns):
                cid, tt = data[1 + 2 * i], data[2 + 2 * i]
                match = [c for c in comps if c["id"] == cid]
                if not match:
                    raise ValueError("JPEG scan references unknown component")
                match[0]["td"], match[0]["ta"] = tt >> 4, tt & 15
                scomps.append(match[0])
            ss, se, ahal = data[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            if not (0 <= ss <= se <= 63) or al > 13:
                raise ValueError("corrupt JPEG scan header")
            if progressive and ss == 0 and se != 0:
                raise ValueError(
                    "corrupt JPEG scan header (progressive DC scan needs Se=0)"
                )
            if progressive and ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            segments, end = _jpeg_entropy_segments(payload, pos + 2 + seglen)
            _decode_scan(scomps, segments, ss, se, ah, al)
            saw_scan = True
            pos = end
            continue
        pos += 2 + seglen
    if not comps or not saw_scan or not qt:
        raise ValueError("missing JPEG SOF/SOS/DQT")
    for c in comps:  # batched dequant → de-zigzag → iDCT
        q = qt[c["tq"]]
        nby, nbx = c["coef"].shape[:2]
        zz = c["coef"].reshape(-1, 64) * q
        blocks = np.zeros((len(zz), 64), dtype=np.float64)
        blocks[:, _JPEG_ZIGZAG] = zz
        spatial = np.matmul(
            _JPEG_DCT_M.T, np.matmul(blocks.reshape(-1, 8, 8), _JPEG_DCT_M)
        )
        plane = (
            spatial.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        plane = np.clip(np.round(plane + 128), 0, 255)
        c["plane"] = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )[:h, :w]
    if len(comps) == 1:
        y = comps[0]["plane"]
        return np.stack([y, y, y], axis=-1).astype(np.uint8)
    y, cb, cr = (c["plane"] for c in comps)
    r_ = y + 1.402 * (cr - 128)
    g_ = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b_ = y + 1.772 * (cb - 128)
    return (
        np.clip(np.round(np.stack([r_, g_, b_], axis=-1)), 0, 255).astype(np.uint8)
    )


def decode_jpeg(payload: bytes) -> dict:
    px = _jpeg_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def _jpeg_first_sof(payload: bytes) -> int | None:
    """Marker byte of the first SOFn segment, or None. Every SOF
    precedes the first SOS (T.81 B.2), so a plain segment walk — no
    entropy-data skipping — is safe; anything malformed returns None
    and the caller falls through to the baseline decoder's own
    (ValueError-contracted) marker loop."""
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        while payload[pos + 1] == 0xFF:
            pos += 1
            if pos + 4 > len(payload):
                return None
        marker = payload[pos + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return marker
        if marker in (0xD8, 0xD9, 0xDA) or 0xD0 <= marker <= 0xD7:
            return None  # scan data / end reached without a SOF
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        if seglen < 2:
            return None
        pos += 2 + seglen
    return None


# Fixed huffman table for the lossless encoder twin: categories 0-2
# (the overwhelmingly common small diffs) at 2 bits, category k at k
# bits for 3..16. Kraft sum 3/4 + (2^-2 - 2^-16) < 1, so the table is
# valid for any input; the decoder reads whatever DHT the stream
# carries, this shape is only what encode_jpeg_lossless emits.
_JPEG_LL_DC_BITS = bytes([0, 3] + [1] * 14)
_JPEG_LL_DC_VALS = bytes(range(17))


def _jpeg_lossless_predict(
    plane: np.ndarray, y: int, x: int, psel: int, default: int, fresh: bool
) -> int:
    """One-sample prediction per T.81 H.1.2.1: the scan's selected
    predictor in the interior, forced Ra on the first line, forced Rb
    in the first column, and the 2^(P-Pt-1) default for the very
    first sample and the sample right after a restart marker."""
    if fresh or (y == 0 and x == 0):
        return default
    if y == 0:
        return int(plane[0, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    ra = int(plane[y, x - 1])
    rb = int(plane[y - 1, x])
    rc = int(plane[y - 1, x - 1])
    if psel == 1:
        return ra
    if psel == 2:
        return rb
    if psel == 3:
        return rc
    if psel == 4:
        return ra + rb - rc
    if psel == 5:
        return ra + ((rb - rc) >> 1)
    if psel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # psel == 7


def _jpeg_lossless_impl(payload: bytes) -> np.ndarray:
    """(h, w, 3) pixels of a lossless huffman JPEG (SOF3, T.81 Annex
    H) — predictive coding, no DCT and no quantization. Reuses the
    baseline decoder's DHT/bit-reader/extend machinery; each sample is
    a DC-style huffman category + extend bits (category 16 = +32768
    with no extra bits), added mod 2^16 to one of the seven spec
    predictors. Lossless JPEG defines no color transform; the 3-
    component case is returned as direct RGB (the DNG / PNM-adjacent
    convention) and 1-component replicates gray. Precision 2-16 bits
    scales to the uint8 grid by the exact v*255/(2^P-1) rounding the
    16-bit TIFF path uses; the point transform left-shifts back per
    H.2.2 before scaling."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    huff: dict[tuple[int, int], object] = {}
    comps: list[dict] = []
    w = h = dri = prec = 0
    saw_scan = False

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        while payload[pos + 1] == 0xFF:
            pos += 1
            if pos + 4 > len(payload):
                raise ValueError("truncated JPEG marker stream")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xC4:  # DHT
            p = 0
            while p < len(data):
                tc, th = data[p] >> 4, data[p] & 15
                nv = sum(data[p + 1 : p + 17])
                huff[(tc, th)] = _jpeg_decode_tables(
                    bytes(data[p + 1 : p + 17]),
                    bytes(data[p + 17 : p + 17 + nv]),
                )
                p += 17 + nv
        elif marker == 0xC3:  # SOF3
            prec = data[0]
            if not 2 <= prec <= 16:
                raise ValueError(f"lossless JPEG precision {prec} out of range")
            h, w = struct.unpack_from(">HH", data, 1)
            if not w or not h:
                raise ValueError("zero-dimension lossless JPEG")
            for i in range(data[5]):
                cid, hv, _tq = data[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15})
            if len(comps) not in (1, 3):
                raise ValueError("unsupported lossless JPEG component count")
            if len(comps) > 1 and any(
                c["h"] != 1 or c["v"] != 1 for c in comps
            ):
                raise ValueError(
                    "subsampled lossless JPEG unsupported (1x1 factors only)"
                )
            # every sample costs >= 1 entropy bit, so lying dimensions
            # cannot demand planes the stream can't back (the baseline
            # decoder's allocation-bound doctrine)
            if w * h * len(comps) > 8 * len(payload) or w * h > (1 << 24):
                raise ValueError(
                    "lossless JPEG dimensions exceed what the stream can encode"
                )
            for c in comps:
                c["plane"] = np.zeros((h, w), dtype=np.int64)
                c["done"] = False
        elif marker in (0xC0, 0xC1, 0xC2, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF type 0x{marker:02x} inside a lossless dispatch"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            scomps = []
            for i in range(ns):
                cid, tt = data[1 + 2 * i], data[2 + 2 * i]
                match = [c for c in comps if c["id"] == cid]
                if not match:
                    raise ValueError("JPEG scan references unknown component")
                match[0]["td"] = tt >> 4
                scomps.append(match[0])
            psel, se, ahal = data[1 + 2 * ns : 4 + 2 * ns]
            pt = ahal & 15
            if not 1 <= psel <= 7:
                raise ValueError(
                    f"lossless JPEG predictor {psel} out of range (1-7)"
                )
            if se != 0 or (ahal >> 4) != 0 or pt >= prec:
                raise ValueError("corrupt lossless JPEG scan header")
            default = 1 << (prec - pt - 1)
            segments, end = _jpeg_entropy_segments(payload, pos + 2 + seglen)
            reader = _JpegBitReader(segments[0])
            seg_i = 0
            for c in scomps:
                tab = huff.get((0, c["td"]))
                if tab is None:
                    raise ValueError(
                        "JPEG scan references undefined huffman table"
                    )
                c["tab"] = tab
                c["fresh"] = True
                c["pt"] = pt
            # one MCU = one sample position in BOTH modes (interleaved
            # 1x1-factor MCUs carry one sample per component; a single-
            # component scan's MCU is one sample), so one walk serves
            for i in range(w * h):
                if dri and i and i % dri == 0:
                    seg_i += 1
                    if seg_i >= len(segments):
                        raise ValueError("missing JPEG restart segment")
                    reader = _JpegBitReader(segments[seg_i])
                    for c in scomps:
                        c["fresh"] = True
                y, x = divmod(i, w)
                for c in scomps:
                    s = reader.decode(c["tab"])
                    if s == 16:  # T.81 H.2: diff is 32768, no bits
                        diff = 32768
                    elif s:
                        diff = _jpeg_extend(reader.read_bits(s), s)
                    else:
                        diff = 0
                    pred = _jpeg_lossless_predict(
                        c["plane"], y, x, psel, default, c["fresh"]
                    )
                    c["fresh"] = False
                    c["plane"][y, x] = (pred + diff) & 0xFFFF
            for c in scomps:
                c["done"] = True
            saw_scan = True
            pos = end
            continue
        pos += 2 + seglen
    if not comps or not saw_scan:
        raise ValueError("missing JPEG SOF/SOS")
    if not all(c["done"] for c in comps):
        raise ValueError("lossless JPEG scan coverage incomplete")
    m = (1 << prec) - 1
    planes = []
    for c in comps:
        v = np.minimum(c["plane"] << c["pt"], m)
        planes.append(((v * 255 + m // 2) // m).astype(np.uint8))
    if len(planes) == 1:
        return np.stack([planes[0]] * 3, axis=-1)
    return np.stack(planes, axis=-1)


def encode_jpeg_lossless(
    px: np.ndarray,
    predictor: int = 1,
    point_transform: int = 0,
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Lossless JPEG (SOF3) encoder — the test/synthesizer twin of
    ``_jpeg_lossless_impl`` (the encode_jpeg/encode_png discipline: a
    real encoder in the fixture path so decode is exercised
    end-to-end). Grayscale (h,w) or RGB (h,w,3), any predictor 1-7,
    optional point transform and DRI/RSTn restarts, precision 2-16
    (input samples must already sit in [0, 2^P-1]). At Pt=0 the
    decode round-trips EXACTLY — the only exactly-lossless member of
    the JPEG family, which is what the property tests pin."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor must be 1-7, got {predictor}")
    if not 2 <= precision <= 16:
        raise ValueError(f"precision must be 2-16, got {precision}")
    if not 0 <= point_transform < precision:
        raise ValueError(
            f"point transform must be in [0, {precision}), got {point_transform}"
        )
    px = np.asarray(px)
    if not (px.ndim == 2 or (px.ndim == 3 and px.shape[2] == 3)):
        raise ValueError(
            f"encode_jpeg_lossless takes (h,w) or (h,w,3), got {px.shape}"
        )
    if px.size == 0:
        raise ValueError("encode_jpeg_lossless: empty image")
    _check_pixels(px, "encode_jpeg_lossless", (1 << precision) - 1)
    h, w = px.shape[:2]
    if h > 0xFFFF or w > 0xFFFF:
        raise ValueError("lossless JPEG dimensions exceed 16 bits")
    planes = (
        [px.astype(np.int64) >> point_transform]
        if px.ndim == 2
        else [px[..., i].astype(np.int64) >> point_transform for i in range(3)]
    )
    nc = len(planes)
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xC4, bytes([0x00]) + _JPEG_LL_DC_BITS + _JPEG_LL_DC_VALS)
    seg(
        0xC3,
        bytes([precision])
        + struct.pack(">HH", h, w)
        + bytes([nc])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(nc)),
    )
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([i + 1, 0x00]) for i in range(nc))
        + bytes([predictor, 0, point_transform]),
    )
    codes = _jpeg_huffman_codes(list(_JPEG_LL_DC_BITS), list(_JPEG_LL_DC_VALS))
    default = 1 << (precision - point_transform - 1)
    writer = _JpegBitWriter()
    fresh = [True] * nc
    for i in range(w * h):
        if restart_interval and i and i % restart_interval == 0:
            out.extend(writer.flush())
            out.extend(
                bytes([0xFF, 0xD0 + ((i // restart_interval - 1) % 8)])
            )
            fresh = [True] * nc
        y, x = divmod(i, w)
        for ci, plane in enumerate(planes):
            pred = _jpeg_lossless_predict(
                plane, y, x, predictor, default, fresh[ci]
            )
            fresh[ci] = False
            diff = (int(plane[y, x]) - pred) & 0xFFFF
            if diff >= 32768:
                diff -= 65536
            if diff == -32768:  # category 16: code only, no extra bits
                writer.write(*codes[16])
                continue
            s = abs(diff).bit_length()
            writer.write(*codes[s])
            if s:
                writer.write(s, diff if diff > 0 else diff + (1 << s) - 1)
    out.extend(writer.flush())
    out.extend(b"\xff\xd9")
    return bytes(out)


class _JpegBitWriter:
    """MSB-first bit writer with 0xFF byte stuffing. Multi-bit
    appends via int arithmetic, not a per-bit loop — the writer is
    the encoder's serial hot loop (same argument as the reader)."""

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, nbits: int, value: int) -> None:
        self.buf = (self.buf << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            byte = (self.buf >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.buf &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:  # pad to byte boundary with 1-bits per T.81
            self.write(8 - self.n, 0xFF)
        done, self.out = bytes(self.out), bytearray()
        return done


def _jpeg_encode_block(coefs, dc_codes, ac_codes, pred, writer) -> int:
    diff = int(coefs[0]) - pred
    s = int(abs(diff)).bit_length()
    writer.write(*dc_codes[s])
    if s:
        writer.write(s, diff if diff > 0 else diff + (1 << s) - 1)
    run = 0
    last_nz = max((k for k in range(1, 64) if coefs[k]), default=0)
    for k in range(1, last_nz + 1):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            writer.write(*ac_codes[0xF0])
            run -= 16
        size = int(abs(v)).bit_length()
        writer.write(*ac_codes[(run << 4) | size])
        writer.write(size, v if v > 0 else v + (1 << size) - 1)
        run = 0
    if last_nz < 63:
        writer.write(*ac_codes[0x00])
    return int(coefs[0])


def _jpeg_emit_ac_first(writer, ac_codes, coef, ss, se, al) -> None:
    """Encoder twin of _jpeg_ac_first for one block band: run/size
    code coef >> al (truncated toward zero), per-block EOB only (no
    cross-block EOB runs — the decoder handles the general form)."""
    vals = [
        (abs(int(coef[k])) >> al) * (1 if int(coef[k]) > 0 else -1)
        for k in range(ss, se + 1)
    ]
    last = max((i for i, v in enumerate(vals) if v), default=-1)
    r = 0
    for i in range(last + 1):
        v = vals[i]
        if v == 0:
            r += 1
            continue
        while r > 15:
            writer.write(*ac_codes[0xF0])
            r -= 16
        s = abs(v).bit_length()
        writer.write(*ac_codes[(r << 4) | s])
        writer.write(s, v if v > 0 else v + (1 << s) - 1)
        r = 0
    if last < len(vals) - 1:
        writer.write(*ac_codes[0x00])  # EOB covering the band's tail


def _jpeg_emit_ac_refine(writer, ac_codes, coef, ss, se, al) -> None:
    """Encoder twin of _jpeg_ac_refine: correction bit per
    already-significant coefficient (buffered until the next emitted
    symbol, libjpeg's BR discipline), (run,1)+sign for each
    newly-significant one; runs count zero-history positions only."""
    absv = [abs(int(coef[k])) >> al for k in range(ss, se + 1)]
    eob = max((i for i, t in enumerate(absv) if t == 1), default=-1)
    r = 0
    br: list[int] = []
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            writer.write(*ac_codes[0xF0])
            r -= 16
            for bit in br:
                writer.write(1, bit)
            br = []
        if t > 1:  # significant in an earlier scan: correction bit
            br.append(t & 1)
            continue
        writer.write(*ac_codes[(r << 4) | 1])
        writer.write(1, 1 if int(coef[ss + i]) > 0 else 0)
        for bit in br:
            writer.write(1, bit)
        br = []
        r = 0
    if r > 0 or br:
        writer.write(*ac_codes[0x00])
        for bit in br:
            writer.write(1, bit)


def encode_jpeg(
    px: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
    subsampling: str = "444",
    progressive: bool = False,
) -> bytes:
    """Baseline JFIF encoder — the test/synthesizer twin of
    ``_jpeg_pixels`` (the wav/bmp/png synthesizer discipline: a real
    encoder in the fixture path so decode is exercised end-to-end).
    Grayscale (h,w) or RGB (h,w,3) at 4:4:4 or 4:2:0 (chroma
    subsampled by 2×2 mean — exercises the decoder's interleaved-MCU
    walk and replication upsample); one shared quant table in zigzag
    order (default: all 8s — the DC divisor that makes block-constant
    images round-trip EXACTLY); Annex-K luminance huffman tables for
    every component; optional DRI/RSTn restarts."""
    if qtable is None:
        qtable = np.full(64, 8, dtype=np.int64)
    qtable = np.asarray(qtable, dtype=np.int64).reshape(64)
    # DQT entries are emitted as uint8 (r7 advice): a value >255 would
    # silently wrap so decode divides by a DIFFERENT table than encode
    # multiplied by, and a 0 entry makes round(coef/q) produce inf →
    # garbage int64. Reject both instead of emitting a wrong stream.
    if not ((qtable >= 1).all() and (qtable <= 255).all()):
        raise ValueError("qtable entries must be in [1, 255]")
    # Input validation (r9 encoder fuzz): anything but a non-empty
    # finite (h,w) or (h,w,3) array would leak IndexError from the
    # channel split / produce NaN coefficients that cast to garbage.
    px = np.asarray(px)
    if not (px.ndim == 2 or (px.ndim == 3 and px.shape[2] == 3)):
        raise ValueError(
            f"encode_jpeg takes (h,w) grayscale or (h,w,3) RGB, got {px.shape}"
        )
    if px.size == 0:
        raise ValueError("encode_jpeg: empty image")
    # Baseline JPEG is defined for 8-bit samples: out-of-range values
    # can push AC coefficients past magnitude 1023, whose run/size has
    # no Annex-K code (r9 encoder fuzz: KeyError at qtable=1, px=768).
    _check_u8_pixels(px, "encode_jpeg")
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = px.astype(np.float64)
        r_, g_, b_ = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r_ + 0.587 * g_ + 0.114 * b_,
            128 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_,
            128 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_,
        ]
        if subsampling == "444":
            samp = [(1, 1)] * 3
        elif subsampling == "420":
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "422":  # r9: horizontal-only chroma halving
            samp = [(2, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    coefs_per_comp = []  # (nby, nbx, 64) int arrays, zigzag order
    for plane, (hi, vi) in zip(planes, samp):
        if (hi, vi) != (hmax, vmax):  # subsample by box mean
            fy, fx = vmax // vi, hmax // hi
            py, pxw = -(-h // fy) * fy, -(-w // fx) * fx
            full = np.pad(plane, ((0, py - h), (0, pxw - w)), mode="edge")
            plane = full.reshape(py // fy, fy, pxw // fx, fx).mean(axis=(1, 3))
        nby, nbx = mcuy * vi, mcux * hi
        padded = np.pad(
            plane,
            ((0, nby * 8 - plane.shape[0]), (0, nbx * 8 - plane.shape[1])),
            mode="edge",
        ) - 128.0
        blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
        S = np.matmul(_JPEG_DCT_M, np.matmul(blocks, _JPEG_DCT_M.T))
        zz = S.reshape(nby, nbx, 64)[:, :, _JPEG_ZIGZAG]
        coefs_per_comp.append(np.round(zz / qtable).astype(np.int64))
    dc_codes = _jpeg_std_dc_codes()
    ac_codes = _jpeg_std_ac_codes()
    nc = len(planes)
    if progressive:
        if restart_interval:
            raise ValueError("progressive encoder does not emit restarts")
        if any(s != (1, 1) for s in samp):
            raise ValueError("progressive encoder supports 1x1 factors only")
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(qtable.astype(np.uint8)))
    seg(
        0xC2 if progressive else 0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([nc])
        + b"".join(
            bytes([i + 1, (samp[i][0] << 4) | samp[i][1], 0]) for i in range(nc)
        ),
    )
    seg(0xC4, bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(_JPEG_STD_AC_BITS) + bytes(_JPEG_STD_AC_VALS))
    if progressive:
        # Scan script exercising every progressive mode: interleaved
        # DC first (Al=1) + DC refinement, then per component two AC
        # bands first (Al=1) and their refinements (Al=0). With one
        # refinement level the decoded coefficients EXACTLY equal the
        # baseline encoding's — the property tests pin that.
        nby, nbx = coefs_per_comp[0].shape[:2]
        AL = 1

        def sos(ids: list[int], ss: int, se: int, ah: int, al: int) -> None:
            seg(
                0xDA,
                bytes([len(ids)])
                + b"".join(bytes([cid, 0x00]) for cid in ids)
                + bytes([ss, se, (ah << 4) | al]),
            )

        sos(list(range(1, nc + 1)), 0, 0, 0, AL)  # DC first
        writer = _JpegBitWriter()
        preds = [0] * nc
        for bi in range(nby * nbx):
            by, bx = divmod(bi, nbx)
            for ci in range(nc):
                v = int(coefs_per_comp[ci][by, bx, 0]) >> AL
                diff = v - preds[ci]
                preds[ci] = v
                s = abs(diff).bit_length()
                writer.write(*dc_codes[s])
                if s:
                    writer.write(s, diff if diff > 0 else diff + (1 << s) - 1)
        out.extend(writer.flush())
        sos(list(range(1, nc + 1)), 0, 0, AL, 0)  # DC refinement
        writer = _JpegBitWriter()
        for bi in range(nby * nbx):
            by, bx = divmod(bi, nbx)
            for ci in range(nc):
                writer.write(1, int(coefs_per_comp[ci][by, bx, 0]) & 1)
        out.extend(writer.flush())
        for ci in range(nc):  # AC bands: first pass then refinement
            for ah, al in ((0, AL), (AL, 0)):
                for ss, se in ((1, 5), (6, 63)):
                    sos([ci + 1], ss, se, ah, al)
                    writer = _JpegBitWriter()
                    emit = _jpeg_emit_ac_first if ah == 0 else _jpeg_emit_ac_refine
                    for bi in range(nby * nbx):
                        by, bx = divmod(bi, nbx)
                        emit(
                            writer, ac_codes, coefs_per_comp[ci][by, bx], ss, se, al
                        )
                    out.extend(writer.flush())
        out.extend(b"\xff\xd9")
        return bytes(out)
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([i + 1, 0x00]) for i in range(nc))
        + bytes([0, 63, 0]),
    )
    writer = _JpegBitWriter()
    preds = [0] * nc
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            out.extend(writer.flush())
            out.extend(bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)]))
            preds = [0] * nc
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hi, vi = samp[ci]
            for by in range(vi):
                for bx in range(hi):
                    preds[ci] = _jpeg_encode_block(
                        coefs_per_comp[ci][my * vi + by, mx * hi + bx],
                        dc_codes,
                        ac_codes,
                        preds[ci],
                        writer,
                    )
    out.extend(writer.flush())
    out.extend(b"\xff\xd9")
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code: int, n_pixels: int) -> list[int]:
    """GIF-variant LZW: LSB-first bit packing, variable code width
    starting at min_code+1 growing to 12 bits, CLEAR resets the
    dictionary, EOI terminates. The third real compression family in
    this module (DEFLATE via zlib for PNG, huffman+DCT for JPEG, LZW
    here) — decoded from the spec (GIF89a appendix F), no codec lib."""
    if not 2 <= min_code <= 8:
        # GIF89a: LZW minimum code size is 2..8 (palette <= 256); an
        # unvalidated byte here sizes the initial table as 1 << min_code
        # — a mutated 0xF9 would try to build a 2^249-entry list
        raise ValueError(f"invalid GIF LZW minimum code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    out: list[int] = []
    # initialized up front, not only on CLEAR: a leading CLEAR is
    # conventional but not mandatory in the spec
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    width = min_code + 1
    next_code = eoi + 1
    prev: list[int] | None = None
    acc = bits = pos = 0
    while len(out) < n_pixels:
        while bits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            width = min_code + 1
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("GIF LZW stream must start with a literal")
            entry = [code]
        elif code < next_code and code < len(table) and table[code]:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"GIF LZW code {code} out of range")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended early")
    return out[:n_pixels]


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB pixels of the first image of a GIF87a/89a — real
    LZW decompression + palette lookup + interlace reordering, pure
    stdlib/numpy. Extensions (GCE/comment/application) are skipped by
    their sub-block framing; animation beyond the first frame and
    transparency are out of scope (first image only, alpha ignored,
    like the PNG path drops alpha)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    try:
        return _gif_pixels_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt GIF container ({exc})") from exc


def _gif_pixels_impl(payload: bytes) -> np.ndarray:
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        if ipacked & 0x80:  # local color table wins
            n = 2 << (ipacked & 0x07)
            palette = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF image has no color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos]:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        data = b"".join(chunks)
        # Each LZW code is >= 3 bits and emits <= 4096 pixels (the
        # 12-bit table cap), so a lying 16-bit w*h cannot demand more
        # output than the stream can back — bound the decoded-list
        # growth before entering the symbol loop.
        if w * h > (len(data) * 8 // 3) * 4096:
            raise ValueError("GIF dimensions exceed what the stream can encode")
        if w * h > _GIF_MAX_CANVAS_PIXELS:
            # the data-backed bound is loose by LZW's 4096x dictionary
            # factor (r9 review) — cap absolutely before the index list
            raise ValueError(f"GIF image {w}x{h} exceeds the decode cap")
        idx = np.asarray(
            _gif_lzw_decode(data, min_code, w * h), dtype=np.int64
        )
        if (idx >= len(palette)).any():
            raise ValueError("GIF pixel index out of palette range")
        px = palette[idx].reshape(h, w, 3)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            rows = [r for start, step in _GIF_INTERLACE_PASSES for r in range(start, h, step)]
            out = np.empty_like(px)
            out[rows] = px
            px = out
        return px
    raise ValueError("GIF has no image data")


def decode_gif(payload: bytes) -> dict:
    px = _gif_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_gif(px: np.ndarray, interlace: bool = False) -> bytes:
    """GIF89a encoder twin for fixtures (the BMP/PNG/JPEG/WAV
    synthesizer discipline): local color table built from the image's
    distinct colors (≤256 or ValueError), real LZW compression with
    dictionary growth/reset, optional interlacing. Lossless for any
    image that fits a palette, so the text-byte oracles hash-check the
    full round trip."""
    px = np.asarray(px)
    # r9 encoder fuzz + review: a NaN/inf float would cast to an
    # UNDEFINED uint8 value, and finite out-of-[0,255] values would
    # silently WRAP — both encode garbage pixels with ok=True.
    _check_u8_pixels(px, "encode_gif")
    px = px.astype(np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    if px.ndim != 3 or px.shape[2] != 3 or px.size == 0:
        raise ValueError(
            f"encode_gif takes a non-empty (h,w) or (h,w,3) image, got {px.shape}"
        )
    h, w = px.shape[:2]
    flat = px.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"GIF palette overflow: {len(colors)} distinct colors")
    depth = max(2, int(len(colors) - 1).bit_length())  # table size 2^depth
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[: len(colors)] = colors
    indices = idx.reshape(h, w)
    if interlace:
        rows = [r for start, step in _GIF_INTERLACE_PASSES for r in range(start, h, step)]
        indices = indices[rows]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0, 0, 0)  # no global table
    out += struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x80 | (0x40 if interlace else 0) | (depth - 1)
    )
    out += table.tobytes()
    min_code = depth
    out.append(min_code)
    data = _gif_lzw_encode(indices.reshape(-1).tolist(), min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_encode(indices: list[int], min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    width = min_code + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    buf: tuple[int, ...] = ()
    for sym in indices:
        cand = buf + (sym,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:  # dictionary full: reset like real encoders
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        buf = (sym,)
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


# Absolute decode-resource caps for the GIF surface (r9 review): the
# data-backed bounds are loose by LZW's 4096x dictionary factor, and
# animation composition legitimately amplifies small delta patches
# into full-canvas frames — so both the canvas and the total composed
# output get hard ceilings (67M pixels ≈ 201 MB RGB canvas; 256 MB of
# frames), far above any real corpus GIF but small enough that one
# hostile payload cannot OOM an executor.
_GIF_MAX_CANVAS_PIXELS = 1 << 26
_GIF_MAX_OUTPUT_BYTES = 1 << 28


def _gif_frames(payload: bytes) -> list[np.ndarray]:
    """Composed (sh, sw, 3) RGB frames of a GIF87a/89a ANIMATION —
    full GIF89a playback semantics the first-frame path ignores
    (r9 depth on the r8 codec): each image block draws at its
    (left, top) offset onto the logical-screen canvas; the preceding
    Graphic Control Extension supplies the transparent palette index
    (those pixels leave the canvas unchanged — the inter-frame delta
    encoding real animations use) and the disposal method (1 leave /
    2 restore-to-background / 3 restore-to-previous). One composed
    canvas snapshot per image block, so animated GIFs fingerprint
    frame-by-frame exactly like VID0/AVI/MP4 video."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    try:
        return _gif_frames_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt GIF container ({exc})") from exc


def _gif_frames_impl(payload: bytes) -> list[np.ndarray]:
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gpalette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gpalette = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    # The canvas allocation must be data-backed like a frame's pixels
    # (a lying 65535x65535 screen would be a 12.8 GB bomb): every LZW
    # code in the whole file is >= 3 bits and emits <= 4096 pixels —
    # AND absolutely capped (r9 review: the data-backed bound alone is
    # loose by the 4096x dictionary factor, so a ~400 KB payload could
    # still clear it at 65535x65535).
    if sw * sh > max((len(payload) * 8 // 3) * 4096, 1 << 16):
        raise ValueError("GIF screen dimensions exceed what the file can back")
    if sw * sh > _GIF_MAX_CANVAS_PIXELS:
        raise ValueError(
            f"GIF screen {sw}x{sh} exceeds the decode cap "
            f"({_GIF_MAX_CANVAS_PIXELS} pixels)"
        )
    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    if gpalette is not None and bg < len(gpalette):
        canvas[:, :] = gpalette[bg]
    frames: list[np.ndarray] = []
    transparent = None  # palette index from the pending GCE, if any
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos + 1]
            ext_start = pos + 2
            pos = ext_start
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            if label == 0xF9 and payload[ext_start] >= 4:  # GCE
                flags = payload[ext_start + 1]
                disposal = (flags >> 2) & 0x07
                transparent = payload[ext_start + 4] if flags & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        if w == 0 or h == 0:
            # zero-area blocks cost ~12 bytes each but would append a
            # full canvas copy per block — the free-amplification
            # vector the r9 review found (24 KB payload -> 393 MB out)
            raise ValueError("GIF image block has zero area")
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame rectangle outside the logical screen")
        palette = gpalette
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            palette = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF image has no color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos]:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1  # sub-block terminator
        data = b"".join(chunks)
        if w * h > (len(data) * 8 // 3) * 4096:
            raise ValueError("GIF dimensions exceed what the stream can encode")
        idx = np.asarray(_gif_lzw_decode(data, min_code, w * h), dtype=np.int64)
        if (idx >= len(palette)).any():
            raise ValueError("GIF pixel index out of palette range")
        idx = idx.reshape(h, w)
        if ipacked & 0x40:
            rows = [r for start, step in _GIF_INTERLACE_PASSES for r in range(start, h, step)]
            out = np.empty_like(idx)
            out[rows] = idx
            idx = out
        before = canvas[top : top + h, left : left + w].copy()
        region = palette[idx].astype(np.uint8)
        if transparent is not None:
            mask = idx == transparent
            region = np.where(mask[:, :, None], before, region)
        canvas[top : top + h, left : left + w] = region
        if (len(frames) + 1) * canvas.nbytes > _GIF_MAX_OUTPUT_BYTES:
            # composition legitimately amplifies (delta patches, full
            # canvas out) — bound the TOTAL, not per-frame, so a long
            # hostile animation can't OOM the executor
            raise ValueError(
                f"GIF animation output exceeds {_GIF_MAX_OUTPUT_BYTES} bytes"
            )
        frames.append(canvas.copy())
        if disposal == 2:  # restore to background
            fill = (
                gpalette[bg]
                if gpalette is not None and bg < len(gpalette)
                else np.zeros(3, dtype=np.uint8)
            )
            canvas[top : top + h, left : left + w] = fill
        elif disposal == 3:  # restore to previous
            canvas[top : top + h, left : left + w] = before
        transparent, disposal = None, 0
    if not frames:
        raise ValueError("GIF has no image data")
    return frames


def encode_gif_animation(
    frames: list[np.ndarray], delay_cs: int = 10
) -> bytes:
    """Animated-GIF89a encoder twin of ``_gif_frames`` (the fixture
    discipline: a real encoder so playback composition is exercised
    end-to-end). Frame 1 is a full image block; every later frame is
    the real production shape — a bounding-box DELTA patch whose
    unchanged pixels are the GCE transparent index, so the decoder's
    transparency compositing is what reconstructs the full frame.
    Global palette from the union of frame colors + one spare slot
    for the transparent index (<= 255 distinct colors or ValueError)."""
    if not frames:
        raise ValueError("encode_gif_animation needs at least one frame")
    fr = []
    for f in frames:
        f = np.asarray(f)
        _check_u8_pixels(f, "encode_gif_animation")
        f = f.astype(np.uint8)
        if f.ndim == 2:
            f = np.repeat(f[:, :, None], 3, axis=2)
        if f.ndim != 3 or f.shape[2] != 3 or f.size == 0:
            raise ValueError("encode_gif_animation takes (h,w[,3]) frames")
        fr.append(f)
    if any(f.shape != fr[0].shape for f in fr):
        raise ValueError("all frames must share one shape")
    h, w = fr[0].shape[:2]
    # one vectorized palette build + per-pixel index for ALL frames
    # (r9 review: the per-pixel dict lookup was an interpreter loop)
    allpx = np.concatenate([f.reshape(-1, 3) for f in fr])
    colors, inv = np.unique(allpx, axis=0, return_inverse=True)
    if len(colors) > 255:  # one slot reserved for the transparent index
        raise ValueError(f"GIF palette overflow: {len(colors)} distinct colors")
    depth = max(2, int(len(colors)).bit_length())  # +1 slot => no -1
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[: len(colors)] = colors
    tindex = len(colors)  # the spare slot
    per_frame_idx = inv.reshape(len(fr), h, w).astype(np.int64)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += table.tobytes()
    # NETSCAPE2.0 looping application extension — real-world framing
    # the decoder's extension skipper must walk over
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    prev = None
    for fi, f in enumerate(fr):
        idx = per_frame_idx[fi]
        if prev is None:
            left = top = 0
            patch = idx
            trans_flag = 0
        else:
            diff = (f != prev).any(axis=2)
            if not diff.any():  # identical frame: 1x1 transparent patch
                left = top = 0
                patch = np.full((1, 1), tindex, dtype=np.int64)
            else:
                ys, xs = np.nonzero(diff)
                top, left = int(ys.min()), int(xs.min())
                y2, x2 = int(ys.max()) + 1, int(xs.max()) + 1
                patch = np.where(
                    diff[top:y2, left:x2],
                    idx[top:y2, left:x2],
                    tindex,
                )
            trans_flag = 1
        out += b"\x21\xf9\x04" + bytes(
            [(1 << 2) | trans_flag]
        ) + struct.pack("<H", delay_cs) + bytes([tindex, 0])
        ph, pw = patch.shape
        out += struct.pack("<BHHHHB", 0x2C, left, top, pw, ph, 0)
        min_code = depth
        out.append(min_code)
        data = _gif_lzw_encode(patch.reshape(-1).tolist(), min_code)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
        prev = f
    out += b"\x3b"
    return bytes(out)


# --- PCX (r11): ZSoft Paintbrush, the legacy-archive staple ---------
#
# From the public ZSoft technical reference: 128-byte header, per-
# scanline per-plane byte RLE (two high bits set = run count), 8-bit
# paletted with the 769-byte VGA palette trailer, 24-bit as three
# planes per row, 1-bit bilevel.


def _pcx_rle_row(payload: bytes, pos: int, n: int) -> tuple[np.ndarray, int]:
    out = np.zeros(n, dtype=np.uint8)
    filled = 0
    while filled < n:
        if pos >= len(payload):
            raise ValueError("PCX RLE stream truncated")
        b = payload[pos]
        pos += 1
        if b >= 0xC0:
            if pos >= len(payload):
                raise ValueError("PCX RLE stream truncated")
            count = min(b & 0x3F, n - filled)
            out[filled : filled + count] = payload[pos]
            pos += 1
            filled += count
        else:
            out[filled] = b
            filled += 1
    return out, pos


def _pcx_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB of a PCX: RLE decoded per scanline/plane, routed
    by plane count — 1x1-bit bilevel, 1x8-bit VGA-paletted (0x0C
    trailer), 3x8-bit truecolor."""
    if len(payload) < 128 or payload[0] != 0x0A:
        raise ValueError("not a PCX payload")
    try:
        return _pcx_pixels_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt PCX stream ({exc})") from exc


def _pcx_pixels_impl(payload: bytes) -> np.ndarray:
    (_mfg, _ver, encoding, bpp, x0, y0, x1, y1) = struct.unpack_from(
        "<BBBBHHHH", payload, 0
    )
    planes = payload[65]
    stride = struct.unpack_from("<H", payload, 66)[0]
    if encoding != 1:
        raise ValueError(f"unsupported PCX encoding {encoding}")
    w, h = x1 - x0 + 1, y1 - y0 + 1
    if w <= 0 or h <= 0 or w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"invalid PCX dimensions ({w}x{h})")
    if (bpp, planes) not in ((8, 1), (8, 3), (1, 1)):
        raise ValueError(f"unsupported PCX layout ({bpp} bpp x {planes} planes)")
    if stride < (w * bpp + 7) // 8:
        raise ValueError("PCX bytes-per-line smaller than the row")
    pos = 128
    rows = np.zeros((h, planes, stride), dtype=np.uint8)
    for y in range(h):
        for p in range(planes):
            rows[y, p], pos = _pcx_rle_row(payload, pos, stride)
    if planes == 3:
        return np.ascontiguousarray(
            rows[:, :, :w].transpose(0, 2, 1)
        )
    if bpp == 1:
        bits = np.unpackbits(rows[:, 0], axis=1)[:, :w]
        gray = bits * np.uint8(255)
        return np.repeat(gray[:, :, None], 3, axis=2)
    # 8-bit paletted: the VGA palette rides 769 bytes from the end
    if len(payload) < pos + 769 or payload[-769] != 0x0C:
        raise ValueError("PCX 256-color palette trailer missing")
    pal = np.frombuffer(payload[-768:], np.uint8).reshape(256, 3)
    return pal[rows[:, 0, :w]]


def decode_pcx(payload: bytes) -> dict:
    px = _pcx_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def _pcx_rle_encode(row: np.ndarray) -> bytes:
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        v = row[i]
        run = 1
        while i + run < n and row[i + run] == v and run < 63:
            run += 1
        if run > 1 or v >= 0xC0:
            out.append(0xC0 | run)
            out.append(int(v))
        else:
            out.append(int(v))
        i += run
    return bytes(out)


def encode_pcx(px: np.ndarray) -> bytes:
    """PCX encoder twin: (h,w,3) truecolor as three RLE planes per
    scanline — lossless, spec-reference RLE (runs emitted even for
    single bytes >= 0xC0)."""
    px = np.asarray(px)
    if px.ndim != 3 or px.shape[2] != 3 or px.size == 0:
        raise ValueError(f"encode_pcx takes (h,w,3) RGB, got {px.shape}")
    _check_u8_pixels(px, "encode_pcx")
    h, w = px.shape[:2]
    stride = w + (w & 1)  # even bytes-per-line per the reference
    header = struct.pack(
        "<BBBBHHHHHH", 0x0A, 5, 1, 8, 0, 0, w - 1, h - 1, 72, 72
    )
    header += bytes(48) + bytes(1) + bytes([3]) + struct.pack("<H", stride)
    header += struct.pack("<H", 1) + bytes(58)
    assert len(header) == 128
    body = bytearray()
    row = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        for p in range(3):
            row[:w] = px[y, :, p]
            row[w:] = 0
            body += _pcx_rle_encode(row)
    return header + bytes(body)


# --- SGI RGB (r11): the .sgi/.rgb image library staple --------------
#
# From the public SGI image file format spec: big-endian 512-byte
# header (magic 0x01DA), verbatim or RLE storage; RLE keeps per-
# (row, channel) offset/length tables, packets copy-or-repeat by the
# count byte's high bit.


def _sgi_pixels(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\x01\xda":
        raise ValueError("not an SGI image payload")
    try:
        return _sgi_pixels_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt SGI stream ({exc})") from exc


def _sgi_pixels_impl(payload: bytes) -> np.ndarray:
    if len(payload) < 512:
        raise ValueError("SGI header truncated")
    storage, bpc = payload[2], payload[3]
    _dim, w, h, z = struct.unpack_from(">HHHH", payload, 4)
    if bpc != 1:
        raise ValueError(f"unsupported SGI bytes-per-channel {bpc}")
    if storage not in (0, 1):
        raise ValueError(f"invalid SGI storage {storage}")
    if not w or not h or w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"invalid SGI dimensions ({w}x{h})")
    if z not in (1, 3, 4):
        raise ValueError(f"unsupported SGI channel count {z}")
    chans = np.zeros((z, h, w), dtype=np.uint8)
    if storage == 0:  # verbatim, bottom-up rows
        need = 512 + w * h * z
        if len(payload) < need:
            raise ValueError("SGI pixel data truncated")
        chans = np.frombuffer(payload, np.uint8, w * h * z, 512).reshape(z, h, w)
    else:
        ntab = h * z
        if len(payload) < 512 + 8 * ntab:
            raise ValueError("SGI RLE tables truncated")
        starts = np.frombuffer(payload, ">u4", ntab, 512)
        lengths = np.frombuffer(payload, ">u4", ntab, 512 + 4 * ntab)
        rows = np.zeros((z, h, w), dtype=np.uint8)
        for c in range(z):
            for y in range(h):
                pos = int(starts[c * h + y])
                end = min(pos + int(lengths[c * h + y]), len(payload))
                x = 0
                while pos < end:
                    count = payload[pos] & 0x7F
                    copy = payload[pos] & 0x80
                    pos += 1
                    if count == 0:
                        break
                    if x + count > w:
                        raise ValueError("SGI RLE row overruns its width")
                    if copy:
                        if pos + count > end:
                            raise ValueError("SGI RLE packet truncated")
                        rows[c, y, x : x + count] = np.frombuffer(
                            payload, np.uint8, count, pos
                        )
                        pos += count
                    else:
                        if pos >= end:
                            raise ValueError("SGI RLE packet truncated")
                        rows[c, y, x : x + count] = payload[pos]
                        pos += 1
                    x += count
        chans = rows
    img = chans[:3] if z >= 3 else np.repeat(chans, 3, axis=0)
    # rows are stored bottom-up
    return np.ascontiguousarray(img.transpose(1, 2, 0)[::-1])


def decode_sgi(payload: bytes) -> dict:
    px = _sgi_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_sgi(px: np.ndarray, rle: bool = True) -> bytes:
    """SGI encoder twin: (h,w,3) RGB, verbatim or RLE storage —
    lossless."""
    px = np.asarray(px)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=-1)
    if px.ndim != 3 or px.shape[2] != 3 or px.size == 0:
        raise ValueError(f"encode_sgi takes (h,w) or (h,w,3), got {px.shape}")
    _check_u8_pixels(px, "encode_sgi")
    h, w = px.shape[:2]
    header = struct.pack(
        ">2sBBHHHH", b"\x01\xda", 1 if rle else 0, 1, 3, w, h, 3
    ) + struct.pack(">iiI", 0, 255, 0) + bytes(80) + struct.pack(">I", 0) + bytes(404)
    assert len(header) == 512
    flipped = px[::-1]
    if not rle:
        return header + np.ascontiguousarray(
            flipped.transpose(2, 0, 1)
        ).tobytes()
    tables_at = 512
    ntab = h * 3
    data = bytearray()
    starts, lengths = [], []
    base = tables_at + 8 * ntab
    for c in range(3):
        for y in range(h):
            row = flipped[y, :, c]
            packet = bytearray()
            i = 0
            while i < w:
                run = 1
                while i + run < w and row[i + run] == row[i] and run < 127:
                    run += 1
                if run >= 3:
                    packet += bytes([run, int(row[i])])
                    i += run
                else:
                    j = i
                    lit = 0
                    while (
                        j + lit < w
                        and lit < 127
                        and not (
                            j + lit + 2 < w
                            and row[j + lit] == row[j + lit + 1] == row[j + lit + 2]
                        )
                    ):
                        lit += 1
                    packet += bytes([0x80 | lit]) + row[j : j + lit].tobytes()
                    i += lit
            packet += b"\x00"  # row terminator
            starts.append(base + len(data))
            lengths.append(len(packet))
            data += packet
    tables = np.asarray(starts, ">u4").tobytes() + np.asarray(
        lengths, ">u4"
    ).tobytes()
    return header + tables + bytes(data)


# --- DDS (r11): DirectDraw Surface, the game/graphics-asset staple --
#
# From the public layout (the DDS_HEADER/DDS_PIXELFORMAT structs and
# the BC1-BC3 block formats of the D3D functional specs): 4x4 block
# decompression for DXT1/2/3/4/5 and their DX10-header DXGI twins
# (BC1/2/3_UNORM[_SRGB]), plus uncompressed masked-RGB surfaces via
# exact per-mask rounding. Only the top mip level decodes (the
# thumbnail rule); mip count reports as n_frames. Alpha — premultiplied
# or not — is parsed past and dropped (the PNG rule), which is also
# why DXT2/4 decode identically to their non-premultiplied twins
# here. 2/3-color interpolation uses floor((2a+b)/3) — inside the
# D3D decode tolerance; the encoder twin restricts blocks to their
# two endpoints so fixtures round-trip EXACTLY anyway.


def _dds_565_expand(c: np.ndarray) -> np.ndarray:
    """(n, 3) uint8 RGB from (n,) uint16 RGB565 — exact rounding."""
    r = (c >> 11) & 0x1F
    g = (c >> 5) & 0x3F
    b = c & 0x1F
    return np.stack(
        [
            (r * 255 + 15) // 31,
            (g * 255 + 31) // 63,
            (b * 255 + 15) // 31,
        ],
        axis=1,
    ).astype(np.int64)


def _bc_color_decode(data: bytes, w: int, h: int, kind: int) -> np.ndarray:
    """(h, w, 3) RGB from BC1/2/3 block data — vectorized over
    blocks: expand both 565 endpoints, build the 4-entry palette per
    block (BC1's c0<=c1 selects 3-color mode), gather texels by the
    2-bit lookup table."""
    bw = -(-w // 4)
    bh = -(-h // 4)
    block_bytes = 8 if kind == 1 else 16
    need = bw * bh * block_bytes
    if len(data) < need:
        raise ValueError("DDS block data truncated")
    arr = np.frombuffer(data, np.uint8, need).reshape(bw * bh, block_bytes)
    cpart = arr[:, -8:].copy()
    c01 = cpart[:, :4].view("<u2").astype(np.int64)  # (n, 2)
    p0 = _dds_565_expand(c01[:, 0])
    p1 = _dds_565_expand(c01[:, 1])
    pal = np.zeros((len(arr), 4, 3), dtype=np.int64)
    pal[:, 0] = p0
    pal[:, 1] = p1
    four = (kind != 1) | (c01[:, 0] > c01[:, 1])
    pal[:, 2] = np.where(
        four[:, None], (2 * p0 + p1) // 3, (p0 + p1) // 2
    )
    pal[:, 3] = np.where(four[:, None], (p0 + 2 * p1) // 3, 0)
    bits = cpart[:, 4:8].copy().view("<u4").astype(np.int64).reshape(-1)
    t = np.arange(16)
    idx = (bits[:, None] >> (2 * t)[None, :]) & 3  # (n, 16)
    texels = pal[np.arange(len(arr))[:, None], idx]  # (n, 16, 3)
    img = (
        texels.reshape(bh, bw, 4, 4, 3)
        .transpose(0, 2, 1, 3, 4)
        .reshape(bh * 4, bw * 4, 3)
    )
    return img[:h, :w].astype(np.uint8)


_DDS_FOURCC_KIND = {
    b"DXT1": 1, b"DXT2": 2, b"DXT3": 2, b"DXT4": 3, b"DXT5": 3,
}
_DDS_DXGI_KIND = {71: 1, 72: 1, 74: 2, 75: 2, 77: 3, 78: 3}


def _dds_mask_channel(px: np.ndarray, mask: int) -> np.ndarray:
    if mask == 0:
        return np.zeros(px.shape, dtype=np.int64)
    shift = (mask & -mask).bit_length() - 1
    m = mask >> shift
    # exact round-to-nearest (the engine-wide v*255/m rule — the BC
    # path's 565 expansion rounds, so the masked path must too)
    return (((px >> shift) & m) * 255 + m // 2) // m


def _dds_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB of a DDS surface (top mip level only)."""
    if payload[:4] != b"DDS ":
        raise ValueError("not a DDS payload")
    try:
        return _dds_pixels_impl(payload)
    except (struct.error, IndexError, OverflowError) as exc:
        raise ValueError(f"corrupt DDS header ({type(exc).__name__}: {exc})") from exc


def _dds_pixels_impl(payload: bytes) -> np.ndarray:
    if len(payload) < 128:
        raise ValueError("DDS header truncated")
    (hsize,) = struct.unpack_from("<I", payload, 4)
    if hsize != 124:
        raise ValueError(f"bad DDS header size {hsize}")
    _flags, h, w = struct.unpack_from("<III", payload, 8)
    if not w or not h:
        raise ValueError("zero-dimension DDS surface")
    if w * h > _IMG_MAX_PIXELS:
        raise ValueError(f"DDS {w}x{h} exceeds the decode cap")
    pfsize, pfflags = struct.unpack_from("<II", payload, 76)
    if pfsize != 32:
        raise ValueError(f"bad DDS pixel format size {pfsize}")
    fourcc = payload[84:88]
    data_at = 128
    if pfflags & 0x4:  # DDPF_FOURCC
        if fourcc == b"DX10":
            if len(payload) < 148:
                raise ValueError("DDS DX10 header truncated")
            dxgi, _dim, _misc, _asize, _misc2 = struct.unpack_from(
                "<5I", payload, 128
            )
            kind = _DDS_DXGI_KIND.get(dxgi)
            if kind is None:
                raise NotImplementedError(
                    f"DDS DXGI format {dxgi} needs a codec library "
                    "(BC1-BC3 decode natively)"
                )
            data_at = 148
        else:
            kind = _DDS_FOURCC_KIND.get(fourcc)
            if kind is None:
                raise NotImplementedError(
                    f"DDS fourCC {fourcc!r} needs a codec library "
                    "(DXT1-DXT5 decode natively)"
                )
        return _bc_color_decode(payload[data_at:], w, h, kind)
    if pfflags & 0x40:  # DDPF_RGB: uncompressed masked channels
        bitcount, rm, gm, bm = struct.unpack_from("<IIII", payload, 88)
        if bitcount not in (16, 24, 32):
            raise ValueError(f"unsupported DDS RGB bit count {bitcount}")
        width_b = bitcount // 8
        need = w * h * width_b
        if len(payload) < 128 + need:
            raise ValueError("DDS pixel data truncated")
        raw = np.frombuffer(payload, np.uint8, need, 128).reshape(-1, width_b)
        px = np.zeros(len(raw), dtype=np.int64)
        for i in range(width_b):
            px |= raw[:, i].astype(np.int64) << (8 * i)
        rgb = np.stack(
            [_dds_mask_channel(px, m) for m in (rm, gm, bm)], axis=1
        )
        return rgb.reshape(h, w, 3).astype(np.uint8)
    raise NotImplementedError(
        "DDS surface without fourCC or RGB masks needs a codec library"
    )


def decode_dds(payload: bytes) -> dict:
    px = _dds_pixels(payload)
    (mips,) = struct.unpack_from("<I", payload, 28)
    fourcc = payload[84:88]
    (pfflags,) = struct.unpack_from("<I", payload, 80)
    codec = (
        fourcc.decode("ascii", "replace").strip().lower()
        if pfflags & 0x4
        else "rgb"
    )
    mean_rgb = px.reshape(-1, 3).mean(axis=0)
    return {
        "kind": "image",
        "codec": codec,
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "n_frames": max(int(mips), 1),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def encode_dds(px: np.ndarray, fourcc: bytes | None = b"DXT1") -> bytes:
    """DDS encoder twin. BC modes (DXT1/3/5) fit each 4x4 block to
    its at-most-two distinct colors — blocks with more colors are
    rejected rather than silently lossy (the exactness doctrine:
    fixtures round-trip bit-exactly IF their colors sit on the
    RGB565 lattice). ``fourcc=None`` writes an uncompressed 24-bit
    masked-RGB surface — exact for any input."""
    px = np.asarray(px)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=-1)
    if px.ndim != 3 or px.shape[2] != 3 or px.size == 0:
        raise ValueError(f"encode_dds takes (h,w) or (h,w,3), got {px.shape}")
    _check_u8_pixels(px, "encode_dds")
    h, w = px.shape[:2]

    def _header(pf: bytes, linear: int) -> bytes:
        head = struct.pack(
            "<4sIIIIIII", b"DDS ", 124, 0x1007, h, w, linear, 0, 1
        ) + bytes(44)
        return head + pf + struct.pack("<IIIII", 0x1000, 0, 0, 0, 0)

    if fourcc is None:
        pf = struct.pack(
            "<II4sIIIII", 32, 0x40, b"\x00" * 4, 24, 0xFF, 0xFF00, 0xFF0000, 0
        )
        # the masks above make the little-endian byte order R,G,B —
        # so the raw pixel array IS the surface data
        return _header(pf, w * h * 3) + px.astype(np.uint8).tobytes()
    if fourcc not in (b"DXT1", b"DXT3", b"DXT5"):
        raise ValueError(f"encode_dds supports DXT1/DXT3/DXT5, got {fourcc!r}")
    kind = _DDS_FOURCC_KIND[fourcc]
    bw, bh = -(-w // 4), -(-h // 4)
    padded = np.pad(px, ((0, bh * 4 - h), (0, bw * 4 - w), (0, 0)), mode="edge")
    out = bytearray()
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4].reshape(16, 3)
            colors = np.unique(block, axis=0)
            if len(colors) > 2:
                raise ValueError(
                    "encode_dds blocks must have <= 2 distinct colors "
                    "(the exact-fixture contract)"
                )
            c0 = colors[0]
            c1 = colors[1] if len(colors) > 1 else colors[0]

            def _to565(c) -> int:
                r = (int(c[0]) * 31 + 127) // 255
                g = (int(c[1]) * 63 + 127) // 255
                b = (int(c[2]) * 31 + 127) // 255
                return (r << 11) | (g << 5) | b

            v0, v1 = _to565(c0), _to565(c1)
            if kind == 1 and v0 <= v1:
                # 4-color mode needs c0 > c1; swap (equal is fine:
                # every texel indexes 0)
                v0, v1 = v1, v0
                c0, c1 = c1, c0
            elif kind != 1 and v0 < v1:
                v0, v1 = v1, v0
                c0, c1 = c1, c0
            bits = 0
            for t in range(16):
                if not np.array_equal(block[t], c0):
                    bits |= 1 << (2 * t)
            if kind == 2:
                out += b"\xff" * 8  # 4-bit alpha plane, opaque
            elif kind == 3:
                out += b"\xff\xff" + bytes(6)  # a0=a1=255, indexes 0
            out += struct.pack("<HHI", v0, v1, bits)
    return _header(
        struct.pack("<II4sIIIII", 32, 0x4, fourcc, 0, 0, 0, 0, 0),
        len(out),
    ) + bytes(out)

