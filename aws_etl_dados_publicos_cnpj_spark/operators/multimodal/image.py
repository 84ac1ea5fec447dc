"""Still-image codecs: BMP (incl. RLE, palette and bitfields), PNG
(every color type and depth, Adam7; + encoder twin), GIF (LZW, first
image; + twin) and baseline sequential JPEG (+ twin).

Split out of the r12 single-module multimodal.py (r12 verdict item:
52% of the package in one file); facade in ``__init__``. See the
package docstring for the decode status of each format.
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


def _png_pixels_impl(payload: bytes) -> np.ndarray:
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
    # → RGB (alpha dropped)
    if color_type == 3:  # palette indices are raw, never scaled
        idx = samples[:, :, 0]
        if (idx >= len(plte)).any():
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if depth == 16:
        # exact round-to-nearest 16→8 (v*255/65535), not the >>8
        # truncation shortcut — keeps the expansion bit-pinnable
        samples = (samples.astype(np.uint32) * 255 + 32767) // 65535
    elif depth < 8:  # single-channel types only; bit-exact expansion
        samples = samples * np.uint16({1: 255, 2: 85, 4: 17}[depth])
    if color_type in (2, 6):
        return samples.astype(np.uint8)[:, :, :3]
    # grayscale (0) / gray+alpha (4)
    gray = samples[:, :, 0].astype(np.uint8)
    return np.repeat(gray[:, :, None], 3, axis=2)


def decode_png(payload: bytes) -> dict:
    px = _png_pixels(payload)
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


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
    Progressive (SOF2) and lossless (SOF3) streams raise
    NotImplementedError naming the frame type. Every malformed-stream
    failure mode surfaces as ValueError (the PNG decoder's contract),
    so quarantine matching stays uniform."""
    try:
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


def _jpeg_pixels_impl(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    w = h = dri = 0
    hmax = vmax = mcux = mcuy = 0
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
            # zigzag-ordered coefficient state of the one scan
            c["coef"] = np.zeros(
                (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
            )
            # non-interleaved walk bounds: the component's OWN block
            # grid (T.81 A.2 — sampling factors don't apply in a
            # single-component scan)
            c["bw"] = -(-(-(-w * c["h"] // hmax)) // 8)
            c["bh"] = -(-(-(-h * c["v"] // vmax)) // 8)

    def _decode_scan(scomps: list[dict], segments: list[bytes]) -> None:
        reader = _JpegBitReader(segments[0])
        seg_i = 0
        for c in scomps:
            c["pred"] = 0
        interleaved = len(scomps) > 1
        units = mcux * mcuy if interleaved else scomps[0]["bw"] * scomps[0]["bh"]

        def unit(c: dict, by: int, bx: int) -> None:
            dc_tab = huff.get((0, c["td"]))
            ac_tab = huff.get((1, c["ta"]))
            if dc_tab is None or ac_tab is None:
                raise ValueError("JPEG scan references undefined huffman table")
            c["coef"][by, bx], c["pred"] = _jpeg_decode_block(
                reader, dc_tab, ac_tab, c["pred"]
            )

        for u in range(units):
            if dri and u and u % dri == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("missing JPEG restart segment")
                reader = _JpegBitReader(segments[seg_i])
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
        elif marker == 0xC0:  # SOF0 baseline
            if data[0] != 8:
                raise ValueError("non-8-bit JPEG unsupported")
            h, w = struct.unpack_from(">HH", data, 1)
            for i in range(data[5]):
                cid, hv, tq = data[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if len(comps) not in (1, 3):
                raise ValueError("unsupported JPEG component count")
            _alloc()
        elif marker in (0xC2, 0xC3):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} "
                f"({'progressive' if marker == 0xC2 else 'lossless'}) decode "
                "is not supported; only baseline sequential (SOF0) decodes here"
            )
        elif marker in (0xC1, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG SOF type 0x{marker:02x} "
                "(baseline sequential only)"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            if ns != len(comps):
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
            if len(data) < 4 + 2 * ns:  # Ss, Se, Ah/Al (fixed in baseline)
                raise ValueError("truncated JPEG scan header")
            segments, end = _jpeg_entropy_segments(payload, pos + 2 + seglen)
            _decode_scan(scomps, segments)
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


def encode_jpeg(
    px: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
    subsampling: str = "444",
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
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(qtable.astype(np.uint8)))
    seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([nc])
        + b"".join(
            bytes([i + 1, (samp[i][0] << 4) | samp[i][1], 0]) for i in range(nc)
        ),
    )
    seg(0xC4, bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(_JPEG_STD_AC_BITS) + bytes(_JPEG_STD_AC_VALS))
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


# Absolute decode-resource cap for the GIF surface (r9 review): the
# data-backed bounds are loose by LZW's 4096x dictionary factor, so the
# canvas gets a hard ceiling (67M pixels ≈ 201 MB RGB), far above any
# real corpus GIF but small enough that one hostile payload cannot OOM
# an executor.
_GIF_MAX_CANVAS_PIXELS = 1 << 26


