"""Mutation + round-trip fuzzer for the pure-Python media codecs.

Two contracts, checked over every decoder the engine ships:

1. QUARANTINE: decoding arbitrary corrupt bytes may fail only with
   ValueError or NotImplementedError (the `decode_features` /
   `decode_media` quarantine matches exactly these) — any other
   exception type (struct.error, ZeroDivisionError, MemoryError, ...)
   would escape the poison-blob handling and kill a 100 TB pass.
   Mutations are seeded from VALID payloads (bit flips, byte edits,
   truncations, splices) so the fuzz reaches deep decode states, not
   just magic-number rejection.

2. ROUND-TRIP: encoder->decoder twins must reproduce the input exactly
   for the lossless families (PNG, GIF, FLAC, WAV/AIFF containers, and
   block-constant JPEG which the fixtures rely on being lossless).

Usage:
    python tools/fuzz_codecs.py [--seconds 60] [--seed 0]

Exits non-zero on the first contract violation, printing a repro
(format, seed, mutation ops) compact enough to paste into a test.
"""

from __future__ import annotations

import argparse
import os
import random
import signal
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_dados_publicos_cnpj_spark.operators import multimodal as mm

ALLOWED = (ValueError, NotImplementedError)

# cap the bytes any single decode may RETURN: the r8 guards make
# header-driven allocations data-backed, so a fuzz input of a few KB
# returning >64 MB of pixels/samples is an amplification finding even
# when it's fast enough to beat the watchdog
MAX_RESULT_BYTES = 1 << 26


def _result_nbytes(obj) -> int:
    if isinstance(obj, np.ndarray):
        return obj.nbytes
    if isinstance(obj, (bytes, bytearray)):
        return len(obj)
    if isinstance(obj, (list, tuple)):
        return sum(_result_nbytes(v) for v in obj)
    if isinstance(obj, dict):
        return sum(_result_nbytes(v) for v in obj.values())
    return 8


def _encode_png(px: np.ndarray) -> bytes:
    """Minimal valid 8-bit RGB PNG (filter 0 scanlines) — encoder twin
    for fuzz seeds only; the engine ships a decoder, not an encoder."""
    import struct
    import zlib

    h, w, _ = px.shape
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _encode_png_variant(rng: random.Random) -> bytes:
    """Seed twin for the r9 PNG coverage: grayscale / palette /
    gray+alpha color types, sub-byte depths, optional Adam7."""
    import struct
    import zlib

    h, w = rng.randrange(1, 16), rng.randrange(1, 16)
    ct = rng.choice((0, 3, 4))
    depth = rng.choice((1, 2, 4, 8, 16)) if ct == 0 else (
        rng.choice((1, 2, 4, 8)) if ct == 3 else rng.choice((8, 16))
    )
    ch = {0: 1, 3: 1, 4: 2}[ct]
    maxv = (1 << depth) - 1
    ncol = min(maxv + 1, 6)
    samples = [
        [rng.randrange((ncol if ct == 3 else maxv + 1)) for _ in range(w * ch)]
        for _ in range(h)
    ]
    interlace = rng.randrange(2)
    adam7 = mm._PNG_ADAM7

    def pack_rows(rows_vals: list[list[int]]) -> bytes:
        out = b""
        for vals in rows_vals:
            if depth == 16:
                row = b"".join(v.to_bytes(2, "big") for v in vals)
            elif depth == 8:
                row = bytes(vals)
            else:
                bits = [(v >> b) & 1 for v in vals for b in range(depth - 1, -1, -1)]
                while len(bits) % 8:
                    bits.append(0)
                row = np.packbits(np.asarray(bits, dtype=np.uint8)).tobytes()
            out += b"\x00" + row
        return out

    if interlace == 0:
        raw = pack_rows(samples)
    else:
        raw = b""
        for xs, ys, xst, yst in adam7:
            rows = [
                [samples[y][x * ch + c] for x in range(xs, w, xst) for c in range(ch)]
                for y in range(ys, h, yst)
            ]
            if rows and rows[0]:
                raw += pack_rows(rows)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    out = mm._PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, interlace)
    )
    if ct == 3:
        out += chunk(
            b"PLTE", bytes(rng.randrange(256) for _ in range(ncol * 3))
        )
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")



def _encode_bmp_core(rng: random.Random) -> bytes:
    """Seed for the OS/2 BITMAPCOREHEADER arm (12-byte header, u16
    dims, 3-byte palette entries)."""
    import struct

    w, h = rng.randrange(1, 10), rng.randrange(1, 8)
    bpp = rng.choice((8, 24))
    stride = (w * (bpp // 8) + 3) // 4 * 4
    body = bytes(rng.randrange(256) for _ in range(stride * h))
    pal = bytes(rng.randrange(256) for _ in range(3 * 256)) if bpp == 8 else b""
    off = 26 + len(pal)
    return (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IHHHH", 12, w, h, 1, bpp)
        + pal
        + body
    )


def _encode_bmp_variant(rng: random.Random) -> bytes:
    """Seed twin for the r9 BMP widening: 8/4-bit paletted, RLE8,
    RLE4, 16-bit 555, BITFIELDS, and 32-bit BGRA layouts."""
    import struct

    w, h = rng.randrange(1, 12), rng.randrange(1, 10)
    kind = rng.randrange(7)
    ncol = rng.randrange(2, 8)
    pal = bytes(rng.randrange(256) for _ in range(4 * ncol))

    def header(bpp, compression, n_colors, data_size, mask_bytes=0):
        off = 54 + 4 * n_colors + mask_bytes
        return (
            b"BM"
            + struct.pack("<IHHI", off + data_size, 0, 0, off)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                data_size, 0, 0, n_colors, 0,
            )
        )

    if kind == 0:  # 8-bit palette
        row = (w + 3) // 4 * 4
        data = bytes(
            rng.randrange(ncol) if x < w else 0
            for _ in range(h)
            for x in range(row)
        )
        return header(8, 0, ncol, len(data)) + pal + data
    if kind == 1:  # 4-bit palette
        row = ((w * 4 + 31) // 32) * 4
        data = bytes(rng.randrange(256) for _ in range(row * h))
        # clamp nibbles into palette range
        data = bytes((b % ncol) << 4 | (b % ncol) for b in data)
        return header(4, 0, ncol, len(data)) + pal + data
    if kind == 2:  # 32-bit BGRA
        row = w * 4
        data = bytes(rng.randrange(256) for _ in range(row * h))
        return header(32, 0, 0, len(data)) + data
    if kind == 3:  # 16-bit 555
        row = (w * 2 + 3) // 4 * 4
        data = bytes(rng.randrange(256) for _ in range(row * h))
        return header(16, 0, 0, len(data)) + data
    if kind == 4:  # BITFIELDS (565 / 555 / 8-bit-per-channel 32)
        bpp, masks = rng.choice(
            (
                (16, (0xF800, 0x07E0, 0x001F)),
                (16, (0x7C00, 0x03E0, 0x001F)),
                (32, (0xFF0000, 0x00FF00, 0x0000FF)),
            )
        )
        row = (w * (bpp // 8) + 3) // 4 * 4
        data = bytes(rng.randrange(256) for _ in range(row * h))
        return (
            header(bpp, 3, 0, len(data), mask_bytes=12)
            + struct.pack("<III", *masks)
            + data
        )
    if kind == 5:  # RLE4: encoded rows + occasional absolute spans
        out = bytearray()
        for _ in range(h):
            x = 0
            while x < w:
                run = min(rng.randrange(1, 6), w - x)
                if run >= 3 and rng.randrange(2):
                    nib = [(rng.randrange(ncol)) for _ in range(run)]
                    packed = bytearray()
                    for i in range(0, run, 2):
                        lo = nib[i + 1] if i + 1 < run else 0
                        packed.append((nib[i] << 4) | lo)
                    if len(packed) & 1:
                        packed.append(0)
                    out += bytes([0, run]) + bytes(packed)
                else:
                    v = rng.randrange(ncol)
                    out += bytes([run, (v << 4) | v])
                x += run
            out += b"\x00\x00"  # EOL
        out += b"\x00\x01"  # EOF
        return header(4, 2, ncol, len(out)) + pal + bytes(out)
    # RLE8: simple encoded rows
    out = bytearray()
    for _ in range(h):
        x = 0
        while x < w:
            run = min(rng.randrange(1, 5), w - x)
            out += bytes([run, rng.randrange(ncol)])
            x += run
        out += b"\x00\x00"  # EOL
    out += b"\x00\x01"  # EOF
    return header(8, 1, ncol, len(out)) + pal + bytes(out)


def _encode_g711(rng: random.Random) -> bytes:
    """Seed twin for the r9 G.711 path: µ-law/A-law RIFF container."""
    import struct

    tag = rng.choice((6, 7))
    n_ch = rng.choice((1, 2))
    rate = rng.choice((8000, 16000))
    data = bytes(rng.randrange(256) for _ in range(rng.randrange(2, 200) * n_ch))
    fmt = struct.pack("<HHIIHH", tag, n_ch, rate, rate * n_ch, n_ch, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _seed_payloads(rng: random.Random) -> list[tuple[str, bytes]]:
    """Valid payloads per format, regenerated each call so mutations
    explore different image/audio content."""
    n = rng.randrange(1, 5)
    h, w = 8 * rng.randrange(1, 3), 8 * rng.randrange(1, 4)
    px = np.asarray(
        [rng.randrange(256) for _ in range(h * w * 3)], dtype=np.uint8
    ).reshape(h, w, 3)
    gif_px = (px // 64) * 64  # <= 64 distinct colors (palette cap is 256)
    flat = px.reshape(-1)[: 64 * n].tobytes()
    samples = np.asarray(
        [rng.randrange(-3000, 3000) for _ in range(rng.randrange(1, 800))],
        dtype=np.int16,
    )
    raw8 = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 200)))
    out = [
        ("png", _encode_png(px)),
        ("pngv", _encode_png_variant(rng)),
        (
            "png",
            mm.encode_png(
                (gif_px[:, :, 0] % 4).astype(np.uint8),
                depth=rng.choice((2, 4, 8)),
                interlace=rng.random() < 0.5,
            ),
        ),
        ("gif", mm.encode_gif(gif_px)),
        ("jpeg", mm.encode_jpeg(px)),
        ("bmp", mm._bmp_payload(raw8)),
        ("bmpv", _encode_bmp_variant(rng)),
        ("bmpv", _encode_bmp_core(rng)),
        ("flac", mm.encode_flac(samples)),
        (
            "flac",
            mm.encode_flac(
                np.clip(
                    (samples.astype(np.int64) << 8) - rng.randrange(256),
                    -(1 << 23),
                    (1 << 23) - 1,
                ),
                bits=24,
            ),
        ),
        (
            "flac",
            mm.encode_flac(
                (samples.astype(np.int64) << rng.choice((4, 16))),
                bits=32,
            ),
        ),
        ("flac", mm.encode_flac(samples.astype(np.int64) >> 8, bits=8)),
        (
            "flac",
            mm.encode_flac(
                np.stack([samples, samples[::-1]], axis=1),
                stereo_mode=rng.choice(
                    ("auto", "independent", "left_side", "side_right", "mid_side")
                ),
            ),
        ),
        ("wav", mm._wav_payload(raw8)),
        ("wav", mm._rf64_payload(raw8, rate=rng.choice((8000, 44100)))),
        ("wavf", mm._float_wav_payload(raw8, double=rng.random() < 0.5)),
        ("wav32", mm._pcm32_wav_payload(raw8)),
        ("aiff", mm._aiff_payload(raw8)),
        ("aiff", mm._aifc_payload(raw8, compression=rng.choice((b"sowt", b"NONE", b"fl32", b"fl64")))),
        ("g711", _encode_g711(rng)),
        ("avi", mm._avi_mjpeg_container(mm._mjpeg_frames_for_text(flat or b"x", n))),
        ("mp4", mm._mp4_mjpeg_container(mm._mjpeg_frames_for_text(flat or b"x", n))),
    ]
    return out


_DECODERS = {
    "png": [mm._png_pixels, mm.decode_png, mm._image_pixels],
    "pngv": [mm._png_pixels, mm.decode_png],
    "gif": [mm._gif_pixels, mm.decode_gif],
    "jpeg": [mm._jpeg_pixels, mm.decode_jpeg],
    "bmp": [mm._bmp_pixels, mm.decode_bmp, mm._image_pixels],
    "bmpv": [mm._bmp_pixels, mm.decode_bmp],
    "flac": [mm._flac_samples, mm.decode_flac, mm._pcm16_samples],
    "wav": [mm.decode_wav, mm._pcm16_samples],
    "wavf": [mm.decode_wav, mm._pcm16_samples, lambda p: mm._wav_samples_f64(p)[0]],
    "wav32": [mm.decode_wav, mm._pcm16_samples, lambda p: mm._wav_samples_f64(p)[0]],
    "aiff": [mm._aiff_samples, mm.decode_aiff, mm._pcm16_samples],
    "g711": [mm.decode_wav, lambda p: mm._wav_samples_f64(p)[0]],
    "avi": [mm._avi_mjpeg_frames, mm.decode_avi_mjpeg, mm.decode_avi, mm._avi_video_header],
    "mp4": [mm._mp4_video_stats, mm._mp4_mjpeg_frames, mm.decode_mp4_mjpeg],
}


def _mutate(payload: bytes, rng: random.Random) -> tuple[bytes, list[str]]:
    buf = bytearray(payload)
    ops: list[str] = []
    for _ in range(rng.randrange(1, 4)):
        kind = rng.randrange(5)
        if not buf:
            break
        if kind == 0:  # single-bit flip
            i = rng.randrange(len(buf))
            buf[i] ^= 1 << rng.randrange(8)
            ops.append(f"bitflip@{i}")
        elif kind == 1:  # byte overwrite (00/FF/random favor structure)
            i = rng.randrange(len(buf))
            buf[i] = rng.choice((0x00, 0xFF, rng.randrange(256)))
            ops.append(f"byte@{i}={buf[i]:#04x}")
        elif kind == 2:  # truncate
            i = rng.randrange(len(buf)) + 1
            del buf[i:]
            ops.append(f"trunc@{i}")
        elif kind == 3:  # 4-byte big-endian length/count smash
            i = rng.randrange(max(len(buf) - 4, 1))
            v = rng.choice((0, 1, 0x7FFFFFFF, 0xFFFFFFFF, rng.randrange(1 << 32)))
            buf[i : i + 4] = v.to_bytes(4, "big")
            ops.append(f"be32@{i}={v:#x}")
        else:  # splice a chunk from elsewhere in the same payload
            if len(buf) < 8:
                continue
            i, j = sorted(rng.randrange(len(buf)) for _ in range(2))
            k = rng.randrange(len(buf))
            buf[k : k + (j - i)] = payload[i:j]
            ops.append(f"splice[{i}:{j}]@{k}")
    return bytes(buf), ops


class _DecodeHang(Exception):
    pass


def fuzz_quarantine(seconds: float, seed: int, per_decode: float = 10.0) -> int:
    rng = random.Random(seed)
    deadline = time.monotonic() + seconds
    trials = 0
    # SIGALRM watchdog: a decode that neither returns nor raises within
    # per_decode seconds is a CPU-bomb finding, not something to wait out
    def _on_alarm(signum, frame):
        raise _DecodeHang()

    old = signal.signal(signal.SIGALRM, _on_alarm)
    try:
        while time.monotonic() < deadline:
            for fmt, good in _seed_payloads(rng):
                mutated, ops = _mutate(good, rng)
                for dec in _DECODERS[fmt]:
                    trials += 1
                    out = None
                    # the timer is disarmed in an INNER finally so a
                    # late alarm (firing between dec() returning and
                    # the disarm) surfaces as the outer _DecodeHang
                    # report, not an uncaught crash
                    signal.setitimer(signal.ITIMER_REAL, per_decode)
                    try:
                        try:
                            out = dec(mutated)
                        finally:
                            signal.setitimer(signal.ITIMER_REAL, 0)
                    except ALLOWED:
                        pass
                    except _DecodeHang:
                        print(
                            f"SLOW DECODE (>{per_decode}s) fmt={fmt} "
                            f"decoder={dec.__name__} seed={seed} ops={ops} "
                            f"payload_hex={mutated.hex()}"
                        )
                        return 1
                    except Exception:
                        print(
                            f"QUARANTINE VIOLATION fmt={fmt} decoder={dec.__name__} "
                            f"seed={seed} ops={ops} payload_hex={mutated.hex()}"
                        )
                        traceback.print_exc()
                        return 1
                    if out is not None and _result_nbytes(out) > MAX_RESULT_BYTES:
                        print(
                            f"AMPLIFICATION (> {MAX_RESULT_BYTES} bytes out of "
                            f"{len(mutated)} in) fmt={fmt} decoder={dec.__name__} "
                            f"seed={seed} ops={ops} payload_hex={mutated.hex()}"
                        )
                        return 1
    finally:
        signal.signal(signal.SIGALRM, old)
    print(f"quarantine fuzz OK: {trials} decode trials, 0 violations")
    return 0


def fuzz_round_trip(seconds: float, seed: int) -> int:
    rng = random.Random(seed ^ 0x5A5A)
    deadline = time.monotonic() + seconds
    trials = 0
    while time.monotonic() < deadline:
        trials += 1
        h, w = rng.randrange(1, 40), rng.randrange(1, 40)
        px = np.asarray(
            [rng.randrange(256) for _ in range(h * w * 3)], dtype=np.uint8
        ).reshape(h, w, 3)
        if not (mm._png_pixels(_encode_png(px)) == px).all():
            print(f"PNG round-trip MISMATCH seed={seed} h={h} w={w}")
            return 1
        # the engine's own encoder (adaptive filters, optional Adam7)
        # must agree with the independent filter-0 synthesizer above
        if not (
            mm._png_pixels(mm.encode_png(px, interlace=rng.randrange(2) == 1))
            == px
        ).all():
            print(f"encode_png round-trip MISMATCH seed={seed} h={h} w={w}")
            return 1
        small = (px[:, :, 0] % 16).astype(np.uint8)
        rgb = np.stack([small] * 3, axis=-1) * 17
        if not (mm._gif_pixels(mm.encode_gif(rgb)) == rgb).all():
            print(f"GIF round-trip MISMATCH seed={seed} h={h} w={w}")
            return 1
        samples = np.asarray(
            [rng.randrange(-32768, 32768) for _ in range(rng.randrange(1, 3000))],
            dtype=np.int16,
        )
        got, _, _ = mm._flac_samples(mm.encode_flac(samples))
        if not np.array_equal(got, samples):
            print(f"FLAC round-trip MISMATCH seed={seed} n={len(samples)}")
            return 1
        m = rng.randrange(1, 1500)
        st2 = np.asarray(
            [rng.randrange(-32768, 32768) for _ in range(2 * m)], dtype=np.int16
        ).reshape(m, 2)
        got, _, nch = mm._flac_samples(mm.encode_flac(st2))
        if nch != 2 or not np.array_equal(got.reshape(-1, 2), st2):
            print(f"FLAC STEREO round-trip MISMATCH seed={seed} n={m}")
            return 1
        # FLAC at a random spec width must be bit-exact too
        fbits = rng.choice((8, 12, 20, 32))
        ffull = 1 << (fbits - 1)
        wide = np.asarray(
            [rng.randrange(-ffull, ffull) for _ in range(rng.randrange(1, 2000))],
            dtype=np.int64,
        )
        got, _, _ = mm._flac_samples(mm.encode_flac(wide, bits=fbits))
        if not np.array_equal(got.astype(np.int64), wide):
            print(f"FLAC {fbits}-bit round-trip MISMATCH seed={seed}")
            return 1
    print(f"round-trip fuzz OK: {trials} encode/decode trials, 0 mismatches")
    return 0


def _rand_image(rng: random.Random) -> np.ndarray:
    """Adversarial image-ish array: hostile shapes (0-d..4-d, empty
    dims, 1/2/3/4 channels), dtypes (bool..float64), and value ranges
    (negatives, >255, NaN/inf for floats)."""
    shape_kind = rng.randrange(8)
    h, w = rng.randrange(0, 40), rng.randrange(0, 40)
    shape = {
        0: (),
        1: (h,),
        2: (h, w),
        3: (h, w, 3),
        4: (h, w, 4),
        5: (h, w, 2),
        6: (h, w, 3, 2),
        7: (0, w, 3),
    }[shape_kind]
    dtype = rng.choice(
        [np.uint8, np.int16, np.int32, np.int64, np.float32, np.float64, np.bool_]
    )
    n = int(np.prod(shape)) if shape else 1
    if np.issubdtype(dtype, np.floating):
        vals = [
            rng.choice((rng.uniform(-300, 600), float("nan"), float("inf"), -0.5))
            for _ in range(n)
        ]
    elif dtype is np.bool_:
        vals = [rng.randrange(2) for _ in range(n)]
    else:
        vals = [rng.randrange(-512, 768) for _ in range(n)]
    arr = np.asarray(vals, dtype=dtype).reshape(shape)
    if rng.randrange(4) == 0 and np.issubdtype(arr.dtype, np.integer):
        arr = np.clip(arr, 0, 255).astype(np.uint8)  # sometimes clean
    return arr


def _rand_samples(rng: random.Random) -> np.ndarray:
    kind = rng.randrange(6)
    n = rng.randrange(0, 3000)
    if kind == 0:  # clean int16 mono
        return np.asarray(
            [rng.randrange(-32768, 32768) for _ in range(n)], dtype=np.int16
        )
    if kind == 1:  # out-of-16-bit-range int64
        return np.asarray(
            [rng.randrange(-(1 << 40), 1 << 40) for _ in range(max(n, 1))],
            dtype=np.int64,
        )
    if kind == 2:  # floats incl. NaN/inf
        return np.asarray(
            [
                rng.choice((rng.uniform(-4e4, 4e4), float("nan"), float("inf")))
                for _ in range(max(n, 1))
            ]
        )
    if kind == 3:  # stereo (n, 2) — VALID since r9 — or hostile ranks
        m = max(n, 2) // 2
        sub = rng.randrange(3)
        if sub == 0:
            return np.asarray(
                [rng.randrange(-32768, 32768) for _ in range(2 * m)],
                dtype=np.int16,
            ).reshape(m, 2)
        if sub == 1:
            return np.zeros((m, 3), dtype=np.int16)  # 3 channels: reject
        return np.zeros((m, 2, 1), dtype=np.int16)  # rank 3: reject
    if kind == 4:  # 0-d
        return np.asarray(7, dtype=np.int16)
    return np.zeros(0, dtype=np.int16)  # empty


def fuzz_encoders(seconds: float, seed: int, per_encode: float = 10.0) -> int:
    """Encoder-INPUT fuzz (r8 verdict #5): encode_flac / encode_gif /
    encode_jpeg over adversarial shapes, dtypes, value ranges, and
    kwargs. Contract: an encoder either raises ValueError or returns a
    stream its own decoder twin accepts — any other exception type
    (encode OR decode of an accepted input's output) is a finding, as
    is a >per_encode-second CPU bomb. Clean inputs must round-trip
    exactly for the lossless families."""
    rng = random.Random(seed ^ 0xE4C0DE)
    deadline = time.monotonic() + seconds
    trials = 0

    def _on_alarm(signum, frame):
        raise _DecodeHang()

    old = signal.signal(signal.SIGALRM, _on_alarm)

    def _guarded(fn, *args, **kwargs):
        signal.setitimer(signal.ITIMER_REAL, per_encode)
        try:
            return fn(*args, **kwargs)
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)

    try:
        while time.monotonic() < deadline:
            fam = rng.choice(("flac", "gif", "jpeg", "png"))
            if fam == "flac":
                arr = _rand_samples(rng)
                kwargs = {
                    "rate": rng.choice((8000, 44100, 0, 1, (1 << 20) - 1)),
                    "bits": rng.choice((16, 16, 24, 20)),
                    "blocksize": rng.choice((4096, 16, 1, 192, 65535)),
                    "lpc_order": rng.choice((None, 0, 1, 8, 32)),
                    "max_porder": rng.choice((0, 2, 4, 8)),
                    "stereo_mode": rng.choice(
                        ("auto", "independent", "left_side", "side_right",
                         "mid_side", "bogus")
                    ),
                }
                enc, dec = mm.encode_flac, lambda b: mm._flac_samples(b)[0]
            elif fam == "gif":
                arr = _rand_image(rng)
                kwargs = {"interlace": rng.randrange(2) == 1}
                enc, dec = mm.encode_gif, mm._gif_pixels
            elif fam == "png":
                arr = _rand_image(rng)
                pal_kind = rng.randrange(4)
                palette = {
                    0: None,
                    1: None,
                    2: [(rng.randrange(256),) * 3 for _ in range(rng.randrange(1, 5))],
                    3: [],
                }[pal_kind]
                kwargs = {
                    "depth": rng.choice((1, 2, 4, 8, 16, 12, 0)),
                    "interlace": rng.randrange(2) == 1,
                    "palette": palette,
                }
                enc, dec = mm.encode_png, mm._png_pixels
            else:
                arr = _rand_image(rng)
                qkind = rng.randrange(6)
                qtable = {
                    0: None,
                    1: np.full(64, rng.randrange(1, 256), dtype=np.int64),
                    2: np.zeros(64, dtype=np.int64),
                    3: np.full(64, 300, dtype=np.int64),
                    4: np.full(63, 8, dtype=np.int64),
                    5: np.full(64, -3, dtype=np.int64),
                }[qkind]
                kwargs = {
                    "qtable": qtable,
                    "restart_interval": rng.choice((0, 1, 5)),
                    "subsampling": rng.choice(("444", "420", "422", "411", "")),
                }
                enc, dec = mm.encode_jpeg, mm._jpeg_pixels
            trials += 1
            desc = f"fmt={fam} seed={seed} shape={getattr(arr, 'shape', '?')} dtype={getattr(arr, 'dtype', '?')} kwargs={ {k: (v.tolist() if isinstance(v, np.ndarray) else v) for k, v in kwargs.items()} }"
            try:
                out = _guarded(enc, arr, **kwargs)
            except ValueError:
                continue  # the one allowed refusal
            except _DecodeHang:
                print(f"SLOW ENCODE (>{per_encode}s) {desc}")
                return 1
            except Exception:
                print(f"ENCODER CONTRACT VIOLATION {desc}")
                traceback.print_exc()
                return 1
            try:
                back = _guarded(dec, out)
            except _DecodeHang:
                print(f"SLOW DECODE of own encoder output {desc}")
                return 1
            except Exception:
                print(f"UNDECODABLE ENCODER OUTPUT {desc}")
                traceback.print_exc()
                return 1
            if _result_nbytes(back) > MAX_RESULT_BYTES:
                print(f"AMPLIFICATION via encoder {desc}")
                return 1
            # exact round-trip where the family is lossless and the
            # accepted input has one canonical decoded form
            if (
                fam == "flac"
                and arr.size
                and (arr.ndim == 1 or (arr.ndim == 2 and arr.shape[1] in (1, 2)))
            ):
                # stereo decodes interleaved — compare flattened
                want = np.asarray(arr, dtype=np.int64).reshape(-1)
                got = np.asarray(back, dtype=np.int64).reshape(-1)
                if not np.array_equal(got, want):
                    print(f"FLAC ENCODER ROUND-TRIP MISMATCH {desc}")
                    return 1
            if fam == "gif" and arr.ndim == 3 and arr.shape[2] == 3 and arr.dtype == np.uint8 and arr.size:
                if not np.array_equal(back, arr):
                    print(f"GIF ENCODER ROUND-TRIP MISMATCH {desc}")
                    return 1
            if (
                fam == "png"
                and kwargs.get("palette") is None
                and kwargs.get("depth") == 8
                and arr.ndim == 3
                and arr.shape[2] == 3
                and arr.dtype == np.uint8
                and arr.size
            ):
                if not np.array_equal(back, arr):
                    print(f"PNG ENCODER ROUND-TRIP MISMATCH {desc}")
                    return 1
    finally:
        signal.signal(signal.SIGALRM, old)
    print(f"encoder fuzz OK: {trials} encode trials, 0 violations")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=60.0)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    rc = fuzz_quarantine(args.seconds * 0.5, args.seed)
    if rc:
        return rc
    rc = fuzz_encoders(args.seconds * 0.3, args.seed)
    if rc:
        return rc
    return fuzz_round_trip(args.seconds * 0.2, args.seed)


if __name__ == "__main__":
    sys.exit(main())
