"""Real media decode through the mapInPandas plumbing: WAV (stdlib
wave) and uncompressed 24-bit BMP (struct+numpy) decode end to end on
synthesized payloads; unsupported codecs and corrupt bytes quarantine
per row instead of failing the job."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest

from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
    decode_bmp,
    decode_features,
    decode_wav,
    resize_bmp,
    sample_audio_frames,
)


def make_wav(samples, rate=8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype=np.int16).tobytes())
    return buf.getvalue()


def make_bmp(px: np.ndarray) -> bytes:
    """Encode an (h, w, 3) RGB uint8 array as a bottom-up 24-bit BMP."""
    h, wd, _ = px.shape
    row_size = (wd * 3 + 3) // 4 * 4
    body = bytearray()
    bgr = px[:, :, ::-1]
    for row in bgr[::-1]:
        r = row.tobytes()
        body += r + b"\x00" * (row_size - len(r))
    data_offset = 14 + 40
    header = b"BM" + struct.pack("<IHHI", data_offset + len(body), 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, wd, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header + info + body)


def test_decode_wav_stats():
    out = decode_wav(make_wav([1000, -1000, 1000, -1000], rate=4000))
    assert out["n_channels"] == 1
    assert out["sample_rate"] == 4000
    assert out["n_frames"] == 4
    assert out["duration_s"] == pytest.approx(0.001)
    assert out["rms"] == pytest.approx(1000.0)
    assert out["peak"] == 1000.0


def test_decode_bmp_pixels():
    px = np.array([[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8)
    out = decode_bmp(make_bmp(px))
    assert (out["width"], out["height"]) == (2, 2)
    assert out["mean_r"] == pytest.approx((255 + 0 + 0 + 255) / 4)
    assert out["mean_g"] == pytest.approx((0 + 255 + 0 + 255) / 4)
    assert out["mean_b"] == pytest.approx((0 + 0 + 255 + 255) / 4)


def test_wav_bmp_corrupt_payloads_quarantine_as_value_error():
    """Corrupt WAV/BMP must surface as ValueError like every other
    decoder — stdlib wave raises wave.Error/EOFError/bare RuntimeError
    on mangled chunk framing, and a truncated or negative-width BMP
    header leaked struct.error / read-to-end garbage (fuzz findings)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _bmp_pixels

    good_wav = make_wav([1000, -1000] * 50)
    # mangle the fmt chunk size so wave's chunk walk seeks past EOF
    bad = bytearray(good_wav)
    struct.pack_into("<I", bad, 16, 0xB8FF1A7A)
    with pytest.raises(ValueError, match="corrupt WAV"):
        decode_wav(bytes(bad[:40]))
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good_bmp = make_bmp(px)
    with pytest.raises(ValueError, match="corrupt BMP header"):
        _bmp_pixels(good_bmp[:9])
    neg = bytearray(good_bmp)
    struct.pack_into("<i", neg, 18, -2)
    with pytest.raises(ValueError, match="invalid BMP dimensions"):
        _bmp_pixels(bytes(neg))
    # corrupt 32-bit dims can push offset+count past C ssize_t, where
    # frombuffer raises OverflowError instead of ValueError (fuzz find)
    huge = bytearray(good_bmp)
    struct.pack_into("<ii", huge, 18, 0x7FFFFFFF, 0x7FFFFFFF)
    with pytest.raises(ValueError, match="truncated"):
        _bmp_pixels(bytes(huge))
    # a data offset pointing inside the 54-byte headers would silently
    # decode header bytes as pixels
    inhdr = bytearray(good_bmp)
    struct.pack_into("<I", inhdr, 10, 0)
    with pytest.raises(ValueError, match="data offset"):
        _bmp_pixels(bytes(inhdr))


def test_decode_features_mixed_media_and_quarantine(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import encode_jpeg

    wav = make_wav([500] * 100)
    bmp = make_bmp(np.full((3, 5, 3), 128, dtype=np.uint8))
    png = make_png(np.full((2, 4, 3), 64, dtype=np.uint8))
    rows = [
        (1, bytearray(wav), "audio/wav"),
        (2, bytearray(bmp), "image/bmp"),
        (3, bytearray(b"not really media"), "image/bmp"),  # corrupt
        (4, bytearray(b"\x00" * 64), "video/x-flv"),  # unsupported codec
        (5, bytearray(b"\x00" * 64), "video/mp4"),  # corrupt container
        (6, bytearray(png), "image/png"),
    ]
    # formats with no decoder: each quarantines by name, never kills
    # the job (an MPEG frame header, then bare bytes)
    cut = [
        "audio/mpeg", "audio/x-voc", "audio/x-8svx", "image/heic",
        "image/x-xbitmap", "image/tiff", "image/webp", "image/x-targa",
        "image/x-pcx", "image/sgi", "image/x-portable-pixmap", "image/qoi",
        "image/x-icon", "image/x-dds", "image/x-cmu-raster", "audio/x-caf",
        "audio/basic", "audio/ogg", "audio/mp4", "audio/x-matroska",
        "video/x-matroska", "video/webm",
    ]
    rows += [
        (7 + i, bytearray(b"\xff\xfb\x90\x00" + bytes(60)), mime)
        for i, mime in enumerate(cut)
    ]
    # progressive (SOF2) and lossless (SOF3) JPEGs quarantine by frame
    # type: a baseline stream relabeled at its SOF marker
    jpeg = encode_jpeg(np.full((8, 8), 99, dtype=np.uint8))
    sof = jpeg.index(b"\xff\xc0")
    frame_types = {}
    for marker, name in ((0xC2, "SOF2"), (0xC3, "SOF3")):
        relabeled = bytearray(jpeg)
        relabeled[sof + 1] = marker
        doc_id = 7 + len(cut) + len(frame_types)
        frame_types[doc_id] = name
        rows.append((doc_id, relabeled, "image/jpeg"))
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    got = decode_features(df).collect()
    out = {r.doc_id: r for r in got}
    assert len(got) == len(out) == len(rows)  # quarantine, not row loss
    for i, mime in enumerate(cut):
        r = out[7 + i]
        assert not r.ok and r.mime == mime
        assert "NotImplementedError" in r.err and repr(mime) in r.err
    for doc_id, name in frame_types.items():
        r = out[doc_id]
        assert not r.ok and "NotImplementedError" in r.err and name in r.err
    assert out[1].ok and out[1].kind == "audio"
    assert out[1].sample_rate == 8000 and out[1].n_frames == 100
    assert out[1].rms == pytest.approx(500.0)
    assert out[2].ok and out[2].kind == "image"
    assert (out[2].width, out[2].height) == (5, 3)
    assert out[2].mean_g == pytest.approx(128.0)
    assert not out[3].ok and "ValueError" in out[3].err
    assert not out[4].ok and "NotImplementedError" in out[4].err
    assert not out[5].ok and "ValueError" in out[5].err  # real walk, bad bytes
    assert out[6].ok and out[6].kind == "image"
    assert (out[6].width, out[6].height) == (4, 2)
    assert out[6].mean_r == pytest.approx(64.0)


def test_resize_bmp_exact_nearest_neighbor(spark):
    # 4x4 image in 4 solid 2x2 quadrants -> 2x2 thumb picks one px each
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = [255, 0, 0]
    px[:2, 2:] = [0, 255, 0]
    px[2:, :2] = [0, 0, 255]
    px[2:, 2:] = [255, 255, 0]
    df = spark.createDataFrame(
        [(1, bytearray(make_bmp(px)))], "doc_id long, payload binary"
    )
    r = resize_bmp(df, width=2, height=2).collect()[0]
    thumb = np.frombuffer(bytes(r.thumb), dtype=np.uint8).reshape(2, 2, 3)
    assert (r.thumb_w, r.thumb_h) == (2, 2)
    assert thumb[0, 0].tolist() == [255, 0, 0]
    assert thumb[0, 1].tolist() == [0, 255, 0]
    assert thumb[1, 0].tolist() == [0, 0, 255]
    assert thumb[1, 1].tolist() == [255, 255, 0]


def test_sample_audio_frames_every_n(spark):
    wav = make_wav(list(range(10)))
    df = spark.createDataFrame([(7, bytearray(wav))], "doc_id long, payload binary")
    out = sample_audio_frames(df, every_n=3).collect()
    assert [(r.frame_idx, r.sample) for r in sorted(out, key=lambda r: r.frame_idx)] == [
        (0, 0.0),
        (1, 3.0),
        (2, 6.0),
        (3, 9.0),
    ]
    # a non-positive step is the caller's error, raised up front rather
    # than read as an undecodable payload that drops every document
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import sample_frames

    for stage in (sample_audio_frames, sample_frames):
        for bad in (0, -3):
            with pytest.raises(ValueError, match="every_n"):
                stage(df, every_n=bad)


def make_png(px: np.ndarray, color_type: int = 2, filters=None) -> bytes:
    """Encode an (h, w, ch) uint8 array as an 8-bit PNG, choosing the
    filter type per scanline (default: y % 5, all five exercised)."""
    import zlib

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _PNG_MAGIC

    h, wd, ch = px.shape
    stride = wd * ch
    flat = px.reshape(h, stride).astype(np.int64)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    lines = []
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = (y % 5) if filters is None else filters[y]
        cur = flat[y]
        filt = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (int(cur[x]) - pred) & 0xFF
        lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", wd, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def test_png_all_filters_round_trip():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (10, 7, 3)).astype(np.uint8)
    # y % 5 covers None/Sub/Up/Average/Paeth across the 10 scanlines
    assert (_png_pixels(make_png(px)) == px).all()


def test_png_rgba_alpha_dropped():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, (4, 4, 4)).astype(np.uint8)
    out = _png_pixels(make_png(px, color_type=6))
    assert out.shape == (4, 4, 3)
    assert (out == px[:, :, :3]).all()


def test_png_decode_features_and_quarantine(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import decode_png

    px = np.full((3, 5, 3), 128, dtype=np.uint8)
    px[0, 0] = [255, 0, 0]
    png = make_png(px)
    out = decode_png(png)
    assert (out["width"], out["height"]) == (5, 3)
    assert out["mean_r"] == pytest.approx((128 * 14 + 255) / 15)
    assert out["mean_g"] == pytest.approx(128 * 14 / 15)
    rows = [
        (1, bytearray(png), "image/png"),
        (2, bytearray(png[:40]), "image/png"),  # truncated mid-chunk
        (3, bytearray(b"\x89PNG\r\n\x1a\njunk"), "image/png"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    got = {r.doc_id: r for r in decode_features(df).collect()}
    assert got[1].ok and got[1].kind == "image"
    assert not got[2].ok and "ValueError" in got[2].err
    assert not got[3].ok and "ValueError" in got[3].err


def test_png_and_bmp_ahash_agree(spark):
    """Same pixels through the two REAL codecs must produce the same
    perceptual signature — pins channel-order handling (BMP stores BGR,
    PNG RGB) and the shared synthesizer pixel mapping."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image_ahash,
        synthesize_bmp_from_text,
        synthesize_png_from_text,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "päckchen àéîõü"), (3, "aaaabbbbcccc")],
        "doc_id long, text string",
    )
    bmp = {r.doc_id: r.ahash for r in image_ahash(synthesize_bmp_from_text(df)).collect()}
    png = {r.doc_id: r.ahash for r in image_ahash(synthesize_png_from_text(df)).collect()}
    assert bmp == png


def test_resize_works_on_png(spark):
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = [255, 0, 0]
    px[2:, 2:] = [0, 0, 255]
    df = spark.createDataFrame(
        [(1, bytearray(make_png(px)))], "doc_id long, payload binary"
    )
    r = resize_bmp(df, width=2, height=2).collect()[0]
    thumb = np.frombuffer(bytes(r.thumb), dtype=np.uint8).reshape(2, 2, 3)
    assert thumb[0, 0].tolist() == [255, 0, 0]
    assert thumb[1, 1].tolist() == [0, 0, 255]


def test_png_unsupported_variants_raise():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = make_png(px)
    # depth 16 is SUPPORTED since r9 — an ILLEGAL depth (3) still
    # raises (offset: 8 magic + 4 len + 4 type + 8 w/h)
    bad_depth = bytearray(good)
    bad_depth[24] = 3
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        _png_pixels(bytes(bad_depth))
    # flipping a REAL 8-bit stream's header to 16 fails the stream
    # integrity check instead (still quarantines as ValueError)
    bad_depth[24] = 16
    with pytest.raises(ValueError, match="size mismatch"):
        _png_pixels(bytes(bad_depth))
    # interlace=1 is SUPPORTED since r9 (Adam7): flipping the flag on
    # sequential data now fails the stream-size integrity check (the
    # pass layout expects different byte counts), still ValueError
    bad_interlace = bytearray(good)
    bad_interlace[28] = 1
    with pytest.raises(ValueError, match="size mismatch"):
        _png_pixels(bytes(bad_interlace))
    # invalid color type, and sub-byte depth on a multi-channel type
    bad_ct = bytearray(good)
    bad_ct[25] = 7
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        _png_pixels(bytes(bad_ct))
    bad_combo = bytearray(good)
    bad_combo[24] = 4  # depth 4 with color_type 2 (RGB) is illegal
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        _png_pixels(bytes(bad_combo))


# --- JPEG (baseline sequential, encoder/decoder twins) ---------------------


def test_jpeg_block_constant_is_exactly_lossless():
    """The fixture contract behind the SQL oracle: a block-constant
    image has only DC coefficients (8·(v−128)), and the DC quant
    divisor 8 divides them exactly — so the LOSSY codec round-trips
    these pixels bit-exactly for every byte value."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    vals = np.arange(256, dtype=np.uint8)  # every possible block value
    px = np.tile(np.repeat(vals, 8), (8, 1))  # 8×2048, 256 blocks
    dec = _jpeg_pixels(encode_jpeg(px))
    assert dec.shape == (8, 2048, 3)
    for c in range(3):  # grayscale replicates into all three channels
        assert (dec[:, :, c] == px).all()


def test_jpeg_color_and_odd_dims_round_trip_bounded():
    """General lossy path: random RGB content at 4:4:4 with the all-8s
    table must reconstruct within a small bound (quant error ≤ q/2 per
    coefficient + color-convert rounding), and non-multiple-of-8 dims
    must crop the padded MCU grid back exactly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, (13, 21, 3)).astype(np.uint8)
    dec = _jpeg_pixels(encode_jpeg(px))
    assert dec.shape == (13, 21, 3)
    assert np.abs(dec.astype(int) - px.astype(int)).max() <= 24


def test_jpeg_restart_markers_round_trip():
    """DRI/RSTn: segment boundaries byte-align the bitstream and reset
    DC predictors; decode must be identical to the no-restart encode."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.RandomState(5)
    g = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    q1 = np.ones(64, dtype=np.int64)
    plain = _jpeg_pixels(encode_jpeg(g, qtable=q1))
    restarted = _jpeg_pixels(encode_jpeg(g, qtable=q1, restart_interval=3))
    assert (plain == restarted).all()
    assert np.abs(plain[:, :, 0].astype(int) - g.astype(int)).max() <= 1


def test_jpeg_unsupported_variants_quarantine(spark):
    """16-bit-quant JPEGs and progressive (SOF2) or lossless (SOF3)
    streams must raise — and through decode_features they quarantine
    per row, never killing the job. Only baseline sequential decodes:
    SOF2/SOF3 raise NotImplementedError naming the frame type."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        decode_features,
        encode_jpeg,
    )

    good = encode_jpeg(np.zeros((8, 8), dtype=np.uint8))
    sof = good.find(b"\xff\xc0")
    lossless = bytearray(good)
    lossless[sof + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="SOF3"):
        _jpeg_pixels(bytes(lossless))
    fake_prog = bytearray(good)
    fake_prog[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="SOF2"):
        _jpeg_pixels(bytes(fake_prog))
    bad_quant = bytearray(good)
    dqt = good.find(b"\xff\xdb")
    bad_quant[dqt + 4] = 0x10  # Pq=1 → 16-bit table
    with pytest.raises(ValueError, match="16-bit"):
        _jpeg_pixels(bytes(bad_quant))
    df = spark.createDataFrame(
        [
            (1, bytearray(good), "image/jpeg"),
            (2, bytearray(bytes(lossless)), "image/jpeg"),
            (3, bytearray(good[:30]), "image/jpeg"),
        ],
        "doc_id long, payload binary, mime string",
    )
    rows = {r.doc_id: r for r in decode_features(df).collect()}
    assert rows[1].ok and rows[1].kind == "image"
    assert rows[1].width == 8 and rows[1].height == 8
    assert not rows[2].ok and "SOF3" in rows[2].err
    assert not rows[3].ok


def test_jpeg_ahash_matches_bmp_on_same_pixels(spark):
    """Cross-format agreement: a JPEG and a BMP of the SAME
    block-constant pixel array must produce identical aHashes through
    the Spark path — pinning that _image_pixels routes JPEG into the
    shared aHash family with pixel-exact output."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_jpeg,
        image_ahash,
    )

    rng = np.random.RandomState(3)
    vals = rng.randint(0, 256, 8).astype(np.uint8)
    gray = np.tile(np.repeat(vals, 8), (8, 1))  # 8×64 block-constant
    rgb = np.stack([gray] * 3, axis=-1)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_jpeg(gray, restart_interval=2))),
            (2, bytearray(make_bmp(rgb))),
        ],
        "doc_id long, payload binary",
    )
    hashes = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
    assert hashes[1] == hashes[2]


def test_jpeg_420_subsampling_round_trip():
    """4:2:0: the decoder's interleaved-MCU walk (4 luma + 1 Cb + 1 Cr
    per MCU) and 2×2 replication upsample, driven by the encoder's box
    -mean subsample. Two exactness regimes: gray content (chroma
    constant 128 — subsample exact) must round-trip within ±1, and
    in-gamut content whose chroma is constant per 2×2 cell (box-mean
    exact, replication exact) within a small rounding bound."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.RandomState(13)
    q1 = np.ones(64, dtype=np.int64)
    g = rng.randint(0, 256, (19, 29)).astype(np.uint8)
    rgbg = np.stack([g, g, g], axis=-1)
    dec = _jpeg_pixels(encode_jpeg(rgbg, qtable=q1, subsampling="420"))
    assert dec.shape == (19, 29, 3)
    assert np.abs(dec.astype(int) - rgbg.astype(int)).max() <= 1
    # restarts must not change output
    decr = _jpeg_pixels(
        encode_jpeg(rgbg, qtable=q1, subsampling="420", restart_interval=2)
    )
    assert (decr == dec).all()
    # in-gamut cell-constant chroma: only rounding chains remain
    h, w = 18, 26
    y = rng.randint(80, 176, (h, w)).astype(float)
    cb = np.repeat(
        np.repeat(rng.randint(112, 144, (9, 13)).astype(float), 2, 0), 2, 1
    )[:h, :w]
    cr = np.repeat(
        np.repeat(rng.randint(112, 144, (9, 13)).astype(float), 2, 0), 2, 1
    )[:h, :w]
    rgb = np.clip(
        np.round(
            np.stack(
                [
                    y + 1.402 * (cr - 128),
                    y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
                    y + 1.772 * (cb - 128),
                ],
                axis=-1,
            )
        ),
        0,
        255,
    ).astype(np.uint8)
    dec2 = _jpeg_pixels(encode_jpeg(rgb, qtable=q1, subsampling="420"))
    assert np.abs(dec2.astype(int) - rgb.astype(int)).max() <= 6


def test_jpeg_fill_bytes_before_marker_tolerated():
    """T.81 allows any number of 0xFF fill bytes before a marker;
    decode must skip them, not reject the stream."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    px = np.arange(120, dtype=np.uint8).reshape(10, 12)
    good = encode_jpeg(px, qtable=np.ones(64, dtype=np.int64))
    i = good.find(b"\xff\xdb")
    padded = good[:i] + b"\xff\xff\xff" + good[i:]
    assert (_jpeg_pixels(padded) == _jpeg_pixels(good)).all()


def test_jpeg_grayscale_declared_sampling_factors_ignored():
    """T.81 A.2: a single-component scan is non-interleaved raster
    order and the declared sampling factors do not apply — a legal
    grayscale JPEG declaring 2x2 must decode identically to the same
    stream declaring 1x1 (the interleaved walk misplaced or rejected
    its blocks before the r7 fix)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.RandomState(21)
    for h, w in [(32, 16), (24, 16), (13, 29)]:
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        good = encode_jpeg(px, qtable=np.ones(64, dtype=np.int64))
        sof = good.find(b"\xff\xc0")
        patched = bytearray(good)
        assert patched[sof + 11] == 0x11  # (h<<4)|v of the one component
        patched[sof + 11] = 0x22
        assert (_jpeg_pixels(bytes(patched)) == _jpeg_pixels(good)).all()


def test_jpeg_multi_scan_quarantines():
    """A 3-component image whose SOS lists fewer components than the
    frame (split across non-interleaved scans) must raise — decoding
    only the first scan would be silently wrong."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    good = encode_jpeg(rgb)
    sos = good.find(b"\xff\xda")
    (seglen,) = struct.unpack_from(">H", good, sos + 2)
    single = good[:sos] + bytes(
        [0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 63, 0]
    ) + good[sos + 2 + seglen:]
    with pytest.raises(ValueError, match="multi-scan"):
        _jpeg_pixels(single)


def test_avi_mjpeg_frame_hashes_match_vid0_semantics(spark):
    """Motion-JPEG AVI: a REAL RIFF container (avih/strl headers,
    'movi' LIST, '00dc' chunks, even-byte padding) whose frames are
    block-constant baseline JPEGs — the exactly-lossless fixture — so
    per-frame aHashes are a pure function of the text bytes. Also pins
    that the VID0 path still routes by magic."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_mjpeg_frames,
        _jpeg_pixels,
        synthesize_avi_mjpeg_from_text,
        video_frame_hashes,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    avi = synthesize_avi_mjpeg_from_text(df, n_frames=3)
    rows = sorted(video_frame_hashes(avi).collect(), key=lambda r: r.frame_id)
    assert [r.frame_id for r in rows] == [0, 1, 2]
    raw = text.encode()
    payload = bytes(avi.collect()[0].payload)
    frames = _avi_mjpeg_frames(payload)
    assert len(frames) == 3
    for f, fb in enumerate(frames):  # container+codec round trip exact
        px = _jpeg_pixels(fb)
        expect = np.array([raw[(8 * f + (x // 8)) % len(raw)] for x in range(64)])
        assert (px[0, :, 0] == expect).all()
    # recompute frame 0's aHash from first principles
    gray3 = (px_vals := np.array(
        [3 * raw[(0 + (x // 8)) % len(raw)] for x in range(60)], dtype=np.int64
    ))
    total = int(gray3.sum())
    expect_hash = int(((60 * gray3 > total).astype(np.int64) << np.arange(60)).sum())
    assert rows[0].fhash == expect_hash


def test_avi_corrupt_payloads_raise(spark):
    """Non-AVI bytes and frame-less AVIs must raise (and therefore
    quarantine through decode-style wrappers), never silently yield."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_mjpeg_frames,
    )

    with pytest.raises(ValueError, match="not an AVI"):
        _avi_mjpeg_frames(b"RIFFxxxxWAVE")
    empty = b"RIFF" + struct.pack("<I", 4) + b"AVI "
    with pytest.raises(ValueError, match="no video frames"):
        _avi_mjpeg_frames(empty)


def test_avi_multi_stream_quarantines(spark):
    """An AVI whose 'movi' list carries a SECOND stream's '01dc'
    chunks must raise (r8): silently interleaving foreign frames into
    one sequence would corrupt frame_id ordering and n_frames. Only
    stream 00 is the single-stream fixture contract."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_mjpeg_frames,
        encode_jpeg,
        synthesize_avi_mjpeg_from_text,
    )

    frame = encode_jpeg(np.full((8, 8), 42, dtype=np.uint8))

    def ck(cid, data):
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    movi = b"movi" + ck(b"00dc", frame) + ck(b"01dc", frame)
    body = b"AVI " + ck(b"LIST", movi)
    two_stream = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="multi-stream"):
        _avi_mjpeg_frames(two_stream)

    # The single-stream synthesizer path is unaffected.
    df = spark.createDataFrame([(1, "ok")], "doc_id long, text string")
    payload = bytes(synthesize_avi_mjpeg_from_text(df, n_frames=2).collect()[0].payload)
    assert len(_avi_mjpeg_frames(payload)) == 2


def test_encode_jpeg_rejects_out_of_range_qtable():
    """DQT entries are emitted as uint8: >255 would silently wrap (a
    different table at decode than encode) and 0 divides to inf — both
    must raise instead of producing a wrong stream (r8)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import encode_jpeg

    px = np.zeros((8, 8), dtype=np.uint8)
    for bad in (np.full(64, 256), np.full(64, 0), np.r_[np.zeros(1), np.full(63, 8)]):
        with pytest.raises(ValueError, match=r"\[1, 255\]"):
            encode_jpeg(px, qtable=bad)
    assert encode_jpeg(px, qtable=np.full(64, 255))[:2] == b"\xff\xd8"


def test_decode_media_avi_stats(spark):
    """decode_media/decode_features route AVI through the real
    container+codec walk: kind=video, frame count, first-frame dims."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        decode_features,
        decode_media,
        synthesize_avi_mjpeg_from_text,
    )

    df = spark.createDataFrame([(5, "some avi text payload")], "doc_id long, text string")
    avi = synthesize_avi_mjpeg_from_text(df, n_frames=3)
    payload = bytes(avi.collect()[0].payload)
    out = decode_media(payload, "video/x-msvideo")
    assert out["kind"] == "video" and out["n_frames"] == 3
    assert (out["width"], out["height"]) == (64, 8)
    rows = decode_features(avi).collect()
    assert len(rows) == 1 and rows[0].ok and rows[0].kind == "video"
    assert rows[0].n_frames == 3


# --- MP4 ISO-BMFF container walk (r8) -------------------------------


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _make_mp4(
    n_frames=7,
    width=320,
    height=240,
    codec=b"avc1",
    timescale=600,
    duration=1800,
    mdhd_v1=False,
    extra_trak=b"",
    largesize_moov=False,
) -> bytes:
    tkhd = _box(
        b"tkhd",
        bytes(4) + bytes(80) + struct.pack(">II", width << 16, height << 16),
    )
    if mdhd_v1:
        mdhd = _box(
            b"mdhd",
            b"\x01" + bytes(3) + bytes(16) + struct.pack(">IQ", timescale, duration) + bytes(4),
        )
    else:
        mdhd = _box(
            b"mdhd",
            bytes(4) + bytes(8) + struct.pack(">II", timescale, duration) + bytes(4),
        )
    hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(12))
    entry = struct.pack(">I", 16) + codec + bytes(8)
    stsd = _box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
    stsz = _box(b"stsz", bytes(4) + struct.pack(">II", 0, n_frames))
    stbl = _box(b"stbl", stsd + stsz)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov_payload = extra_trak + trak
    if largesize_moov:
        moov = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(moov_payload)) + moov_payload
    else:
        moov = _box(b"moov", moov_payload)
    return _box(b"ftyp", b"isom" + bytes(4) + b"isomavc1") + moov + _box(b"mdat", b"\x00" * 32)


def test_mp4_container_walk_stats():
    """The ISO-BMFF walk resolves the 'vide' trak's dims (tkhd 16.16),
    codec fourcc (stsd), frame count (stsz) and duration (mdhd v0 AND
    v1 layouts, plus a 64-bit largesize moov) — real container
    parsing, no sample-layer decode."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_video_stats,
        decode_media,
    )

    out = _mp4_video_stats(_make_mp4())
    assert out == {
        "kind": "video",
        "n_frames": 7,
        "width": 320,
        "height": 240,
        "codec": "avc1",
        "duration_s": 3.0,
    }
    assert decode_media(_make_mp4(), "video/mp4") == out
    v1 = _mp4_video_stats(_make_mp4(mdhd_v1=True, timescale=1000, duration=2500))
    assert v1["duration_s"] == 2.5
    big = _mp4_video_stats(_make_mp4(largesize_moov=True, codec=b"hev1"))
    assert big["codec"] == "hev1" and big["n_frames"] == 7


def test_mp4_skips_non_video_traks_and_quarantines_bad_payloads():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_video_stats,
    )

    # An audio ('soun') trak before the video one is skipped, not misread.
    soun_hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"soun" + bytes(12))
    soun_trak = _box(b"trak", _box(b"mdia", soun_hdlr))
    out = _mp4_video_stats(_make_mp4(extra_trak=soun_trak, n_frames=3))
    assert out["n_frames"] == 3 and out["kind"] == "video"

    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        _mp4_video_stats(b"\x00" * 64)
    no_moov = _box(b"ftyp", b"isom" + bytes(4)) + _box(b"mdat", b"x")
    with pytest.raises(ValueError, match="no moov"):
        _mp4_video_stats(no_moov)
    audio_only = _box(b"ftyp", b"isom" + bytes(4)) + _box(b"moov", soun_trak)
    with pytest.raises(ValueError, match="no video track"):
        _mp4_video_stats(audio_only)
    # A box whose declared size overruns its scope must raise, not scan OOB.
    overrun = _box(b"ftyp", b"isom" + bytes(4)) + struct.pack(">I", 1 << 20) + b"moov"
    with pytest.raises(ValueError, match="overruns"):
        _mp4_video_stats(overrun)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    n_frames=st.integers(0, 10_000),
    width=st.integers(1, 8192),
    height=st.integers(1, 8192),
    codec=st.sampled_from([b"avc1", b"hev1", b"mp4v", b"vp09"]),
    timescale=st.integers(1, 120_000),
    duration=st.integers(0, 1 << 40),
    mdhd_v1=st.booleans(),
    largesize=st.booleans(),
    junk=st.binary(min_size=0, max_size=64),
)
def test_mp4_walk_round_trips_arbitrary_headers(
    n_frames, width, height, codec, timescale, duration, mdhd_v1, largesize, junk
):
    """Property: whatever header values the container carries, the walk
    reads them back exactly — including v1 64-bit mdhd durations,
    largesize moov boxes, and unknown boxes (junk 'free' payload)
    skipped without desync."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_video_stats,
    )

    if mdhd_v1 is False:
        duration %= 1 << 32  # v0 stores 32-bit durations
    payload = _make_mp4(
        n_frames=n_frames,
        width=width,
        height=height,
        codec=codec,
        timescale=timescale,
        duration=duration,
        mdhd_v1=mdhd_v1,
        largesize_moov=largesize,
    )
    # splice an unknown box between ftyp and moov — must be skipped
    (ftyp_len,) = struct.unpack_from(">I", payload, 0)
    payload = payload[:ftyp_len] + _box(b"free", junk) + payload[ftyp_len:]
    out = _mp4_video_stats(payload)
    assert out["n_frames"] == n_frames
    assert (out["width"], out["height"]) == (width, height)
    assert out["codec"] == codec.decode()
    assert out["duration_s"] == duration / timescale


def test_mp4_mjpeg_sample_layer_round_trip():
    """MJPEG samples resolve through the REAL sample tables (stsz
    per-sample sizes x stsc run expansion x stco offsets) and decode
    pixel-exact — single-chunk, per-sample chunks, and a multi-chunk
    layout with a trailing partial chunk."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        _mjpeg_frames_for_text,
        _mp4_mjpeg_container,
        _mp4_mjpeg_frames,
        decode_media,
    )

    raw = b"sample tables are the point of this test"
    frames = _mjpeg_frames_for_text(raw, 5)
    for spc in (0, 1, 2, 3):
        payload = _mp4_mjpeg_container(frames, samples_per_chunk=spc)
        got = _mp4_mjpeg_frames(payload)
        assert got == frames, f"samples_per_chunk={spc}"
    out = decode_media(_mp4_mjpeg_container(frames), "video/mp4")
    assert out["kind"] == "video" and out["n_frames"] == 5
    assert (out["width"], out["height"]) == (64, 8)
    assert out["codec"] == "jpeg"
    # block-constant contract: frame f block b == raw[(8f+b) % n]
    px = _jpeg_pixels(frames[3])
    assert (px[:, 2 * 8 : 3 * 8] == raw[(8 * 3 + 2) % len(raw)]).all()


def test_mp4_uniform_stsz_bounds_checked_before_allocation():
    """A hostile uniform-size stsz (sample_size=1, count=2^32-1) must
    raise BEFORE materializing the sizes list — the allocation alone
    would be ~34 GB and OOM the executor, violating the 'one poison
    blob must not kill a 100 TB pass' contract. A legitimate uniform
    stsz (all frames equal size) must still resolve samples exactly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mjpeg_frames_for_text,
        _mp4_mjpeg_container,
        _mp4_mjpeg_frames,
    )

    frames = _mjpeg_frames_for_text(b"uniform stsz coverage", 3)
    payload = _mp4_mjpeg_container(frames)
    idx = payload.index(b"stsz")
    # stsz body: version/flags(4) sample_size(4) sample_count(4)
    bomb = bytearray(payload)
    struct.pack_into(">II", bomb, idx + 8, 1, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="exceed file size"):
        _mp4_mjpeg_frames(bytes(bomb))
    # legitimate uniform sizes (Huffman makes multi-frame sizes vary, so
    # pin the branch with a single frame) still resolve exactly
    one = _mjpeg_frames_for_text(b"single frame", 1)
    payload = _mp4_mjpeg_container(one)
    idx = payload.index(b"stsz")
    legit = bytearray(payload)
    struct.pack_into(">I", legit, idx + 8, len(one[0]))
    assert _mp4_mjpeg_frames(bytes(legit)) == one


def test_mp4_non_jpeg_codec_quarantines_frame_access():
    """Frame access on an avc1 MP4 raises NotImplementedError (codec
    libs absent) while decode_media still returns container stats."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_mjpeg_frames,
        decode_media,
        video_frame_hashes,
    )

    payload = _make_mp4(codec=b"avc1", n_frames=9)
    with pytest.raises(NotImplementedError, match="avc1"):
        _mp4_mjpeg_frames(payload)
    out = decode_media(payload, "video/mp4")
    assert out["codec"] == "avc1" and out["n_frames"] == 9


def test_mixed_video_fixture_covers_all_three_containers(spark):
    """doc_id % 3 routes VID0 / AVI / MP4; the two MJPEG containers
    share the block-constant frame contract, so for the SAME text
    their frame hashes are identical — pinning that the MP4 sample
    walk and the AVI movi walk decode the same pixels."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_avi_mjpeg_from_text,
        synthesize_mixed_video_from_text,
        synthesize_mp4_mjpeg_from_text,
        video_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some entropy") for i in range(6)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_video_from_text(docs)
    mimes = {r.doc_id: r.mime for r in mixed.collect()}
    assert mimes[0] == "video/x-frames" and mimes[3] == "video/x-frames"
    assert mimes[1] == "video/x-msvideo" and mimes[2] == "video/mp4"
    rows = video_frame_hashes(mixed).collect()
    assert len(rows) == 6 * 6  # 6 docs x 6 frames, every container decodes

    one = spark.createDataFrame([(7, "same text same hashes")], "doc_id long, text string")
    avi_h = sorted(
        (r.frame_id, r.fhash)
        for r in video_frame_hashes(synthesize_avi_mjpeg_from_text(one, n_frames=4)).collect()
    )
    mp4_h = sorted(
        (r.frame_id, r.fhash)
        for r in video_frame_hashes(synthesize_mp4_mjpeg_from_text(one, n_frames=4)).collect()
    )
    assert avi_h == mp4_h


def test_mp4_corrupt_tables_raise_valueerror_not_struct_error():
    """Truncated fixed-layout boxes and lying table counts must raise
    ValueError (the uniform quarantine contract), never leak a raw
    struct.error through video_frame_hashes."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mjpeg_frames_for_text,
        _mp4_mjpeg_container,
        _mp4_mjpeg_frames,
        _mp4_video_stats,
    )

    good = _mp4_mjpeg_container(_mjpeg_frames_for_text(b"abc", 2))
    # truncate mid-moov: fixed-layout unpacks must surface as ValueError
    for cut in (len(good) - 6, len(good) - 20, len(good) // 2 + 3):
        try:
            _mp4_video_stats(good[:cut])
        except ValueError:
            pass  # expected family
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # stco count lying past its box must raise, not unpack garbage
    idx = good.rindex(b"stco")
    bad = bytearray(good)
    struct.pack_into(">I", bad, idx + 8, 1 << 20)
    with pytest.raises(ValueError, match="stco table truncated"):
        _mp4_mjpeg_frames(bytes(bad))
    # stsz count lying past its box likewise
    idx = good.rindex(b"stsz")
    bad = bytearray(good)
    struct.pack_into(">I", bad, idx + 12, 1 << 20)
    with pytest.raises(ValueError, match="stsz table truncated"):
        _mp4_mjpeg_frames(bytes(bad))


# --- AIFF (r8): big-endian twin of the WAV path ----------------------


def test_aiff_decodes_identical_to_wav_same_contract(spark):
    """The AIFF and WAV fixture payloads carry the SAME byte→sample
    contract, so decode stats, raw samples, and the energy hash must
    be identical — pinning that the big-endian IFF walk (COMM 80-bit
    extended-float rate, SSND offset header) reads what RIFF wrote."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aiff_payload,
        _pcm16_samples,
        _wav_payload,
        audio_energy_hash,
        decode_aiff,
        decode_media,
        decode_wav,
        synthesize_mixed_audio_from_text,
    )

    raw = "the same samples through two containers".encode()
    w, a = _wav_payload(raw), _aiff_payload(raw)
    dw, da = decode_wav(w), decode_aiff(a)
    for k in ("n_channels", "sample_rate", "n_frames", "duration_s", "rms", "peak"):
        assert dw[k] == da[k], k
    assert (_pcm16_samples(w) == _pcm16_samples(a)).all()
    assert decode_media(a, "audio/aiff")["kind"] == "audio"

    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in range(4)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_audio_from_text(docs)
    mimes = {r.doc_id: r.mime for r in mixed.collect()}
    assert mimes[0] == "audio/wav" and mimes[1] == "audio/aiff"
    hashes = {r.doc_id: r.ehash for r in audio_energy_hash(mixed).collect()}
    assert len(set(hashes.values())) == 1  # same text → same ehash, any container


def test_float_wav_decodes_to_int16_grid():
    """IEEE-float WAVs (fmt tag 3 — stdlib-rejected) expand to the
    int16 grid like the G.711/ADPCM arms: round(clip(v)·32767), one
    contract across stats, sampler, and fingerprint. The fixture
    builder ships byte k as k/32767 so every family sees exactly k."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _float_wav_payload,
        _pcm16_samples,
        _wav_payload,
        _wav_samples_f64,
        decode_media,
        decode_wav,
    )

    raw = "float WAVs: the DAW-export layout — ações".encode("utf-8")
    ref = decode_wav(_wav_payload(raw))
    for double in (False, True):
        p = _float_wav_payload(raw, double=double)
        d = decode_wav(p)
        for k in ("n_channels", "sample_rate", "n_frames", "rms", "peak"):
            assert d[k] == ref[k], (k, double)
        assert np.array_equal(
            _pcm16_samples(p), np.frombuffer(raw, np.uint8).astype(np.int16)
        )
        assert decode_media(p, "audio/wav")["kind"] == "audio"
    # out-of-range samples clip (every integer renderer's behavior);
    # non-finite raises (rounding NaN is undefined, rms poisoned)
    def tag3(vals, bits=32):
        body = np.array(vals, "<f4" if bits == 32 else "<f8").tobytes()
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000 * bits // 8, bits // 8, bits)
        out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"data" + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out

    s, _, _, nf = _wav_samples_f64(tag3([0.5, -2.0, 2.0]))
    assert s.tolist() == [16384.0, -32767.0, 32767.0] and nf == 3
    with pytest.raises(ValueError, match="non-finite"):
        _wav_samples_f64(tag3([0.1, float("nan")]))
    with pytest.raises(ValueError, match="non-finite"):
        _wav_samples_f64(tag3([float("inf")], bits=64))
    with pytest.raises(ValueError, match="32- or 64-bit"):
        _wav_samples_f64(tag3([0.0]) .replace(
            struct.pack("<HH", 4, 32), struct.pack("<HH", 4, 16), 1
        ))
    # ragged tail (consistent csz, non-frame-multiple data): whole
    # frames only, same rule as the G.711 arm; a truncated RIFF
    # (csz overruns) quarantines as corrupt instead
    body = np.array([0.1, 0.2], "<f4").tobytes() + b"\x99\x99"
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + body
    ragged = b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out
    assert _wav_samples_f64(ragged)[3] == 2
    with pytest.raises(ValueError, match="corrupt WAV"):
        _wav_samples_f64(tag3([0.1, 0.2, 0.3])[:-2])


def test_pcm32_wav_stats_native_fingerprint_exact_grid():
    """32-bit PCM WAVs: stats/sampler decode the native int32 domain
    (pinned like the 24-bit path); the fingerprint family accepts only
    samples already ON the int16 grid — downshifting would discard
    real bits, the same exactness rule that pins the 8/24-bit
    rejections. The fixture ships byte k as int32 k, satisfying both."""
    import wave as _wave

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        _pcm32_wav_payload,
        decode_wav,
    )

    raw = bytes(range(40))
    p = _pcm32_wav_payload(raw)
    d = decode_wav(p)
    assert d["n_frames"] == 40 and d["peak"] == 39.0
    assert np.array_equal(
        _pcm16_samples(p), np.frombuffer(raw, np.uint8).astype(np.int16)
    )
    # full-scale 32-bit: stats native, fingerprint quarantines
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(4)
        w.setframerate(8000)
        w.writeframes(np.array([1 << 20, -3], "<i4").tobytes())
    big = buf.getvalue()
    assert decode_wav(big)["peak"] == float(1 << 20)
    with pytest.raises(ValueError, match="exceed the int16 grid"):
        _pcm16_samples(big)


def test_audio_fixture_rotation_covers_new_wav_layouts(spark):
    """doc_id % 24 ∈ {0, 6, 12, 18} routes 16-bit PCM, float32,
    32-bit PCM, and float64 WAVs; all four decode to the identical
    byte→sample contract (same ehash), so the oracle gate holds
    unchanged while the driver exercises every RIFF layout."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        synthesize_mixed_audio_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in (0, 6, 12, 18)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_audio_from_text(docs).collect()
    assert {r.mime for r in mixed} == {"audio/wav"}
    payloads = {r.doc_id: bytes(r.payload) for r in mixed}
    # four genuinely different encodings of the same samples
    assert len({p[:40] for p in payloads.values()}) == 4
    tags = {i: struct.unpack_from("<H", p, 20)[0] for i, p in payloads.items()}
    # 12 (32-bit PCM) and 18 (float64) ship as WAVE_FORMAT_EXTENSIBLE
    # — the spec requires the extensible header for >16-bit audio
    assert tags == {0: 1, 6: 3, 12: 0xFFFE, 18: 0xFFFE}
    widths = {i: struct.unpack_from("<H", p, 34)[0] for i, p in payloads.items()}
    assert widths == {0: 16, 6: 32, 12: 32, 18: 64}
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row") for i in (0, 6, 12, 18)],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len({r.ehash for r in hashes}) == 1


def test_aifc_sowt_none_decode_and_quarantine(spark):
    """AIFC forms (the Mac-export shape): 'sowt' decodes little-endian
    PCM, 'NONE'/'twos' big-endian — all three identical to the AIFF
    byte contract; a real compressor ('ulaw') quarantines as
    NotImplementedError like the mp4a/AAC arm; a COMM too short for
    the compressionType field is corrupt. doc_id % 6 == 4 routes AIFC
    through the mixed fixture under the unchanged oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aifc_payload,
        _aiff_payload,
        _aiff_samples,
        _pcm16_samples,
        audio_energy_hash,
        decode_aiff,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    raw = "AIFC: the QuickTime byte-swap staple — ações".encode("utf-8")
    ref = decode_aiff(_aiff_payload(raw))
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    for comp in (b"sowt", b"NONE", b"twos", b"fl32", b"fl64"):
        p = _aifc_payload(raw, compression=comp)
        assert payload_is_aifc(p)
        d = decode_aiff(p)
        for k in ("n_channels", "sample_rate", "n_frames", "rms", "peak"):
            assert d[k] == ref[k], (k, comp)
        assert np.array_equal(_pcm16_samples(p), want)
        assert decode_media(p, "audio/aiff")["kind"] == "audio"
    # float AIFC hostile cases: size/type contradiction, non-finite
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _f80_encode,
    )

    pf = bytearray(_aifc_payload(raw, compression=b"fl32"))
    ci = bytes(pf).find(b"COMM") + 4 + 4
    struct.pack_into(">h", pf, ci + 6, 16)  # sampleSize 16 vs fl32
    with pytest.raises(ValueError, match="contradicts"):
        _aiff_samples(bytes(pf))
    pn = bytearray(_aifc_payload(b"ab", compression=b"fl32"))
    si = bytes(pn).find(b"SSND") + 8 + 8
    struct.pack_into(">f", pn, si, float("nan"))
    with pytest.raises(ValueError, match="non-finite"):
        _aiff_samples(bytes(pn))
    # 'sowt' and 'NONE' genuinely differ on the wire (byte order)
    assert _aifc_payload(raw, compression=b"sowt") != _aifc_payload(
        raw, compression=b"NONE"
    )
    # a codec with no decode arm quarantines ('ulaw'/'alaw' decode —
    # see test_aifc_g711_decode)
    with pytest.raises(NotImplementedError, match="MAC3"):
        _aiff_samples(_aifc_payload(raw, compression=b"MAC3"))
    # AIFC COMM without room for the compressionType is corrupt
    trunc = bytearray(_aifc_payload(raw, compression=b"NONE"))
    ci = bytes(trunc).find(b"COMM")
    struct.pack_into(">I", trunc, ci + 4, 18)
    # shrink: drop the 6 trailing COMM bytes so the next chunk aligns
    del trunc[ci + 8 + 18 : ci + 8 + 24]
    struct.pack_into(">I", trunc, 4, len(trunc) - 8)
    with pytest.raises(ValueError, match="COMM chunk truncated"):
        _aiff_samples(bytes(trunc))
    # fixture rotation: 1 = AIFF, 4 = AIFC sowt, 10 = AIFC NONE,
    # 22 = AIFC fl32 — same text, same ehash, four container variants
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in (1, 4, 10, 22)],
        "doc_id long, text string",
    )
    rows = synthesize_mixed_audio_from_text(docs).collect()
    assert {r.mime for r in rows} == {"audio/aiff"}
    forms = {r.doc_id: bytes(r.payload)[8:12] for r in rows}
    assert forms == {1: b"AIFF", 4: b"AIFC", 10: b"AIFC", 22: b"AIFC"}
    comps = {
        r.doc_id: bytes(r.payload)[
            bytes(r.payload).find(b"COMM") + 26 : bytes(r.payload).find(b"COMM") + 30
        ]
        for r in rows
        if bytes(r.payload)[8:12] == b"AIFC"
    }
    assert comps == {4: b"sowt", 10: b"NONE", 22: b"fl32"}
    hashes = audio_energy_hash(synthesize_mixed_audio_from_text(docs)).collect()
    assert len({r.ehash for r in hashes}) == 1


def payload_is_aifc(p: bytes) -> bool:
    return p[:4] == b"FORM" and p[8:12] == b"AIFC"


def test_wave_format_extensible_unwraps_every_subformat():
    """WAVE_FORMAT_EXTENSIBLE (0xFFFE — the modern Windows default,
    REQUIRED for >16-bit audio; the stdlib module rejects it outright)
    unwraps via the KSDATAFORMAT SubFormat GUID to PCM, IEEE float
    and G.711, hitting the same decode arms as the classic tags; a
    foreign GUID stays 0xFFFE and quarantines."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        _riff_wrap,
        _wav_payload,
        _wave_ext_fmt,
        decode_wav,
    )

    raw = "extensible wrappers everywhere".encode()
    k = np.frombuffer(raw, np.uint8).astype(np.int16)
    ref = decode_wav(_wav_payload(raw))

    # 16-bit PCM wrapped extensible == classic 16-bit contract
    p16 = _riff_wrap(_wave_ext_fmt(1, 1, 8000, 16), k.astype("<i2").tobytes())
    d = decode_wav(p16)
    for key in ("n_channels", "sample_rate", "n_frames", "rms", "peak"):
        assert d[key] == ref[key], key
    assert np.array_equal(_pcm16_samples(p16), k)
    # float32 wrapped extensible == tag-3 contract
    pf = _riff_wrap(
        _wave_ext_fmt(3, 1, 8000, 32),
        (k.astype(np.float64) / 32767.0).astype("<f4").tobytes(),
    )
    assert decode_wav(pf)["rms"] == ref["rms"]
    assert np.array_equal(_pcm16_samples(pf), k)
    # µ-law wrapped extensible routes through the G.711 table
    pu = _riff_wrap(_wave_ext_fmt(7, 1, 8000, 8), bytes(raw))
    assert decode_wav(pu)["n_frames"] == len(raw)
    # foreign GUID: stays 0xFFFE, quarantines as corrupt/unsupported
    alien = bytearray(_riff_wrap(_wave_ext_fmt(1, 1, 8000, 16), b"\x00\x00"))
    gi = bytes(alien).find(b"fmt ") + 8 + 24 + 2  # GUID suffix start
    alien[gi] ^= 0xFF
    with pytest.raises(ValueError):
        decode_wav(bytes(alien))
    # truncated extension (cbSize lies): falls back to raw 0xFFFE
    short = bytearray(_riff_wrap(_wave_ext_fmt(1, 1, 8000, 16), b"\x00\x00"))
    si = bytes(short).find(b"fmt ") + 8 + 16
    struct.pack_into("<H", short, si, 4)
    with pytest.raises(ValueError):
        decode_wav(bytes(short))


def test_encode_png_round_trips_full_ihdr_matrix():
    """encode_png (r10) is the encoder twin of the full PNG decode
    matrix: color types 0/2/3/4/6, every legal depth, straight and
    Adam7 — decoded pixels must match the decoder's pinned expansion
    rules exactly (sub-byte scale factors, v·255/65535 for 16-bit,
    palette lookup, alpha dropped). Adaptive filtering must actually
    engage: a gradient image should use a non-None filter somewhere."""
    import zlib

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_pixels,
        encode_png,
    )

    rng = np.random.RandomState(11)

    def gray3(g):
        return np.repeat(np.asarray(g, np.uint8)[:, :, None], 3, axis=2)

    for h, w in ((1, 1), (3, 5), (8, 8), (13, 7)):
        for interlace in (False, True):
            # grayscale depths
            for depth in (1, 2, 4, 8, 16):
                maxv = (1 << depth) - 1
                g = rng.randint(0, maxv + 1, (h, w))
                p = encode_png(g, depth=depth, interlace=interlace)
                got = _png_pixels(p)
                if depth == 16:
                    want = gray3((g * 255 + 32767) // 65535)
                elif depth < 8:
                    want = gray3(g * (255 // maxv))
                else:
                    want = gray3(g)
                assert np.array_equal(got, want), ("gray", depth, h, w, interlace)
            # RGB / RGBA / gray+alpha at 8 and 16
            for ch in (2, 3, 4):
                for depth in (8, 16):
                    maxv = (1 << depth) - 1
                    a = rng.randint(0, maxv + 1, (h, w, ch))
                    p = encode_png(a, depth=depth, interlace=interlace)
                    got = _png_pixels(p)
                    scaled = (
                        (a * 255 + 32767) // 65535 if depth == 16 else a
                    ).astype(np.uint8)
                    if ch == 2:
                        want = gray3(scaled[:, :, 0])
                    elif ch == 3:
                        want = scaled
                    else:
                        want = scaled[:, :, :3]
                    assert np.array_equal(got, want), (ch, depth, h, w, interlace)
            # palette at sub-byte and byte depths
            for depth in (1, 2, 4, 8):
                pal = [
                    (int(r), int(g_), int(b))
                    for r, g_, b in rng.randint(0, 256, (1 << depth, 3))
                ][: min(256, 1 << depth)]
                idx = rng.randint(0, len(pal), (h, w))
                p = encode_png(idx, depth=depth, interlace=interlace, palette=pal)
                got = _png_pixels(p)
                want = np.asarray(pal, np.uint8)[idx]
                assert np.array_equal(got, want), ("palette", depth, h, w, interlace)
    # adaptive filtering engages on gradients (not everything filter 0)
    grad = np.add.outer(np.arange(16), np.arange(16) * 3)[:, :, None] % 256
    p = encode_png(np.repeat(grad, 3, axis=2).astype(np.uint8))
    # parse the single IDAT and look at the per-row filter bytes
    pos = 8
    raw = b""
    while pos + 8 <= len(p):
        (ln,) = struct.unpack_from(">I", p, pos)
        if p[pos + 4 : pos + 8] == b"IDAT":
            raw += p[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    rows = zlib.decompress(raw)
    stride = 16 * 3 + 1
    filters = {rows[y * stride] for y in range(16)}
    assert filters - {0}, "gradient rows should pick a differencing filter"
    # contract violations raise
    with pytest.raises(ValueError, match="depth"):
        encode_png(np.zeros((4, 4, 3)), depth=4)
    with pytest.raises(ValueError, match="non-integral"):
        encode_png(np.full((4, 4), 2.5))
    with pytest.raises(ValueError, match=r"outside \[0, 3\]"):
        encode_png(np.full((4, 4), 9), depth=2)
    with pytest.raises(ValueError, match="palette size"):
        encode_png(np.zeros((2, 2), np.uint8), depth=1, palette=[(0, 0, 0)] * 3)
    # uint8 inputs must STILL honor a smaller grid (r10 encoder fuzz:
    # the uint8 short-circuit in _check_pixels bypassed maxval=3)
    with pytest.raises(ValueError, match=r"outside \[0, 3\]"):
        encode_png(
            np.full((4, 4), 200, np.uint8), palette=[(0, 0, 0)] * 4
        )
    with pytest.raises(ValueError, match=r"outside \[0, 3\]"):
        encode_png(np.full((4, 4), 200, np.uint8), depth=2)
    with pytest.raises(ValueError, match="non-empty"):
        encode_png(np.zeros((0, 4), np.uint8))


def test_png_fixture_rotation_routes_encoder_and_adam7(spark):
    """doc_id % 2 == 1 routes the PNG fixture through encode_png
    (adaptive filters; Adam7 at % 6 == 3); decoded pixels — and thus
    every oracle — are identical to the filter-cycling synthesizer's."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_pixels,
        synthesize_png_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in (0, 1, 3)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload) for r in synthesize_png_from_text(docs).collect()}
    assert len({rows[0], rows[1], rows[3]}) == 3  # three distinct encodings
    # interlace flag: IHDR byte 28 (8 magic + 8 len/type + 12 fields)
    assert rows[0][28] == 0 and rows[1][28] == 0 and rows[3][28] == 1
    px0 = _png_pixels(rows[0])
    assert np.array_equal(_png_pixels(rows[1]), px0)
    assert np.array_equal(_png_pixels(rows[3]), px0)


def test_avi_metadata_triage_for_non_mjpeg_codecs(spark):
    """decode_avi routes by the hdrl headers like the MP4 arm: MJPEG
    decodes frames for real; an XVID stream returns header stats
    (codec, dims, declared frames) instead of quarantining; hostile
    headers raise; decode_features rows stay schema-shaped."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_mjpeg_container,
        _avi_video_header,
        _mjpeg_frames_for_text,
        decode_avi,
        decode_avi_mjpeg,
        decode_features,
        decode_media,
    )

    avi = _avi_mjpeg_container(_mjpeg_frames_for_text(b"header triage", 3))
    trk = _avi_video_header(avi)
    assert trk["codec"] == "mjpg" and trk["n_frames"] == 3
    assert trk["width"] == 64 and trk["height"] == 8 and trk["fps"] == 10.0
    assert decode_avi(avi) == decode_avi_mjpeg(avi)
    # non-MJPEG: patch the handler AND biCompression to XVID
    xvid = bytearray(avi)
    hi = bytes(xvid).find(b"strh") + 8 + 4
    xvid[hi : hi + 4] = b"XVID"
    fi = bytes(xvid).find(b"strf") + 8 + 16
    xvid[fi : fi + 4] = b"XVID"
    d = decode_avi(bytes(xvid))
    assert d == {
        "kind": "video", "codec": "xvid", "n_frames": 3,
        "width": 64, "height": 8, "duration_s": 0.3,
    }
    assert decode_media(bytes(xvid), "video/avi")["codec"] == "xvid"
    # a degenerate strl (no strh) before the video strl is skipped,
    # not fatal (r10 review): inject `LIST(strl, strn-only)` in hdrl
    strn = b"strn" + struct.pack("<I", 4) + b"nom\x00"
    extra = b"LIST" + struct.pack("<I", 4 + len(strn)) + b"strl" + strn
    padded = bytearray(avi)
    hl = bytes(padded).find(b"hdrl")
    ins = hl + 4 + 14 * 4 + 8  # after the avih chunk inside hdrl
    padded[ins:ins] = extra
    struct.pack_into("<I", padded, hl - 4, struct.unpack_from("<I", padded, hl - 4)[0] + len(extra))
    struct.pack_into("<I", padded, 4, len(padded) - 8)
    assert _avi_video_header(bytes(padded))["codec"] == "mjpg"
    # an AVI whose only stream is 'auds' has no video to decode
    auds = bytearray(avi)
    ai = bytes(auds).find(b"strh") + 8
    auds[ai : ai + 4] = b"auds"
    with pytest.raises(ValueError, match="no video stream"):
        decode_avi(bytes(auds))
    # truncated strh quarantines
    short = bytearray(avi)
    si = bytes(short).find(b"strh") + 4
    struct.pack_into("<I", short, si, 8)
    with pytest.raises(ValueError):
        _avi_video_header(bytes(short))
    # decode_features: xvid row is ok=True with null means
    df = spark.createDataFrame(
        [(1, bytearray(avi), "video/avi"), (2, bytes(xvid), "video/avi")],
        "doc_id long, payload binary, mime string",
    )
    got = {r.doc_id: r for r in decode_features(df).collect()}
    assert got[1].ok and got[1].n_frames == 3 and got[1].mean_r is not None
    assert got[2].ok and got[2].codec == "xvid" and got[2].mean_r is None


def test_flac_24bit_round_trips_and_fingerprint_gate():
    """24-bit FLAC (r10, the hi-res staple): STREAMINFO bps 24, frame
    sample-size code 0b110, side channels at 25 bits — exact int32
    round trips across all stereo modes; stats decode natively; the
    fingerprint family rejects it (int16-grid exactness rule, like
    the 24/32-bit WAV arms)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        _pcm16_samples,
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(29)
    s = rng.randint(-(1 << 23), 1 << 23, 5000)
    p = encode_flac(s, 44100, bits=24)
    got, rate, nch = _flac_samples(p)
    assert got.dtype == np.int32 and rate == 44100 and nch == 1
    assert np.array_equal(got.astype(np.int64), s)
    d = decode_flac(p)
    assert d["n_frames"] == 5000 and d["peak"] == float(np.abs(s).max())
    with pytest.raises(ValueError, match="sample width"):
        _pcm16_samples(p)
    # all four stereo assignments at 24 bits (25-bit side channel)
    st = rng.randint(-(1 << 23), 1 << 23, (3000, 2))
    for mode in ("independent", "left_side", "side_right", "mid_side"):
        q = encode_flac(st, 48000, bits=24, stereo_mode=mode)
        g, _, n2 = _flac_samples(q)
        assert n2 == 2 and np.array_equal(g.reshape(-1, 2).astype(np.int64), st), mode
    # contract: range and depth validation
    with pytest.raises(ValueError, match="24-bit range"):
        encode_flac(np.array([1 << 23]), bits=24)
    # 20-bit became a real width late-r11; 17 has no sample-size code
    with pytest.raises(ValueError, match="bit depth"):
        encode_flac(np.zeros(4, np.int16), bits=17)
    # a 24-bit stream whose frame claims 16-bit (code mismatch) raises
    bad = bytearray(p)
    # frame header starts after the metadata blocks; find the sync
    fi = 4
    while not (bad[fi] == 0xFF and (bad[fi + 1] & 0xFC) == 0xF8):
        (ln,) = struct.unpack(">I", b"\x00" + bytes(bad[fi + 1 : fi + 4]))
        last = bad[fi] & 0x80
        fi += 4 + ln
        if last:
            break
    hdr3 = bad[fi + 3]
    bad[fi + 3] = (hdr3 & ~0x0E) | (0b100 << 1)  # sample-size code -> 16
    with pytest.raises(ValueError):
        _flac_samples(bytes(bad))


def test_decode_features_survives_mp3_rows(spark):
    """audio/mpeg docs through decode_features — a run of well-formed
    MPEG-1 Layer III frame headers and bare garbage alike — must each
    quarantine by name as one row, and never fail the Arrow batch the
    neighbouring WAV doc decodes in."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _wav_payload,
        decode_features,
    )

    # 128 kbit/s, 44.1 kHz, no padding: 144 * 128000 // 44100 = 417 bytes
    frame = b"\xff\xfb\x90\x00" + bytes(417 - 4)
    rows = [
        (1, bytearray(_wav_payload(b"abc")), "audio/wav"),
        (2, bytearray(frame * 3), "audio/mpeg"),
        (3, bytearray(b"\x00garbage"), "audio/mpeg"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    got = {r.doc_id: r for r in decode_features(df).collect()}
    assert len(got) == 3  # quarantine, not row loss
    assert got[1].ok and got[1].n_frames == 3
    for i in (2, 3):
        assert not got[i].ok and got[i].mime == "audio/mpeg"
        assert "NotImplementedError" in got[i].err and "'audio/mpeg'" in got[i].err


def test_aiff_integer_width_matrix():
    """AIFF integer widths beyond 16-bit (r10, WAV-matrix parity):
    signed 8-bit decodes verbatim onto the int16 grid (fingerprint
    accepts — no conversion choice exists, unlike WAV's unsigned 8);
    24-bit assembles big-endian with sign extension and 32-bit reads
    natively, both int32 with native-domain stats and fingerprint
    rejection (the exactness rule)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aiff_samples,
        _f80_encode,
        _pcm16_samples,
        decode_aiff,
    )

    def aiff(body: bytes, n_frames: int, samp_size: int) -> bytes:
        comm = (
            b"COMM"
            + struct.pack(">IhIh", 18, 1, n_frames, samp_size)
            + _f80_encode(8000)
        )
        ssnd_body = struct.pack(">II", 0, 0) + body
        ssnd = b"SSND" + struct.pack(">I", len(ssnd_body)) + ssnd_body
        if len(ssnd_body) & 1:
            ssnd += b"\x00"
        form = b"AIFF" + comm + ssnd
        return b"FORM" + struct.pack(">I", len(form)) + form

    vals = [0, 1, -1, 100, -100, 127, -128]
    p8 = aiff(np.array(vals, np.int8).tobytes(), len(vals), 8)
    s8, rate, nch = _aiff_samples(p8)
    assert s8.dtype == np.int16 and s8.tolist() == vals
    assert np.array_equal(_pcm16_samples(p8), np.array(vals, np.int16))
    assert decode_aiff(p8)["peak"] == 128.0

    v24 = [0, 1, -1, (1 << 23) - 1, -(1 << 23), 123456, -654321]
    body24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "big") for v in v24)
    p24 = aiff(body24, len(v24), 24)
    s24, _, _ = _aiff_samples(p24)
    assert s24.dtype == np.int32 and s24.tolist() == v24
    assert decode_aiff(p24)["peak"] == float(1 << 23)
    with pytest.raises(ValueError, match="sample width"):
        _pcm16_samples(p24)

    v32 = [0, 1, -1, (1 << 31) - 1, -(1 << 31), 42]
    p32 = aiff(np.array(v32, ">i4").tobytes(), len(v32), 32)
    s32, _, _ = _aiff_samples(p32)
    assert s32.dtype == np.int32 and s32.tolist() == v32
    with pytest.raises(ValueError, match="sample width"):
        _pcm16_samples(p32)
    # unsupported width still raises
    with pytest.raises(ValueError, match="sample size"):
        _aiff_samples(aiff(b"\x00\x00", 1, 12))


def test_f80_extended_float_round_trip():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _f80_decode,
        _f80_encode,
    )

    for r in (1, 2, 3, 8000, 11025, 22050, 44100, 48000, 96000, 192000, (1 << 40) + 7):
        assert _f80_decode(_f80_encode(r)) == float(r), r
    with pytest.raises(ValueError):
        _f80_encode(0)


def test_aiff_corrupt_payloads_quarantine():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aiff_payload,
        _aiff_samples,
    )

    with pytest.raises(ValueError, match="not an AIFF"):
        _aiff_samples(b"RIFFxxxxWAVE")
    good = _aiff_payload(b"abcdef")
    # COMM frame count lying past SSND must raise, not read garbage
    idx = good.index(b"COMM")
    bad = bytearray(good)
    struct.pack_into(">I", bad, idx + 10, 1 << 20)
    with pytest.raises(ValueError, match="truncated"):
        _aiff_samples(bytes(bad))
    # a chunk size overrunning the FORM must raise
    idx = good.index(b"SSND")
    bad = bytearray(good)
    struct.pack_into(">I", bad, idx + 4, 1 << 20)
    with pytest.raises(ValueError, match="overruns"):
        _aiff_samples(bytes(bad))
    # numChannels is a SIGNED short: negative would make the frombuffer
    # count negative (= read-to-end garbage with ok=True), zero would
    # yield ok=True zero-stats — both must quarantine instead
    idx = good.index(b"COMM")
    for n_ch in (-1, 0):
        bad = bytearray(good)
        struct.pack_into(">h", bad, idx + 8, n_ch)
        with pytest.raises(ValueError, match="channel count"):
            _aiff_samples(bytes(bad))
    # a corrupt 80-bit rate with a float64-overflowing exponent must
    # quarantine as ValueError, not leak OverflowError (fuzz finding)
    bad = bytearray(good)
    struct.pack_into(">H", bad, idx + 16, 0x7FFE)
    with pytest.raises(ValueError, match="exponent out of range"):
        _aiff_samples(bytes(bad))
    # boundary case: exp == 1023 with a near-2.0 mantissa still reaches
    # float inf — int(round(inf)) would leak OverflowError downstream
    bad = bytearray(good)
    struct.pack_into(">HQ", bad, idx + 16, 16383 + 1023, 0xFFFFFFFFFFFFFFFF)
    with pytest.raises(ValueError, match="out of range"):
        _aiff_samples(bytes(bad))


# --- GIF (r8): real LZW, third compression family ---------------------


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ncol=st.integers(1, 256),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_lzw_round_trip_property(h, w, ncol, interlace, seed):
    """Any palette-sized image round-trips exactly through the real
    LZW encoder/decoder, interlaced or not."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        encode_gif,
    )

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
    px = pal[rng.randint(0, ncol, (h, w))]
    assert (_gif_pixels(encode_gif(px, interlace=interlace)) == px).all()


def test_gif_dictionary_reset_and_overflow():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        encode_gif,
    )

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    big = pal[rng.randint(0, 256, (128, 128))]  # forces >4096 LZW entries
    assert (_gif_pixels(encode_gif(big)) == big).all()
    i = np.arange(300)
    too_many = np.stack([i % 256, i // 256, np.zeros_like(i)], axis=1)
    with pytest.raises(ValueError, match="palette overflow"):
        encode_gif(too_many.reshape(10, 30, 3).astype(np.uint8))


def test_gif_corrupt_payloads_quarantine():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        encode_gif,
    )

    with pytest.raises(ValueError, match="not a GIF"):
        _gif_pixels(b"JIF89a" + bytes(32))
    good = encode_gif(np.full((4, 4, 3), 7, dtype=np.uint8))
    with pytest.raises(ValueError):
        _gif_pixels(good[: len(good) // 2])
    # truncated LZW stream inside intact framing
    bad = bytearray(good)
    # zero out the sub-block data so the stream ends before w*h pixels
    with pytest.raises(ValueError):
        _gif_pixels(bytes(bad[:-10]) + b"\x00\x3b")
    # a mutated LZW minimum-code-size byte sizes the initial table as
    # 1 << min_code — 0xF9 would try to build a 2^249-entry list
    # before any data is read (fuzz finding); spec range is 2..8
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_lzw_decode,
    )

    for bad_mc in (0, 1, 9, 0xF9):
        with pytest.raises(ValueError, match="minimum code size"):
            _gif_lzw_decode(b"\x4c\x01", bad_mc, 16)


def test_image_header_bombs_are_bounded_before_allocation():
    """Lying size headers must raise BEFORE materializing output: a GIF
    or JPEG claiming 65535x65535 around a few hundred real bytes, and a
    PNG whose zlib stream inflates far past its IHDR claim, would
    otherwise allocate tens of GB ahead of any per-pixel check —
    violating the poison-blob contract the MP4 stsz fix pinned."""
    import zlib

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        _jpeg_pixels,
        _png_pixels,
        encode_jpeg,
    )

    # GIF: huge descriptor, 2-entry palette, 2-byte LZW stream
    hdr = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80, 0, 0) + bytes(6)
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
    lzw = bytes([2, 2, 0x4C, 0x01, 0]) + b"\x3b"
    with pytest.raises(ValueError, match="exceed"):
        _gif_pixels(hdr + desc + lzw)

    # JPEG: patch the SOF dims of a real tiny stream to 65535x65535
    good = encode_jpeg(np.full((8, 8, 3), 99, dtype=np.uint8))
    idx = good.index(b"\xff\xc0")
    bomb = bytearray(good)
    struct.pack_into(">HH", bomb, idx + 5, 65535, 65535)
    with pytest.raises(ValueError, match="exceed"):
        _jpeg_pixels(bytes(bomb))

    # PNG #1: IHDR claims dims no compressed byte count could back —
    # since r9 the ABSOLUTE pixel cap fires first for 900M pixels
    big_dims = bytearray(make_png(np.zeros((2, 2, 3), dtype=np.uint8)))
    struct.pack_into(">II", big_dims, 16, 30000, 30000)
    with pytest.raises(ValueError, match="size mismatch|decode cap"):
        _png_pixels(bytes(big_dims))

    # PNG #2: a real 50 MB zlib bomb behind an IHDR claiming 10 MB —
    # the bounded decompress must stop at the claim, not inflate it all
    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    comp = zlib.compress(bytes(50_000_000))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 333, 10000, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", comp)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        _png_pixels(png)

    # JPEG absolute cap: a big-enough payload satisfies the stream-bit
    # bound for huge SOF dims, but the int64 coefficient state would
    # still be ~100 GB — the block-count ceiling must refuse it
    padded = bytearray(good + bytes(3_000_000))
    struct.pack_into(">HH", padded, idx + 5, 20000, 20000)
    with pytest.raises(ValueError, match="exceed"):
        _jpeg_pixels(bytes(padded))

    # the bounded PNG decompress must keep zlib.decompress's stream
    # integrity: a deflate stream truncated at its adler32 trailer
    # otherwise returns full output with no error
    px2 = np.zeros((2, 2, 3), dtype=np.uint8)
    ok_png = make_png(px2)
    i = ok_png.index(b"IDAT") - 4
    (idat_len,) = struct.unpack_from(">I", ok_png, i)
    body = ok_png[i + 8 : i + 8 + idat_len][:-4]  # drop the adler32
    cut = (
        ok_png[: i]
        + struct.pack(">I", len(body))
        + b"IDAT"
        + body
        + struct.pack(">I", zlib.crc32(b"IDAT" + body))
        + ok_png[i + 12 + idat_len :]
    )
    with pytest.raises(ValueError, match="size mismatch"):
        _png_pixels(cut)


def test_mixed_image_fixture_same_pixels_both_containers(spark):
    """BMP, GIF, and PNG arms decode to IDENTICAL RGB pixels for the
    same text, so ahash values (and the near-dup join's key entropy)
    are container-independent."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "one text shared by every doc") for i in range(6)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_image_from_text(docs)
    mimes = {r.doc_id: r.mime for r in mixed.collect()}
    assert mimes[0] == "image/bmp" and mimes[1] == "image/gif"
    assert mimes[2] == "image/png" and mimes[5] == "image/png"
    hashes = {r.doc_id: r.ahash for r in image_ahash(mixed).collect()}
    assert len(hashes) == 6 and len(set(hashes.values())) == 1


def test_fixture_synthesizers_emit_only_kept_containers(spark):
    """Over doc_id 0-191 (every sub-rotation period) the four
    multi-container synthesizers emit exactly one container per slot:
    WAV/AIFF/FLAC, BMP/GIF/PNG, baseline JPEG, VID0/AVI/MP4."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_jpeg_from_text,
        synthesize_mixed_audio_from_text,
        synthesize_mixed_image_from_text,
        synthesize_mixed_video_from_text,
    )

    docs = spark.createDataFrame(
        [(i, f"fixture text {i}") for i in range(192)], "doc_id long, text string"
    )
    expected = {
        synthesize_mixed_audio_from_text: {"audio/wav", "audio/aiff", "audio/flac"},
        synthesize_mixed_image_from_text: {"image/bmp", "image/gif", "image/png"},
        synthesize_jpeg_from_text: {"image/jpeg"},
        synthesize_mixed_video_from_text: {
            "video/x-frames", "video/x-msvideo", "video/mp4",
        },
    }
    for synth, mimes in expected.items():
        rows = synth(docs).collect()
        assert len(rows) == 192
        assert {r.mime for r in rows} == mimes, synth.__name__
    # every JPEG is baseline: its first (and only) SOF marker is SOF0
    for r in synthesize_jpeg_from_text(docs).collect():
        sofs = [m for m in (b"\xff\xc0", b"\xff\xc2", b"\xff\xc3") if m in bytes(r.payload)]
        assert sofs == [b"\xff\xc0"], r.doc_id


# --- FLAC (r8): rice + fixed predictors, fourth compression family ----


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 6000),
    kind=st.sampled_from(["random", "bytes", "ramp", "constant", "steps"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_round_trip_property(n, kind, seed):
    """Any 16-bit mono signal round-trips exactly — multi-frame
    streams, partial final frames, every FIXED order the encoder
    chooses, rice and raw-escape residual paths."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(seed)
    if kind == "random":
        s = rng.randint(-32768, 32768, n)
    elif kind == "bytes":
        s = rng.randint(0, 256, n)
    elif kind == "ramp":
        s = np.arange(n) % 5000
    elif kind == "constant":
        s = np.full(n, int(rng.randint(-32768, 32768)))
    else:
        s = (np.arange(n) // 97) * 31 % 20000
    s = s.astype(np.int16)
    got, rate, nch = _flac_samples(encode_flac(s, rate=8000))
    assert rate == 8000 and nch == 1
    assert np.array_equal(got, s)


def test_flac_compresses_predictable_signals():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import encode_flac

    ramp = (np.arange(8192) % 4096).astype(np.int16)
    assert len(encode_flac(ramp)) < 2 * len(ramp) / 4  # ≥4× vs raw PCM


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 6000),
    freq=st.floats(0.001, 0.45),
    amp=st.integers(1, 20000),
    order=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_lpc_round_trip_property(n, freq, amp, order, seed):
    """LPC subframes round-trip exactly at any order 1-12 — sinusoids
    (whose 2cos(w) recurrence FIXED's integer coefficients can't
    express), noise, and noisy tones; rice and raw-escape residuals."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(seed)
    tone = amp * np.cos(2 * np.pi * freq * np.arange(n))
    noise = rng.randint(-500, 501, n)
    s = np.clip(tone + noise, -32768, 32767).astype(np.int16)
    got, rate, nch = _flac_samples(encode_flac(s, lpc_order=order))
    assert rate == 8000 and nch == 1
    assert np.array_equal(got, s)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 6000),
    split=st.floats(0.1, 0.9),
    loud=st.integers(100, 30000),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_partitioned_rice_round_trip(n, split, loud, seed):
    """Nonstationary frames (quiet half, loud half) push the encoder to
    partition orders > 0 — per-partition rice params are the format's
    main compression lever, and this exercises the decoder's
    partitioned-residual path through real streams."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(seed)
    cut = int(n * split)
    s = np.concatenate(
        [rng.randint(-5, 6, cut), rng.randint(-loud, loud + 1, n - cut)]
    ).astype(np.int16)
    got, _, _ = _flac_samples(encode_flac(s))
    assert np.array_equal(got, s)


def test_flac_total_samples_zero_means_unknown():
    """STREAMINFO total_samples=0 means 'unknown' per the spec (live /
    pipe encoders can't know it up front) — the decoder must walk
    frames to end-of-payload, not return an empty ok=True stream."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        decode_flac,
        encode_flac,
    )

    s = ((np.arange(700) * 13) % 3000 - 1500).astype(np.int16)
    payload = bytearray(encode_flac(s, rate=8000))
    # STREAMINFO body starts at 8 (fLaC + 4-byte block header); the
    # 36-bit total_samples field spans the low nibble of body[13] and
    # body[14:18]
    body = 8
    payload[body + 13] &= 0xF0
    payload[body + 14 : body + 18] = b"\x00\x00\x00\x00"
    got, rate, nch = _flac_samples(bytes(payload))
    assert rate == 8000 and nch == 1
    assert np.array_equal(got, s)
    out = decode_flac(bytes(payload))
    assert out["n_frames"] == len(s) and out["duration_s"] > 0


def test_flac_partitioning_compresses_nonstationary():
    """On a quiet|loud frame the partitioned stream is measurably
    smaller than the same encoder pinned to one partition — and both
    round-trip exactly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(11)
    s = np.concatenate(
        [rng.randint(-3, 4, 2048), rng.randint(-2000, 2001, 2048)]
    ).astype(np.int16)
    multi = encode_flac(s, lpc_order=None)
    single = encode_flac(s, lpc_order=None, max_porder=0)
    assert len(multi) < 0.85 * len(single)
    for payload in (multi, single):
        got, _, _ = _flac_samples(payload)
        assert np.array_equal(got, s)


def test_flac_lpc_wins_on_sinusoids():
    """Cost competition picks LPC where it genuinely compresses better:
    a pure tone obeys s[i] = 2cos(w)s[i-1] - s[i-2] with a fractional
    coefficient, so quantized LPC residuals are tiny while the best
    FIXED predictor leaves O(amplitude) residuals."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    n = 8192
    s = (12000 * np.sin(2 * np.pi * 0.01 * np.arange(n))).astype(np.int16)
    with_lpc = encode_flac(s)
    fixed_only = encode_flac(s, lpc_order=None)
    assert len(with_lpc) < len(fixed_only)  # LPC was chosen AND pays
    got, _, _ = _flac_samples(with_lpc)
    assert np.array_equal(got, s)


def test_flac_lpc_subframe_actually_emitted():
    """The winning stream really contains an LPC subframe type (0b1xxxxx),
    not a FIXED one that happened to shrink — checked by decoding the
    subframe-type field of the first frame."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _BitReader,
        encode_flac,
    )

    n = 4096
    s = (12000 * np.sin(2 * np.pi * 0.01 * np.arange(n))).astype(np.int16)
    payload = encode_flac(s)
    # walk metadata blocks to the first frame
    pos = 4
    while True:
        header = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4 + length
        if header & 0x80:
            break
    r = _BitReader(payload, pos)
    assert r.read(14) == 0x3FFE
    r.read(2 + 4 + 4 + 4 + 3 + 1)  # codes through reserved bit
    r.read(8)  # frame number (single byte for frame 0)
    r.read(8)  # header crc8
    assert r.read(1) == 0
    sf_type = r.read(6)
    assert 32 <= sf_type <= 63  # LPC, order = sf_type - 31


def test_flac_lpc_header_corruption_detected():
    """A flipped bit in the LPC subframe header (precision/shift/coef
    region) is caught — by field validation or the frame CRC-16."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    n = 4096
    s = (12000 * np.sin(2 * np.pi * 0.01 * np.arange(n))).astype(np.int16)
    payload = bytearray(encode_flac(s))
    # corrupting any bit of the LPC header trips the frame CRC-16 —
    # the integrity check that guards precision/shift/coef fields
    pos = 4
    while True:
        header = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4 + length
        if header & 0x80:
            break
    payload[pos + 8] ^= 0x04  # inside the subframe header region
    with pytest.raises(ValueError):
        _flac_samples(bytes(payload))


def test_flac_crc_and_corruption_detection():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(3)
    good = encode_flac(rng.randint(0, 256, 500).astype(np.int16))
    with pytest.raises(ValueError, match="not a FLAC"):
        _flac_samples(b"fLaX" + good[4:])
    bad = bytearray(good)
    bad[-3] ^= 0x10  # flip a residual bit in the last frame
    with pytest.raises(ValueError):
        _flac_samples(bytes(bad))
    with pytest.raises(ValueError):
        _flac_samples(good[: len(good) - 5])  # truncated


def test_flac_in_mixed_audio_fixture(spark):
    """doc_id % 3 == 2 rows are FLAC; identical samples → identical
    energy hash across all three containers."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "one text for every container kind") for i in range(6)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_audio_from_text(docs)
    rows = {r.doc_id: r for r in mixed.collect()}
    assert rows[0].mime == "audio/wav"
    assert rows[1].mime == "audio/aiff"
    assert rows[2].mime == "audio/flac"
    d = decode_media(bytes(rows[2].payload), "audio/flac")
    assert d["kind"] == "audio"
    assert d["n_frames"] == len("one text for every container kind".encode())
    hashes = {r.doc_id: r.ehash for r in audio_energy_hash(mixed).collect()}
    assert len(set(hashes.values())) == 1


# --- FLAC stereo (r9): the spec's four channel assignments ------------


_FLAC_STEREO_MODES = ("independent", "left_side", "side_right", "mid_side")


def _flac_first_frame_ch_code(payload: bytes) -> int:
    """Channel-assignment nibble of the first frame header (frame
    byte 3, upper nibble — after the 14-bit sync + 2 flag bits and
    the blocksize/rate byte)."""
    pos = 4
    while True:
        header = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4 + length
        if header & 0x80:
            break
    return payload[pos + 3] >> 4


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 6000),
    mode=st.sampled_from(("auto",) + _FLAC_STEREO_MODES),
    kind=st.sampled_from(["random", "correlated", "flat", "extremes"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_stereo_round_trip_property(n, mode, kind, seed):
    """Any 16-bit stereo signal round-trips exactly through every
    channel assignment — including the 17-bit side channel at the
    int16 extremes, multi-frame streams, and partial final frames."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(seed)
    if kind == "random":
        s = rng.randint(-32768, 32768, (n, 2))
    elif kind == "correlated":
        base = np.cumsum(rng.randint(-40, 41, n)).clip(-20000, 20000)
        s = np.stack([base, base + rng.randint(-8, 9, n)], axis=1).clip(
            -32768, 32767
        )
    elif kind == "flat":
        s = np.tile(rng.randint(-32768, 32768, (1, 2)), (n, 1))
    else:  # extremes: the side channel needs all 17 bits
        s = rng.choice([-32768, -1, 0, 32767], size=(n, 2))
    s = s.astype(np.int16)
    got, rate, nch = _flac_samples(encode_flac(s, rate=8000, stereo_mode=mode))
    assert rate == 8000 and nch == 2
    assert np.array_equal(got.reshape(-1, 2), s)


def test_flac_stereo_auto_never_loses_to_a_forced_mode():
    """auto picks per-frame by exact bit cost, so it can't be beaten
    by pinning any single assignment — and on strongly correlated
    channels it beats independent outright (the decorrelation payoff)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import encode_flac

    rng = np.random.RandomState(7)
    base = np.cumsum(rng.randint(-40, 41, 8192)).clip(-20000, 20000)
    s = (
        np.stack([base, base + rng.randint(-4, 5, 8192)], axis=1)
        .clip(-32768, 32767)
        .astype(np.int16)
    )
    auto = encode_flac(s)
    forced = {m: encode_flac(s, stereo_mode=m) for m in _FLAC_STEREO_MODES}
    assert all(len(auto) <= len(p) for p in forced.values())
    assert len(auto) < 0.85 * len(forced["independent"])


def test_flac_stereo_every_mode_emits_its_channel_code():
    """Forced modes actually reach the bitstream (ch codes 1/8/9/10)
    and each decodes back exactly — pinning all four decoder branches,
    not just the ones auto happens to choose."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(11)
    s = rng.randint(-3000, 3000, (2000, 2)).astype(np.int16)
    expected = {"independent": 1, "left_side": 8, "side_right": 9, "mid_side": 10}
    for mode, code in expected.items():
        payload = encode_flac(s, stereo_mode=mode)
        assert _flac_first_frame_ch_code(payload) == code, mode
        got, _, nch = _flac_samples(payload)
        assert nch == 2 and np.array_equal(got.reshape(-1, 2), s)


def test_flac_stereo_streaminfo_frame_channel_mismatch_detected():
    """A stream whose STREAMINFO says mono but whose frames carry a
    stereo assignment (or vice versa) is rejected, not half-decoded."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(13)
    payload = bytearray(
        encode_flac(rng.randint(-100, 100, (500, 2)).astype(np.int16))
    )
    # STREAMINFO channels field: bits 100-102 of the metadata body,
    # which starts at byte 8 — stereo's 001 lives in byte 20 bit 6
    assert payload[20] & 0x02
    payload[20] ^= 0x02  # now claims mono; frames still say stereo
    with pytest.raises(ValueError, match="disagrees|channel"):
        _flac_samples(bytes(payload))


def test_flac_constant_subframe_round_trip():
    """Flat channels emit the CONSTANT subframe (one bps-bit value,
    no residual section) — a flat 5000-sample mono stream fits in
    under 100 bytes and still round-trips exactly, including a flat
    17-bit side channel on stereo input."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    mono = np.full(5000, 7, dtype=np.int16)
    p = encode_flac(mono)
    assert len(p) < 100
    got, _, _ = _flac_samples(p)
    assert np.array_equal(got, mono)
    stereo = np.stack(
        [np.full(5000, 123), np.full(5000, -456)], axis=1
    ).astype(np.int16)
    for mode in ("auto", "mid_side", "left_side"):
        got, _, nch = _flac_samples(encode_flac(stereo, stereo_mode=mode))
        assert nch == 2 and np.array_equal(got.reshape(-1, 2), stereo)


def test_flac_wasted_bits_round_trip_and_payoff():
    """Wasted bits (r9): samples sharing k low zero bits plan at
    bps-k and shift back on decode — the payload lands within a few
    header bytes of encoding the same content at full depth, and
    well under leaving the zeros to rice (which must spend k extra
    bits per sample)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(19)
    s = ((rng.randint(-4000, 4000, 5000) << 3).clip(-32768, 32767) >> 3 << 3).astype(
        np.int16
    )
    shifted = encode_flac(s)
    got, _, _ = _flac_samples(shifted)
    assert np.array_equal(got, s)
    content = encode_flac((s >> 3).astype(np.int16))
    assert len(shifted) <= len(content) + 16  # k unary bits per subframe
    noisy = encode_flac((s | 1).astype(np.int16))  # breaks the shared zeros
    assert len(shifted) < 0.88 * len(noisy)
    # extreme: every sample -32768 shares 15 zero bits; depth floors at 1
    e = np.full(4000, -32768, dtype=np.int16)
    got, _, _ = _flac_samples(encode_flac(e))
    assert np.array_equal(got, e)


@settings(max_examples=25, deadline=None)
@given(
    k=st.integers(1, 10),
    n=st.integers(1, 4000),
    mode=st.sampled_from(("auto",) + _FLAC_STEREO_MODES),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_wasted_bits_stereo_property(k, n, mode, seed):
    """A stereo stream where one channel carries k wasted bits and
    the other doesn't round-trips exactly through every channel
    assignment (per-subframe wasted-bit independence)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(seed)
    hi = 32768 >> k
    left = (rng.randint(-hi, hi, n) << k).astype(np.int16)
    right = rng.randint(-32768, 32768, n).astype(np.int16)
    s = np.stack([left, right], axis=1)
    got, _, nch = _flac_samples(encode_flac(s, stereo_mode=mode))
    assert nch == 2 and np.array_equal(got.reshape(-1, 2), s)


def test_flac_stereo_in_mixed_audio_fixture(spark):
    """doc_id % 6 == 5 FLAC rows encode stereo (even byte counts):
    the decoded interleaved stream equals the byte contract, so the
    energy hash matches every other container — and decode_media
    reports 2 channels for the stereo payload."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    text = "an even-length audio fixture text!"  # 34 bytes
    assert len(text.encode()) % 2 == 0
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id long, text string"
    )
    mixed = synthesize_mixed_audio_from_text(docs)
    rows = {r.doc_id: r for r in mixed.collect()}
    assert rows[5].mime == "audio/flac"
    d = decode_media(bytes(rows[5].payload), "audio/flac")
    assert d["n_channels"] == 2
    assert d["n_frames"] == len(text.encode()) // 2
    mono_d = decode_media(bytes(rows[2].payload), "audio/flac")
    assert mono_d["n_channels"] == 1
    hashes = {r.doc_id: r.ehash for r in audio_energy_hash(mixed).collect()}
    assert len(hashes) == 6 and len(set(hashes.values())) == 1


# --- r9 hardening: advisor-flagged edge cases ------------------------


def test_aiff_lying_small_comm_or_ssnd_size_raises():
    """A COMM chunk whose declared size is < 18 (or SSND < 8) must
    raise a clean 'truncated' ValueError instead of unpacking the
    NEXT chunk's bytes as channel/frame/rate fields (garbage-in-
    garbage-out with ok=True)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aiff_payload,
        _aiff_samples,
    )

    good = _aiff_payload(b"abcdef")
    # Rebuild with a small-but-consistent COMM so the chunk WALK still
    # succeeds (ids line up) and only the field unpack is at stake.
    comm_idx = good.index(b"COMM")
    ssnd_idx = good.index(b"SSND")
    small_comm = b"COMM" + struct.pack(">I", 10) + good[comm_idx + 8 : comm_idx + 18]
    form = b"AIFF" + small_comm + good[ssnd_idx:]
    bad = b"FORM" + struct.pack(">I", len(form)) + form
    with pytest.raises(ValueError, match="COMM chunk truncated"):
        _aiff_samples(bad)
    small_ssnd = b"SSND" + struct.pack(">I", 4) + bytes(4)
    form = b"AIFF" + good[comm_idx : comm_idx + 26] + small_ssnd
    bad = b"FORM" + struct.pack(">I", len(form)) + form
    with pytest.raises(ValueError, match="SSND chunk truncated"):
        _aiff_samples(bad)


def test_pcm16_rejects_non_16bit_wav():
    """The WAV arm of _pcm16_samples must reject 8-bit payloads like
    the AIFF/FLAC arms do, not reinterpret the frames as int16."""
    import wave as _wave

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
    )

    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(range(64)))
    with pytest.raises(ValueError, match="sample width"):
        _pcm16_samples(buf.getvalue())


def test_mp4_stsc_nonmonotonic_first_chunk_raises():
    """An stsc run referencing chunk 0 (or repeating a first_chunk)
    would Python-negative-index the offsets table and resolve sample
    ranges from the wrong chunk — must raise, not decode garbage."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mjpeg_frames_for_text,
        _mp4_mjpeg_container,
        _mp4_mjpeg_frames,
    )

    good = _mp4_mjpeg_container(
        _mjpeg_frames_for_text(b"stsc monotonicity", 5), samples_per_chunk=2
    )
    idx = good.index(b"stsc")
    # stsc body: ver/flags(4) entry_count(4) then 12-byte runs; with
    # spc=2 over 5 frames there are >= 2 runs. Corrupt run 1's
    # first_chunk (at idx+4+8+12) to 0, then to run 0's value.
    (n_runs,) = struct.unpack_from(">I", good, idx + 8)
    assert n_runs >= 2, "fixture must produce a multi-run stsc"
    for forged in (0, struct.unpack_from(">I", good, idx + 12)[0]):
        bad = bytearray(good)
        struct.pack_into(">I", bad, idx + 24, forged)
        with pytest.raises(ValueError, match="strictly increasing"):
            _mp4_mjpeg_frames(bytes(bad))


def test_video_frame_hashes_quarantines_per_payload(spark):
    """One corrupt (ValueError) or codec-unsupported
    (NotImplementedError) payload must not kill the whole frame-hash
    pass: the bad doc emits no rows, every good doc still hashes."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} payload text") for i in range(3)],
        "doc_id long, text string",
    )
    rows = synthesize_mixed_video_from_text(docs).collect()
    avc1 = _make_mp4(codec=b"avc1", n_frames=2)  # NotImplementedError path
    data = [
        (r.doc_id, bytearray(r.payload), r.mime) for r in rows
    ] + [(97, bytearray(avc1), "video/mp4"), (98, bytearray(b"\x00" * 16), "video/x-frames")]
    mixed = spark.createDataFrame(
        [(i, bytes(p), m) for i, p, m in data],
        "doc_id long, payload binary, mime string",
    )
    out = video_frame_hashes(mixed).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, 0)
        by_doc[r.doc_id] += 1
    assert 97 not in by_doc and 98 not in by_doc
    assert set(by_doc) == {0, 1, 2} and all(v > 0 for v in by_doc.values())


def test_mp4_stsz_total_amplification_bounded():
    """A hostile NON-uniform stsz whose chunks overlap resolves each
    sample in-bounds while the concatenated output grows quadratic in
    the payload (the uniform arm was already bounded in r8) — the
    total-size check rejects it before any range materializes."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_sample_ranges,
    )

    n = 500
    stsz_body = (
        bytes(4) + struct.pack(">II", 0, n) + struct.pack(">I", 7000) * n
    )
    stsz_box = struct.pack(">I", 8 + len(stsz_body)) + b"stsz" + stsz_body
    stco_body = bytes(4) + struct.pack(">II", 1, 0)
    stco_box = struct.pack(">I", 8 + len(stco_body)) + b"stco" + stco_body
    stsc_body = bytes(4) + struct.pack(">I", 1) + struct.pack(">III", 1, n, 1)
    stsc_box = struct.pack(">I", 8 + len(stsc_body)) + b"stsc" + stsc_body
    boxes = stsz_box + stco_box + stsc_box
    payload = bytes(100) + boxes + bytes(7900)  # each size < len(payload)
    trk = {
        "stbl": (100, 100 + len(boxes)),
        "stsz": (108, 100 + len(stsz_box)),
    }
    with pytest.raises(ValueError, match="stsz total"):
        _mp4_sample_ranges(payload, trk)


def test_encoder_input_validation_fuzz_findings():
    """r9 encoder-input fuzz campaign regressions: encoders must
    refuse hostile inputs with ValueError, never leak IndexError /
    KeyError / silent NaN casts into a garbage-but-ok stream."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_flac,
        encode_gif,
        encode_jpeg,
    )

    # 4-d input leaked IndexError from the RGB channel split
    with pytest.raises(ValueError, match="encode_jpeg takes"):
        encode_jpeg(np.zeros((4, 4, 3, 2), dtype=np.uint8))
    # out-of-8-bit values + qtable=1 pushed an AC coefficient past
    # magnitude 1023 — no Annex-K run/size code exists → KeyError
    hot = np.full((32, 1), 768, dtype=np.int32)
    with pytest.raises(ValueError, match=r"\[0, 255\]"):
        encode_jpeg(hot, qtable=np.ones(64, dtype=np.int64))
    with pytest.raises(ValueError, match="empty"):
        encode_jpeg(np.zeros((0, 5), dtype=np.uint8))
    with pytest.raises(ValueError, match="non-finite"):
        encode_jpeg(np.full((8, 8), np.nan))
    # NaN silently cast to an undefined uint8 → garbage GIF with ok=True
    with pytest.raises(ValueError, match="non-finite"):
        encode_gif(np.full((4, 4, 3), np.nan))
    with pytest.raises(ValueError, match="encode_gif takes"):
        encode_gif(np.zeros((4, 4, 3, 2), dtype=np.uint8))
    # NaN cast to INT64_MIN with only a RuntimeWarning before the
    # range check; now rejected explicitly
    with pytest.raises(ValueError, match="non-finite"):
        encode_flac(np.asarray([0.0, np.nan]))
    # valid inputs still encode
    assert encode_jpeg(np.full((8, 8), 200.0)).startswith(b"\xff\xd8")
    assert encode_gif(np.zeros((4, 4, 3), dtype=np.uint8)).startswith(b"GIF89a")
    assert encode_flac(np.zeros(16, dtype=np.int16)).startswith(b"fLaC")


def test_encoders_reject_out_of_range_and_lossy_inputs():
    """r9 self-review: encode_gif wrapped finite out-of-range values
    via the uint8 cast (300 -> 44, -5.0 -> UB) and encode_flac
    silently truncated fractional samples — both now refuse."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_flac,
        encode_gif,
    )

    with pytest.raises(ValueError, match=r"\[0, 255\]"):
        encode_gif(np.full((2, 2, 3), 300))
    with pytest.raises(ValueError, match=r"\[0, 255\]"):
        encode_gif(np.full((2, 2, 3), -5.0))
    with pytest.raises(ValueError, match="non-integral"):
        encode_flac(np.asarray([100.7, -3.9]))
    # integral floats remain accepted (lossless cast)
    assert encode_flac(np.asarray([100.0, -3.0])).startswith(b"fLaC")


def test_audio_and_image_hashes_quarantine_per_payload(spark):
    """r9 self-review: one undecodable payload must not kill the
    audio/image fingerprint passes (same contract video_frame_hashes
    got earlier this round) — the bad doc emits no row, good docs
    still hash."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        image_ahash,
        synthesize_bmp_from_text,
        synthesize_mixed_audio_from_text,
    )

    docs = spark.createDataFrame(
        [(i, f"payload text {i}") for i in range(3)],
        "doc_id long, text string",
    )
    audio = synthesize_mixed_audio_from_text(docs).collect()
    rows = [(r.doc_id, bytes(r.payload), r.mime) for r in audio]
    rows.append((99, b"\x00" * 32, "audio/wav"))
    mixed = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    got = {r.doc_id for r in audio_energy_hash(mixed).collect()}
    assert got == {0, 1, 2}

    imgs = synthesize_bmp_from_text(docs).collect()
    rows = [(r.doc_id, bytes(r.payload)) for r in imgs]
    rows.append((99, b"BM" + b"\x00" * 10))
    mixed = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id for r in image_ahash(mixed).collect()}
    assert got == {0, 1, 2}

    # a batch where EVERY payload drops still yields zero rows under
    # the declared schema (an empty output batch, not an error)
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        sample_audio_frames,
        video_frame_hashes,
    )

    garbage = spark.createDataFrame(
        [(7, b""), (8, b"\x00" * 32), (9, b"RIFF\x04\x00\x00\x00WAVE")],
        "doc_id long, payload binary",
    ).coalesce(1)
    for stage, schema in [
        (image_ahash, "doc_id bigint, ahash bigint"),
        (audio_energy_hash, "doc_id bigint, ehash bigint"),
        (video_frame_hashes, "doc_id bigint, frame_id int, fhash bigint"),
        (sample_audio_frames, "doc_id bigint, frame_idx int, sample double"),
    ]:
        out = stage(garbage)
        assert out.collect() == []
        assert ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in out.schema
        ) == schema


# --- PNG color-type / Adam7 coverage (r9) ----------------------------

from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
    _PNG_ADAM7 as _ADAM7,
)


def make_png_any(samples, color_type, depth, palette=None, interlace=0):
    """Generic PNG builder (filter-0 scanlines): any color type,
    sub-byte depths bit-packed big-endian, optional Adam7 layout."""
    import zlib

    samples = np.asarray(samples)
    if samples.ndim == 2:
        samples = samples[:, :, None]
    h, w, ch = samples.shape
    bpp_bits = depth * ch

    def pack_rows(sub):
        out = b""
        for y in range(sub.shape[0]):
            vals = sub[y].reshape(-1)
            if depth == 16:
                row = vals.astype(">u2").tobytes()
            elif depth == 8:
                row = vals.astype(np.uint8).tobytes()
            else:
                bits = [
                    (int(v) >> b) & 1
                    for v in vals
                    for b in range(depth - 1, -1, -1)
                ]
                while len(bits) % 8:
                    bits.append(0)
                row = np.packbits(np.asarray(bits, dtype=np.uint8)).tobytes()
            out += b"\x00" + row
        return out

    if interlace == 0:
        raw = pack_rows(samples)
    else:
        raw = b"".join(
            pack_rows(samples[ys::yst, xs::xst])
            for xs, ys, xst, yst in _ADAM7
            if samples[ys::yst, xs::xst].size
        )

    def chunk(ctype, data):
        import struct as _s

        return (
            _s.pack(">I", len(data))
            + ctype
            + data
            + _s.pack(">I", zlib.crc32(ctype + data))
        )

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _PNG_MAGIC

    out = _PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    )
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    ct=st.sampled_from([0, 2, 3, 4, 6]),
    depth=st.sampled_from([1, 2, 4, 8]),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_all_color_types_and_adam7_decode_exact(h, w, ct, depth, interlace, seed):
    """Property: every supported (color_type, depth, interlace) combo
    decodes bit-exactly to its defined RGB expansion — grayscale
    scale factors, palette lookup, alpha dropped, Adam7 passes
    deinterleaved to the same pixels as the sequential layout."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    if depth != 8 and ct not in (0, 3):
        depth = 8  # sub-byte depths only exist for gray/palette
    rng = np.random.RandomState(seed)
    maxval = (1 << depth) - 1
    if ct == 0:
        g = rng.randint(0, maxval + 1, (h, w))
        payload = make_png_any(g, 0, depth, interlace=interlace)
        want = np.repeat(
            (g * {1: 255, 2: 85, 4: 17, 8: 1}[depth]).astype(np.uint8)[:, :, None],
            3,
            axis=2,
        )
    elif ct == 2:
        px = rng.randint(0, 256, (h, w, 3))
        payload = make_png_any(px, 2, 8, interlace=interlace)
        want = px.astype(np.uint8)
    elif ct == 3:
        ncol = min(maxval + 1, 7)
        palette = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
        idx = rng.randint(0, ncol, (h, w))
        payload = make_png_any(idx, 3, depth, palette=palette, interlace=interlace)
        want = palette[idx]
    elif ct == 4:
        ga = rng.randint(0, 256, (h, w, 2))
        payload = make_png_any(ga, 4, 8, interlace=interlace)
        want = np.repeat(ga[:, :, :1].astype(np.uint8), 3, axis=2)
    else:
        px = rng.randint(0, 256, (h, w, 4))
        payload = make_png_any(px, 6, 8, interlace=interlace)
        want = px[:, :, :3].astype(np.uint8)
    got = _png_pixels(payload)
    assert got.shape == want.shape
    assert (got == want).all()


def test_png_palette_edge_cases():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    palette = np.asarray([[250, 1, 2], [3, 250, 4]], dtype=np.uint8)
    idx = np.asarray([[0, 1], [1, 0]])
    # palette index past PLTE length must raise, not wrap
    payload = make_png_any(np.asarray([[0, 1], [1, 3]]), 3, 8, palette=palette)
    with pytest.raises(ValueError, match="palette index out of range"):
        _png_pixels(payload)
    # missing PLTE on a palette image
    good = make_png_any(idx, 3, 8, palette=palette)
    plte_at = good.index(b"PLTE") - 4
    plte_len = 8 + 2 * 3 + 4
    no_plte = good[:plte_at] + good[plte_at + plte_len :]
    with pytest.raises(ValueError, match="missing PLTE"):
        _png_pixels(no_plte)
    # malformed PLTE length
    bad = bytearray(good)
    struct.pack_into(">I", bad, plte_at, 5)
    with pytest.raises(ValueError):
        _png_pixels(bytes(bad))


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    ct=st.sampled_from([0, 2, 4, 6]),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_16bit_channels_decode_exact(h, w, ct, interlace, seed):
    """16-bit PNGs (all four 16-bit-capable color types, both
    layouts) decode with exact round-to-nearest 16->8 conversion."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.RandomState(seed)
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
    samples = rng.randint(0, 65536, (h, w, ch))
    payload = make_png_any(samples, ct, 16, interlace=interlace)
    scaled = (samples * 255 + 32767) // 65535
    if ct in (2, 6):
        want = scaled[:, :, :3].astype(np.uint8)
    else:
        want = np.repeat(scaled[:, :, :1].astype(np.uint8), 3, axis=2)
    got = _png_pixels(payload)
    assert got.shape == want.shape and (got == want).all()
    # boundary exactness: 0xFFFF -> 255, 0x0000 -> 0, 0x8000 -> 128
    edge = np.asarray([[[0xFFFF], [0x0000]], [[0x8000], [0x7FFF]]])
    got = _png_pixels(make_png_any(edge, 0, 16))
    assert got[0, 0, 0] == 255 and got[0, 1, 0] == 0
    assert got[1, 0, 0] == 128 and got[1, 1, 0] == 127


def test_wav_24bit_stats_decode():
    """24-bit WAV stats (r9): sampwidth 3 has no numpy dtype, so the
    bytes assemble little-endian with sign extension — verified
    against known values, stereo included."""
    import wave as _wave

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import decode_wav

    vals = [0, 1, -1, (1 << 23) - 1, -(1 << 23), 123456, -654321, 42]
    raw = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(3)
        w.setframerate(48000)
        w.writeframes(raw)
    out = decode_wav(buf.getvalue())
    assert out["n_channels"] == 2 and out["sample_rate"] == 48000
    assert out["n_frames"] == len(vals) // 2
    arr = np.asarray(vals, dtype=np.float64)
    assert out["peak"] == float(np.max(np.abs(arr)))
    assert abs(out["rms"] - float(np.sqrt(np.mean(arr**2)))) < 1e-9


# --- BMP DIB variants (r9) --------------------------------------------


def _bmp_header(width, height, bpp, compression, n_colors, data_size):
    off = 54 + 4 * n_colors
    return (
        b"BM"
        + struct.pack("<IHHI", off + data_size, 0, 0, off)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, bpp, compression,
            data_size, 0, 0, n_colors, 0,
        )
    )


def test_bmp_palette_variants_decode_exact():
    """8-bit and 4-bit paletted BMPs decode through the BGRA color
    table; 32-bit drops alpha; out-of-range palette index raises."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _bmp_pixels

    pal = [(10, 20, 30, 0), (200, 150, 100, 0), (1, 2, 3, 0)]
    pal_bytes = b"".join(bytes(c) for c in pal)
    # 8-bit, 3x2, bottom-up; rows pad to 4 bytes
    rows = [bytes([0, 1, 2]) + b"\x00", bytes([2, 2, 0]) + b"\x00"]
    payload = _bmp_header(3, 2, 8, 0, 3, 8) + pal_bytes + b"".join(rows)
    px = _bmp_pixels(payload)
    assert px.shape == (2, 3, 3)
    assert (px[0] == [[1, 2, 3], [1, 2, 3], [10, 20, 30]]).all()  # top = row 2
    assert (px[1] == [[10, 20, 30], [200, 150, 100], [1, 2, 3]]).all()
    # out-of-range index
    bad = _bmp_header(3, 2, 8, 0, 3, 8) + pal_bytes + bytes([0, 1, 7, 0]) + rows[1]
    with pytest.raises(ValueError, match="palette index"):
        _bmp_pixels(bad)
    # 4-bit: nibbles high-first, 4 pixels -> 2 bytes, padded to 4
    nib_rows = bytes([0x01, 0x20]) + b"\x00\x00"
    payload = _bmp_header(3, 1, 4, 0, 3, 4) + pal_bytes + nib_rows
    px = _bmp_pixels(payload)
    assert (px[0] == [[10, 20, 30], [200, 150, 100], [1, 2, 3]]).all()
    # 32-bit BGRA, alpha dropped
    row = bytes([5, 6, 7, 99, 8, 9, 10, 99])
    payload = _bmp_header(2, 1, 32, 0, 0, 8) + row
    px = _bmp_pixels(payload)
    assert (px[0] == [[5, 6, 7], [8, 9, 10]]).all()


def test_bmp_rle8_decode_and_hostile_streams():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _bmp_pixels

    pal_bytes = b"".join(bytes(c) for c in [(9, 9, 9, 0), (50, 60, 70, 0)])
    # 4x2 bottom-up: row0(bottom)=run of 4 idx1; row1=abs mode [0,1,0]+pad, then 1 idx1
    rle = bytes(
        [4, 1, 0, 0]  # run 4x idx1, EOL
        + [0, 3, 0, 1, 0, 0]  # absolute 3: 0,1,0 (padded to word)
        + [1, 1]  # run 1x idx1
        + [0, 1]  # EOF
    )
    payload = _bmp_header(4, 2, 8, 1, 2, len(rle)) + pal_bytes + rle
    px = _bmp_pixels(payload)
    assert (px[1] == [[50, 60, 70]] * 4).all()  # bottom row flipped to index 1
    assert (px[0] == [[9, 9, 9], [50, 60, 70], [9, 9, 9], [50, 60, 70]]).all()
    # hostile: run past row width
    bad = _bmp_header(4, 2, 8, 1, 2, 4) + pal_bytes + bytes([200, 1, 0, 1])
    with pytest.raises(ValueError, match="outside the bitmap"):
        _bmp_pixels(bad)
    # hostile: missing EOF
    bad = _bmp_header(4, 2, 8, 1, 2, 2) + pal_bytes + bytes([2, 1])
    with pytest.raises(ValueError, match="missing end-of-bitmap"):
        _bmp_pixels(bad)
    # hostile: delta escaping the grid
    bad = _bmp_header(4, 2, 8, 1, 2, 6) + pal_bytes + bytes([0, 2, 200, 200, 0, 1])
    with pytest.raises(ValueError, match="outside the bitmap"):
        _bmp_pixels(bad)


def test_bmp_rle8_dimension_bomb_raises():
    """r9 fuzz findings: a smashed RLE8 width/height field allocated
    the full grid (gigabytes) before reading the stream — dimensions
    must be data-backed (each 2-byte pair emits <= 255 pixels)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _bmp_pixels

    pal = bytes(8)
    rle = bytes([2, 1, 0, 1])
    for w, h in ((0x0B, 2_097_153), (0x9E4B760B // 2, 3)):
        payload = _bmp_header(w, h, 8, 1, 2, len(rle)) + pal + rle
        with pytest.raises(ValueError, match="exceed what the stream"):
            _bmp_pixels(payload)


def test_image_encoders_reject_fractional_floats():
    """encode_gif/encode_jpeg contract lossless (or deterministic)
    pixel round trips — a finite fractional float like 3.7 must raise,
    not silently truncate through astype(uint8), matching the FLAC
    encoder's discipline (r9 ADVICE)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_gif,
        encode_jpeg,
    )

    px = np.full((8, 8), 3.7)
    for enc in (encode_gif, encode_jpeg):
        with pytest.raises(ValueError, match="non-integral"):
            enc(px)
    # integral-valued floats still encode
    for enc in (encode_gif, encode_jpeg):
        enc(np.full((8, 8), 3.0))


def test_bmp_16bit_and_bitfields_decode_exact():
    """16-bit 555 (BI_RGB default masks), 565/arbitrary BI_BITFIELDS,
    and 32-bit BITFIELDS decode with exact integer round-to-nearest
    channel expansion; hostile masks (overlapping, non-contiguous,
    zero, past-bpp) raise."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _bmp_pixels

    rng = np.random.RandomState(23)
    w, h = 5, 3
    row = (w * 2 + 3) // 4 * 4

    def rows16(vals):
        grid = np.zeros((h, row), np.uint8)
        grid[:, : w * 2] = vals.astype("<u2").view(np.uint8).reshape(h, w * 2)
        return np.flipud(grid).tobytes()

    # 555 via plain BI_RGB 16-bit
    r5, g5, b5 = (rng.randint(0, 32, (h, w)) for _ in range(3))
    payload = _bmp_header(w, h, 16, 0, 0, row * h) + rows16(
        (r5 << 10) | (g5 << 5) | b5
    )
    px = _bmp_pixels(payload)
    expand5 = lambda v: (v * 255 + 15) // 31  # noqa: E731
    assert (px[:, :, 2] == expand5(r5)).all()
    assert (px[:, :, 1] == expand5(g5)).all()
    assert (px[:, :, 0] == expand5(b5)).all()
    # 565 via BITFIELDS (classic header: masks between header and data)
    g6 = rng.randint(0, 64, (h, w))
    vals = (r5 << 11) | (g6 << 5) | b5
    hdr = _bmp_header(w, h, 16, 3, 0, row * h)
    hdr = hdr[:10] + struct.pack("<I", 66) + hdr[14:]  # data offset past masks
    payload = hdr + struct.pack("<III", 0xF800, 0x07E0, 0x001F) + rows16(vals)
    px = _bmp_pixels(payload)
    assert (px[:, :, 2] == expand5(r5)).all()
    assert (px[:, :, 1] == (g6 * 255 + 31) // 63).all()
    assert (px[:, :, 0] == expand5(b5)).all()
    # 32-bit BITFIELDS with byte-aligned 8-bit masks: identity
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    v32 = (
        (rgb[:, :, 0].astype(np.uint32) << 16)
        | (rgb[:, :, 1].astype(np.uint32) << 8)
        | rgb[:, :, 2]
    )
    row32 = w * 4
    grid = np.flipud(
        v32.astype("<u4").view(np.uint8).reshape(h, row32)
    ).tobytes()
    hdr = _bmp_header(w, h, 32, 3, 0, row32 * h)
    hdr = hdr[:10] + struct.pack("<I", 66) + hdr[14:]
    payload = hdr + struct.pack("<III", 0xFF0000, 0x00FF00, 0x0000FF) + grid
    px = _bmp_pixels(payload)
    assert (px[:, :, 2] == rgb[:, :, 0]).all()
    assert (px[:, :, 0] == rgb[:, :, 2]).all()
    # hostile masks
    for bad in (
        (0xF800, 0x07E0, 0x07E0),  # overlapping
        (0xF0F0, 0x0F00, 0x000F),  # non-contiguous
        (0, 0x07E0, 0x001F),  # zero channel
        (0x1F800, 0x07E0, 0x001F),  # past bpp for 16-bit
    ):
        hdr = _bmp_header(w, h, 16, 3, 0, row * h)
        hdr = hdr[:10] + struct.pack("<I", 66) + hdr[14:]
        p = hdr + struct.pack("<III", *bad) + rows16(vals)
        with pytest.raises(ValueError, match="mask"):
            _bmp_pixels(p)


def test_bmp_rle4_decode_and_hostile_streams():
    """RLE4 (the last BMP compression): encoded runs alternate the
    value byte's nibbles, absolute spans are nibble-packed and
    word-aligned; out-of-grid writes and truncations raise."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _bmp_pixels

    idx = np.array(
        [[1, 2, 1, 2, 1, 2, 1], [3, 3, 3, 3, 0, 0, 0], [4, 5, 6, 7, 8, 9, 10]],
        np.uint8,
    )
    stream = bytes(
        [7, 0x12, 0, 0, 4, 0x33, 0, 0, 0, 7, 0x45, 0x67, 0x89, 0xA0, 0, 1]
    )
    pal = b"".join(bytes([i * 10, i * 5, i * 3, 0]) for i in range(16))
    payload = _bmp_header(7, 3, 4, 2, 16, len(stream)) + pal + stream
    px = _bmp_pixels(payload)
    pal_arr = np.frombuffer(pal, np.uint8).reshape(16, 4)[:, :3]
    assert np.array_equal(px, pal_arr[idx][::-1])  # bottom-up
    # hostile: run past the row, truncated absolute span, missing EOF
    for bad in (
        bytes([9, 0x11, 0, 1]),  # run wider than the bitmap
        bytes([0, 7, 0x45, 0x67]),  # absolute span truncated
        bytes([2, 0x11]),  # no end-of-bitmap
        bytes([0, 2, 200, 200, 0, 1]),  # delta outside
    ):
        p = _bmp_header(7, 3, 4, 2, 16, len(bad)) + pal + bad
        with pytest.raises(ValueError):
            _bmp_pixels(p)
    # top-down RLE is spec-invalid
    p = _bmp_header(7, -3, 4, 2, 16, len(stream)) + pal + stream
    with pytest.raises(ValueError, match="top-down"):
        _bmp_pixels(p)


def test_second_review_pass_regressions(spark):
    """r9 second self-review: PNG absolute pixel cap, sparse-legal
    RLE8, RLE8 palette-index labeling, 24-bit-aware audio sampler
    with per-payload quarantine, paletted data_offset bound."""
    import wave as _wave

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _bmp_pixels,
        _png_pixels,
        sample_audio_frames,
    )

    # (1) a depth-1 PNG declaring dims past the cap raises before any
    # grid allocation — data-backing alone is beaten by deflate's
    # ~1000:1 expansion
    import zlib

    payload = make_png_any(np.zeros((1, 1)), 0, 1)
    big = bytearray(payload)
    struct.pack_into(">II", big, 16, 100_000, 100_000)
    with pytest.raises(ValueError, match="decode cap"):
        _png_pixels(bytes(big))

    # (2) spec-legal SPARSE RLE8 (delta + EOF leave pixels at the
    # background index) must DECODE, not be rejected as a bomb
    pal = bytes([7, 8, 9, 0]) + bytes([1, 2, 3, 0])
    rle = bytes([0, 2, 200, 100]) + bytes([3, 1]) + bytes([0, 1])
    payload = _bmp_header(1000, 1000, 8, 1, 2, len(rle)) + pal + rle
    px = _bmp_pixels(payload)
    assert px.shape == (1000, 1000, 3)
    assert (px[1000 - 1 - 100, 200] == [1, 2, 3]).all()  # the delta'd run
    assert (px[0, 0] == [7, 8, 9]).all()  # background index 0

    # (3) RLE8 out-of-palette index gets the explicit message, not a
    # rewrapped numpy IndexError blaming the header
    bad = _bmp_header(4, 1, 8, 1, 2, 4) + pal + bytes([2, 200, 0, 1])
    with pytest.raises(ValueError, match="palette index out of range"):
        _bmp_pixels(bad)

    # (5) paletted data_offset inside the color table must raise
    rows = bytes([0, 1, 0, 0])
    good = _bmp_header(2, 1, 8, 0, 2, 4) + pal + rows
    bad = bytearray(good)
    struct.pack_into("<I", bad, 10, 54)  # points INTO the palette
    with pytest.raises(ValueError, match="invalid BMP data offset"):
        _bmp_pixels(bytes(bad))

    # (4) sample_audio_frames handles the widths decode_wav handles
    # (24-bit included) and quarantines corrupt payloads per-row
    vals = [1000, -2000, 300000, -400000]
    raw = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        w.writeframes(raw)
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"\x00" * 16))],
        "doc_id long, payload binary",
    )
    rows = sample_audio_frames(df, every_n=1).collect()
    got = {r.doc_id for r in rows}
    assert got == {1}
    assert sorted(r.sample for r in rows) == sorted(float(v) for v in vals)


# --- r9 batch 2: G.711 WAV, JPEG 4:2:2 -------------------------------


def _g711_wav(tag, data, n_ch=1, rate=8000):
    fmt = struct.pack("<HHIIHH", tag, n_ch, rate, rate * n_ch, n_ch, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_g711_ulaw_alaw_wav_decode():
    """G.711 µ-law (tag 7) and A-law (tag 6) WAVs — the telephony
    format the stdlib wave module rejects — decode through the
    canonical CCITT tables, pinned to the classic reference values."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _G711_ALAW,
        _G711_ULAW,
        decode_wav,
    )

    # reference pins (Sun/CCITT): silence and full-scale both signs
    assert _G711_ULAW[0xFF] == 0 and _G711_ULAW[0x7F] == 0
    assert _G711_ULAW[0x00] == -32124 and _G711_ULAW[0x80] == 32124
    assert _G711_ALAW[0x55] == -8 and _G711_ALAW[0xD5] == 8
    assert _G711_ALAW[0x2A] == -32256 and _G711_ALAW[0xAA] == 32256

    out = decode_wav(_g711_wav(7, bytes([0xFF, 0x00, 0x80])))
    assert out["kind"] == "audio" and out["n_frames"] == 3
    assert out["peak"] == 32124.0
    out = decode_wav(_g711_wav(6, bytes([0x55, 0xD5, 0x2A, 0xAA]), n_ch=2, rate=16000))
    assert out["n_channels"] == 2 and out["sample_rate"] == 16000
    assert out["peak"] == 32256.0
    # stereo frame count = samples / channels
    assert out["n_frames"] == 2
    # non-8-bit G.711 is malformed
    bad = bytearray(_g711_wav(7, bytes(4)))
    struct.pack_into("<H", bad, bad.index(b"fmt ") + 22, 16)
    with pytest.raises(ValueError, match="8-bit"):
        decode_wav(bytes(bad))


def test_g711_wav_through_spark_sampler(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        sample_audio_frames,
    )

    payload = _g711_wav(7, bytes([0x00, 0xFF, 0x80]))
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = sample_audio_frames(df, every_n=1).collect()
    assert [r.sample for r in rows] == [-32124.0, 0.0, 32124.0]


def test_jpeg_422_subsampling_round_trip():
    """4:2:2 (horizontal-only chroma halving): decoder handles the
    (2,1) factors generically; constant color is exact, random chroma
    error sits between 4:4:4 and 4:2:0."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    flat = np.full((16, 24, 3), 77, dtype=np.uint8)
    assert (_jpeg_pixels(encode_jpeg(flat, subsampling="422")) == flat).all()
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (13, 21, 3)).astype(np.uint8)
    errs = {}
    for ss in ("444", "422", "420"):
        got = _jpeg_pixels(encode_jpeg(px, subsampling=ss))
        assert got.shape == px.shape
        errs[ss] = int(np.abs(got.astype(int) - px.astype(int)).max())
    assert errs["444"] <= errs["422"] <= errs["420"] + 40


def test_g711_consistency_review_regressions():
    """r9 fourth-review: (a) ragged stereo tails truncate to whole
    frames like the PCM arm; (b) the fingerprint family accepts G.711
    (it expands to exact int16) so the stats/fingerprint support
    matrices can't drift."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        decode_wav,
    )

    ragged = _g711_wav(6, bytes([0x55, 0xD5, 0x2A, 0xAA, 0x55]), n_ch=2)
    out = decode_wav(ragged)
    assert out["n_frames"] == 2
    assert out["peak"] == 32256.0  # orphan byte excluded from stats
    s = _pcm16_samples(_g711_wav(7, bytes([0x00, 0xFF, 0x80])))
    assert s.dtype == np.int16 and list(s) == [-32124, 0, 32124]


def _with_fact(payload: bytes, frames: int) -> bytes:
    """Insert a RIFF fact chunk immediately before the data chunk."""
    fact = b"fact" + struct.pack("<II", 4, frames)
    di = payload.find(b"data")
    out = bytearray(payload[:di] + fact + payload[di:])
    struct.pack_into("<I", out, 4, len(out) - 8)
    return bytes(out)


def test_riff_chunk_clamps_truncated_tail_chunk():
    """_riff_chunk on an externally truncated file: a wanted chunk
    whose declared size overruns the payload returns its CLAMPED
    extent instead of aborting the walk (r10 advice — keeps the two
    RIFF walks agreeing on which chunks exist), and chunks before the
    truncation point are still found."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _riff_chunk,
        _riff_fact_frames,
        _wav_payload,
    )

    p = _wav_payload(bytes(range(64)))
    # cut into the data chunk's body: the walk must return the
    # clamped extent, not None
    out = bytearray(p[:-5])
    struct.pack_into("<I", out, 4, len(out) - 8)
    out = bytes(out)
    loc = _riff_chunk(out, b"data")
    assert loc is not None
    off, sz = loc
    assert off + sz == len(out) and sz == 64 * 2 - 5  # 16-bit samples
    # a complete fact chunk BEFORE the truncated data chunk is honored
    trunc_fact = bytearray(_with_fact(p, 40)[:-5])
    struct.pack_into("<I", trunc_fact, 4, len(trunc_fact) - 8)
    assert _riff_fact_frames(bytes(trunc_fact)) == 40
    # a fact chunk itself cut mid-payload clamps to its real extent
    # (too short to trust -> 0), instead of None-ing the whole walk
    tail = p + b"fact" + struct.pack("<I", 4) + b"\x01\x02"
    tail = bytearray(tail)
    struct.pack_into("<I", tail, 4, len(tail) - 8)
    assert _riff_chunk(bytes(tail), b"fact") == (len(tail) - 2, 2)
    assert _riff_fact_frames(bytes(tail)) == 0


def test_fact_chunk_applies_to_pcm_arms_too():
    """A fact chunk smaller than the decoded frame count truncates
    integer-PCM WAVs exactly like the compressed arms — BOTH the
    stdlib-parsed classic header and the probe-parsed extensible
    header (r10 advice: n_frames must not depend on which header
    wrapped the same samples)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _riff_wrap,
        _wav_payload,
        _wav_samples_f64,
        _wave_ext_fmt,
        decode_wav,
    )

    raw = bytes(range(200))
    p = _wav_payload(raw)
    assert decode_wav(p)["n_frames"] == 200
    pf = _with_fact(p, 100)
    assert decode_wav(pf)["n_frames"] == 100
    assert np.array_equal(_wav_samples_f64(pf)[0], _wav_samples_f64(p)[0][:100])
    # extensible 16-bit integer PCM: same rule through the probe arm
    k = np.frombuffer(raw, np.uint8).astype(np.int16)
    pe = _riff_wrap(_wave_ext_fmt(1, 1, 8000, 16), k.astype("<i2").tobytes())
    assert decode_wav(pe)["n_frames"] == 200
    assert decode_wav(_with_fact(pe, 100))["n_frames"] == 100
    # larger-than-data / zero facts stay ignored on both arms
    assert decode_wav(_with_fact(p, 9999))["n_frames"] == 200
    assert decode_wav(_with_fact(pe, 0))["n_frames"] == 200


def test_aifc_g711_decode():
    """AIFC 'ulaw'/'alaw' (what the stdlib aifc module used to write)
    expand through the SAME G.711 tables as the WAV tag-7/6 and MP4
    arms — one support matrix per codec across containers. COMM
    sampleSize declares the DECODED width (16), so the data is sized
    by numSampleFrames alone."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _G711_ALAW,
        _G711_ULAW,
        _aiff_samples,
        _f80_encode,
        decode_aiff,
    )

    codes = bytes(range(256))

    def aifc_g711(ctype: bytes, body: bytes, n_ch: int = 1) -> bytes:
        fver = b"FVER" + struct.pack(">II", 4, 0xA2805140)
        comm = (
            b"COMM"
            + struct.pack(">IhIh", 24, n_ch, len(body) // n_ch, 16)
            + _f80_encode(8000)
            + ctype
            + b"\x00\x00"
        )
        ssnd = b"SSND" + struct.pack(">I", 8 + len(body)) + bytes(8) + body
        if len(body) & 1:
            ssnd += b"\x00"
        form = b"AIFC" + fver + comm + ssnd
        return b"FORM" + struct.pack(">I", len(form)) + form

    for ctype, table in ((b"ulaw", _G711_ULAW), (b"alaw", _G711_ALAW)):
        dec, rate, nch = _aiff_samples(aifc_g711(ctype, codes))
        assert rate == 8000 and nch == 1
        assert np.array_equal(dec, table[np.frombuffer(codes, np.uint8)])
    # µ-law silence byte orientation survives the AIFC wrap
    assert _aiff_samples(aifc_g711(b"ULAW", b"\xff"))[0][0] == 0
    d = decode_aiff(aifc_g711(b"ulaw", codes))
    assert d["n_frames"] == 256 and d["sample_rate"] == 8000
    # truncated body quarantines instead of decoding short
    short = aifc_g711(b"ulaw", codes)
    cut = short.replace(
        struct.pack(">IhIh", 24, 1, 256, 16),
        struct.pack(">IhIh", 24, 1, 300, 16),
    )
    with pytest.raises(ValueError, match="truncated"):
        _aiff_samples(cut)


def test_rf64_wav_decodes_and_fixture_rotation(spark):
    """RF64/BW64 (r11 — the EBU >4 GB WAV standard, the wav shape a
    100 TB media pass actually meets): the 32-bit data size holds the
    0xFFFFFFFF sentinel and the real 64-bit size comes from the ds64
    chunk that must precede it; decode, stats, and fingerprint are
    byte-identical to the RIFF twin. The plain-WAV fixture ships
    doc_id % 6 == 5 as RF64 under the unchanged
    n_frames/rms/peak oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        _rf64_payload,
        _wav_payload,
        _wav_samples_f64,
        decode_wav,
        synthesize_wav_from_text,
    )

    raw = bytes(range(200))
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    p = _rf64_payload(raw)
    assert p[:4] == b"RF64" and b"\xff\xff\xff\xff" in p
    assert decode_wav(p) == decode_wav(_wav_payload(raw))
    assert np.array_equal(_pcm16_samples(p), want)
    pb = bytearray(p)
    pb[:4] = b"BW64"
    assert decode_wav(bytes(pb)) == decode_wav(_wav_payload(raw))
    # ds64's declared size clamps to the real payload (truncation rule)
    s = _wav_samples_f64(p[:-9])[0]
    assert len(s) == (len(want) * 2 - 9) // 2
    # an RF64 without ds64 before data violates the spec: quarantine
    nod = b"RF64" + b"\xff\xff\xff\xff" + b"WAVE" + p[48:]
    with pytest.raises(ValueError):
        decode_wav(bytes(nod))
    for cut in (10, 30, 60):
        try:
            decode_wav(p[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture: % 6 == 5 ships RF64, others classic RIFF — same decode
    ids = (0, 5, 11, 12)
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload) for r in synthesize_wav_from_text(docs).collect()}
    assert rows[5][:4] == b"RF64" and rows[11][:4] == b"RF64"
    assert rows[0][:4] == b"RIFF" and rows[12][:4] == b"RIFF"
    stats = {i: decode_wav(p) for i, p in rows.items()}
    assert len({(d["n_frames"], d["rms"]) for d in stats.values()}) == 1


def test_flac_full_width_matrix_and_rice2():
    """Late-r11: the complete RFC 9639 sample-size matrix
    (8/12/16/20/24/32) round-trips bit-exactly, mono and all four
    stereo assignments. 32-bit random content forces the encoder's
    residual method 1 (rice2, 5-bit params) — the decoder supported
    it all along — and the raw-escape stays gated at its 5-bit width
    field (<= 31), which was the r11 desync: a 34-bit escape width
    silently wrapped in the 5-bit field."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_samples,
        _pcm16_samples,
        encode_flac,
    )

    rng = np.random.RandomState(101)
    for bits in (8, 12, 16, 20, 24, 32):
        full = 1 << (bits - 1)
        mono = rng.randint(-full, full, 2000).astype(np.int64)
        s, rate, ch = _flac_samples(encode_flac(mono, bits=bits))
        assert ch == 1 and np.array_equal(s.astype(np.int64), mono), bits
        assert s.dtype == (np.int16 if bits <= 16 else np.int32)
        st = rng.randint(-full, full, (1000, 2)).astype(np.int64)
        for mode in ("independent", "left_side", "side_right", "mid_side"):
            g, _, n2 = _flac_samples(encode_flac(st, bits=bits, stereo_mode=mode))
            assert n2 == 2 and np.array_equal(
                g.reshape(-1, 2).astype(np.int64), st
            ), (bits, mode)
    # method 1 appears in the emitted stream for wide random content
    wide = rng.randint(-(1 << 31), 1 << 31, 3000).astype(np.int64)
    p = encode_flac(wide, bits=32)
    s, _, _ = _flac_samples(p)
    assert np.array_equal(s.astype(np.int64), wide)
    # 8/12-bit sit on the int16 grid and fingerprint directly
    small = rng.randint(-128, 128, 500).astype(np.int64)
    assert np.array_equal(
        _pcm16_samples(encode_flac(small, bits=8)).astype(np.int64), small
    )


def test_bmp_os2_core_header_decodes():
    """OS/2 BITMAPCOREHEADER (12-byte, r11 late): u16 dims, 3-byte
    palette entries — a different field layout than every Windows
    header; 24-bit and 8-bit paletted decode, truncations raise."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _bmp_pixels,
        decode_bmp,
    )

    def make_core(px, bpp=24, pal=None):
        h, w = px.shape[:2]
        stride = (w * (bpp // 8) + 3) // 4 * 4
        body = bytearray()
        for y in range(h):
            row = px[::-1][y].tobytes()
            body += row + bytes(stride - len(row))
        paldata = pal.tobytes() if pal is not None else b""
        off = 26 + len(paldata)
        hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        core = struct.pack("<IHHHH", 12, w, h, 1, bpp)
        return bytes(hdr + core + paldata + body)

    rng = np.random.RandomState(107)
    bgr = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    assert (_bmp_pixels(make_core(bgr)) == bgr).all()
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.randint(0, 256, (4, 6)).astype(np.uint8)
    assert (_bmp_pixels(make_core(idx, bpp=8, pal=pal)) == pal[idx]).all()
    d = decode_bmp(make_core(bgr))
    assert (d["width"], d["height"]) == (7, 5)
    for cut in (10, 20, 30, 100):
        with pytest.raises(ValueError):
            _bmp_pixels(make_core(bgr)[:cut])
    # 4-bit core headers stay honestly unsupported
    with pytest.raises(ValueError, match="OS/2"):
        _bmp_pixels(make_core(bgr)[:26].ljust(64, b"\x00")[:18] + struct.pack("<HHHH", 4, 4, 1, 4) + bytes(200))


# --- real-world cross-container agreement (r12) ------------------------------

_CPY_AUDIO = "/root/.pyenv/versions/3.7.16/lib/python3.7/test/audiodata"


def _cpy(name):
    import os

    path = os.path.join(_CPY_AUDIO, name)
    if not os.path.exists(path):
        pytest.skip("CPython audiodata fixtures not on this box")
    return open(path, "rb").read()


def test_real_world_cross_container_agreement():
    """CPython's test suite ships the SAME plucked-string recording in
    WAV and AIFF at several widths — real third-party files, so two
    INDEPENDENT container decoders can be checked against each other
    with no fixture of ours in the loop. The 24/32-bit variants are
    bit-identical across containers (one master); the 16-bit and
    G.711 variants are independent transcodes, equal within a few LSB."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        decode_aiff,
        decode_wav,
    )

    # stereo 16-bit: same audio through two container decoders
    w = _pcm16_samples(_cpy("pluck-pcm16.wav")).astype(np.int64)
    a = _pcm16_samples(_cpy("pluck-pcm16.aiff")).astype(np.int64)
    assert len(w) == len(a) == 6614  # 3307 frames x 2 ch
    assert np.abs(w - a).max() <= 16  # independent transcodes: LSB dither
    dw = decode_wav(_cpy("pluck-pcm16.wav"))
    assert dw["n_channels"] == 2 and dw["sample_rate"] == 11025
    assert dw["n_frames"] == 3307

    # 24/32-bit: one master, two containers, bit-identical stats
    for width in ("pcm24", "pcm32"):
        stats = [
            decode_wav(_cpy(f"pluck-{width}.wav")),
            decode_aiff(_cpy(f"pluck-{width}.aiff")),
        ]
        for k in ("n_frames", "sample_rate", "rms", "peak"):
            vals = {round(s[k], 9) if isinstance(s[k], float) else s[k] for s in stats}
            assert len(vals) == 1, f"{width} {k} disagrees across containers: {vals}"

    # G.711: u-law and A-law (AIFC) expand through the spec tables to ~37 dB of the linear original — the real-world
    # companding bound
    def snr(x, y):
        x = x.astype(np.float64)
        y = y.astype(np.float64)
        return 10 * np.log10(np.dot(x, x) / np.dot(x - y, x - y))

    for name in ("pluck-ulaw.aifc", "pluck-alaw.aifc"):
        g = _pcm16_samples(_cpy(name)).astype(np.int64)
        assert len(g) == 6614
        s = snr(w, g)
        assert 30.0 < s < 45.0, f"{name}: companded SNR {s:.1f} dB off-band"

    # 8-bit AIFF (signed linear): same audio at 8-bit precision
    e8a = _pcm16_samples(_cpy("pluck-pcm8.aiff")).astype(np.int64)
    assert snr(w, e8a * 256) > 25.0


_CPY_IMG = "/root/.pyenv/versions/3.7.16/lib/python3.7/test/imghdrdata"


def test_real_world_cross_format_image_agreement():
    """CPython's imghdrdata ships the same 16x16 logo in every classic
    image format — real third-party encodes, so the PNG and BMP
    decoders can be required to agree PIXEL-EXACTLY with no home-made
    fixture in the loop; GIF agrees through its 8-bit palette and
    JPEG through its quantization."""
    import os

    if not os.path.isdir(_CPY_IMG):
        pytest.skip("CPython imghdrdata fixtures not on this box")

    def px(name, fn):
        return fn(open(os.path.join(_CPY_IMG, name), "rb").read())

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        _image_pixels,
        _jpeg_pixels,
        _png_pixels,
    )

    ref = px("python.png", _png_pixels)
    assert ref.shape == (16, 16, 3)
    # the format-agnostic surface must agree PIXEL-EXACTLY — this also
    # proves the BMP stored-BGR convention is converted at the
    # _image_pixels boundary on a real file (the first draft of this
    # test compared _bmp_pixels raw and caught the channel swap that
    # sum-invariant oracles can never see)
    got = px("python.bmp", _image_pixels)
    assert np.array_equal(got, ref), "python.bmp disagrees with python.png"

    gif = px("python.gif", _gif_pixels).astype(np.int64)
    assert gif.shape == ref.shape
    assert np.abs(gif - ref.astype(np.int64)).mean() < 20  # 8-bit palette

    jpg = px("python.jpg", _jpeg_pixels).astype(np.float64)
    err = jpg - ref.astype(np.float64)
    psnr = 10 * np.log10(255.0**2 / np.mean(err**2))
    # hard-edged 16x16 graphic: this third-party encode measures
    # 23.4 dB against the lossless original — a sane decode sits well
    # above 20; a channel swap or dequant error would crater it
    assert psnr > 20.0, f"JPEG logo PSNR {psnr:.1f} dB"


# --- real-world NON-SILENT ground truth (r13) ---------------------------------


def test_real_world_nonsilent_tone_and_voice():
    """Every real-fixture gate before this one decoded digital silence
    or a 3-5 frame snippet — regimes where most of a decoder is a
    no-op (the r12-advice circularity critique). CPython 2.7's
    ``Sine-1000Hz-300ms.aif`` is a labelled pure tone, so it closes
    that hole with signal PHYSICS no header check can fake: the
    AIFF-PCM path must reproduce the label (48 kHz stereo, 14400
    frames = 300 ms) and the waveform: a windowed FFT peak within one
    bin of 1000 Hz on EACH de-interleaved channel, >99% of AC spectral
    energy inside peak±3 bins (a byte-swap, channel smear, or sign
    error scatters energy broadband), and the pure-sine rms/peak ratio
    1/sqrt(2) to three decimals.
    """
    import os

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aiff_samples,
        decode_aiff,
    )

    sine_path = (
        "/root/.pyenv/versions/2.7.18/lib/python2.7/test/Sine-1000Hz-300ms.aif"
    )
    if not os.path.exists(sine_path):
        pytest.skip("CPython non-silent audio fixture not on this box")

    p = open(sine_path, "rb").read()
    d = decode_aiff(p)
    assert (d["n_channels"], d["sample_rate"], d["n_frames"]) == (2, 48000, 14400)
    assert abs(d["duration_s"] - 0.3) < 1e-9
    assert abs(d["rms"] / d["peak"] - 1 / np.sqrt(2)) < 1e-3
    s, rate, nch = _aiff_samples(p)
    assert (rate, nch) == (48000, 2)
    for ch in (s[0::2], s[1::2]):
        x = ch.astype(np.float64) * np.hanning(len(ch))
        spec = np.abs(np.fft.rfft(x))
        freqs = np.fft.rfftfreq(len(ch), 1 / rate)
        k = int(np.argmax(spec))
        assert abs(freqs[k] - 1000.0) <= rate / len(ch) + 1e-9, freqs[k]
        ac = spec[1:] ** 2
        window = ac[max(k - 4, 0) : k + 3]  # peak±3 bins in AC indexing
        assert window.sum() > 0.99 * ac.sum()


# --- formats cut from the fixtures -----------------------------------------
# TIFF, WebP, Matroska, MP4 audio, DDS, PCX, SGI, lossless JPEG, APNG
# playback and animated GIF no longer decode. Their payloads must still
# quarantine on every surface, the still-image decoders read an APNG or
# an animated GIF as its first image, and every fixture slot that used
# to carry one of these containers hashes exactly as its base container
# does. The payloads below are built by hand: their encoders are gone.

_KEPT_MIMES = (
    "image/bmp", "image/png", "image/gif", "image/jpeg",
    "audio/wav", "audio/aiff", "audio/flac", "video/x-msvideo", "video/mp4",
)


def _assert_cut_format_quarantines(payload: bytes, mime: str) -> None:
    """A payload in a format with no decoder quarantines everywhere:
    under its own mime ``decode_media`` raises NotImplementedError
    naming the mime; mislabeled as any kept mime, or sniffed by the
    image and audio fingerprint paths, it raises ValueError."""
    import re

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _image_pixels,
        _pcm16_samples,
        decode_media,
    )

    with pytest.raises(NotImplementedError, match=re.escape(repr(mime))):
        decode_media(payload, mime)
    for kept in _KEPT_MIMES:
        with pytest.raises(ValueError):
            decode_media(payload, kept)
    for sniff in (_image_pixels, _pcm16_samples):
        with pytest.raises(ValueError):
            sniff(payload)


def _assert_truncations_quarantine(payload: bytes, mime: str, cuts) -> None:
    for cut in cuts:
        _assert_cut_format_quarantines(payload[:cut], mime)


def _tiff(px: np.ndarray, compression: int = 1, strip: bytes | None = None,
          extra: tuple = ()) -> bytes:
    """A little-endian one-strip RGB TIFF: IFD entries (tag, type,
    value), strip offset patched to the data after the IFD."""
    h, w = px.shape[:2]
    data = px.tobytes() if strip is None else strip
    entries = sorted(
        [
            (256, 4, w), (257, 4, h), (258, 3, 8), (259, 3, compression),
            (262, 3, 2), (273, 4, 0), (277, 3, 3), (278, 4, h),
            (279, 4, len(data)),
        ]
        + list(extra)
    )
    data_off = 8 + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<IH", 8, len(entries)))
    for tag, typ, val in entries:
        val = data_off if tag == 273 else val
        fmt = "<HHIH2x" if typ == 3 else "<HHII"
        out += struct.pack(fmt, tag, typ, 1, val)
    return bytes(out + struct.pack("<I", 0) + data)


def _tiff_entry_at(payload: bytes, tag: int) -> int:
    (n,) = struct.unpack_from("<H", payload, 8)
    for i in range(n):
        if struct.unpack_from("<H", payload, 10 + 12 * i)[0] == tag:
            return 10 + 12 * i
    raise KeyError(tag)


def _riff_webp(*chunks: tuple[bytes, bytes]) -> bytes:
    body = b"WEBP" + b"".join(
        cc + struct.pack("<I", len(d)) + d + b"\x00" * (len(d) & 1)
        for cc, d in chunks
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _vp8l(w: int, h: int, version: int = 0, body: bytes = bytes(16)) -> bytes:
    """A VP8L chunk body: signature 0x2f, 14-bit w-1 and h-1, alpha
    bit, 3-bit version, then the (here opaque) bitstream."""
    return b"\x2f" + struct.pack("<I", (w - 1) | (h - 1) << 14 | version << 29) + body


def _ebml(eid: bytes, body: bytes) -> bytes:
    """One EBML element with an 8-byte size field."""
    return eid + ((1 << 56) | len(body)).to_bytes(8, "big") + body


def _mkv(track: bytes, blocks: bytes, doctype: bytes = b"matroska") -> bytes:
    header = _ebml(b"\x1a\x45\xdf\xa3", _ebml(b"\x42\x82", doctype))
    info = _ebml(b"\x15\x49\xa9\x66", _ebml(b"\x2a\xd7\xb1", b"\x0f\x42\x40"))
    cluster = _ebml(b"\x1f\x43\xb6\x75", _ebml(b"\xe7", b"\x00") + blocks)
    tracks = _ebml(b"\x16\x54\xae\x6b", track)
    return header + _ebml(b"\x18\x53\x80\x67", info + tracks + cluster)


def _mkv_track(number: int, codec: bytes, settings: bytes = b"") -> bytes:
    return _ebml(
        b"\xae",
        _ebml(b"\xd7", bytes([number]))
        + _ebml(b"\x86", codec)
        + settings,
    )


def _mkv_blocks(frames: list[bytes], track: int = 1) -> bytes:
    return b"".join(
        _ebml(b"\xa3", bytes([0x80 | track]) + b"\x00\x00\x80" + f) for f in frames
    )


def _m4a(codec: bytes = b"sowt", pcm: bytes = bytes(64)) -> bytes:
    """An audio-only ISO-BMFF file: one 'soun' trak with a sound
    sample entry (mono, 16-bit, 8 kHz) and its samples in mdat."""
    hdlr = _box(b"hdlr", bytes(8) + b"soun" + bytes(12))
    mdhd = _box(b"mdhd", bytes(12) + struct.pack(">II", 8000, len(pcm) // 2) + bytes(4))
    entry = codec + bytes(6) + struct.pack(">H", 1) + bytes(8)
    entry += struct.pack(">HHHHI", 1, 16, 0, 0, 8000 << 16)
    stsd = _box(b"stsd", bytes(4) + struct.pack(">I", 1) + struct.pack(">I", 8 + len(entry)) + entry)
    stsz = _box(b"stsz", bytes(4) + struct.pack(">II", 2, len(pcm) // 2))
    stbl = _box(b"stbl", stsd + stsz)
    trak = _box(b"trak", _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl)))
    return _box(b"ftyp", b"M4A " + bytes(4) + b"M4A isom") + _box(b"moov", trak) + _box(b"mdat", pcm)


def _dds(w: int, h: int, fourcc: bytes = b"", data: bytes = b"") -> bytes:
    """A DDS surface: 'DDS ' + the 124-byte header (a fourCC pixel
    format when given, else 24-bit masked RGB) + the surface bytes."""
    if fourcc:
        pf = struct.pack("<II4sIIIII", 32, 0x4, fourcc, 0, 0, 0, 0, 0)
    else:
        pf = struct.pack("<II4sIIIII", 32, 0x40, bytes(4), 24, 0xFF0000, 0xFF00, 0xFF, 0)
    head = struct.pack("<IIIIIII", 124, 0x100F, h, w, w * 3, 0, 1) + bytes(44) + pf
    head += struct.pack("<IIIII", 0x1000, 0, 0, 0, 0)
    return b"DDS " + head + (data or bytes(w * h * 3))


def _apng(frames: list[np.ndarray]) -> bytes:
    """An APNG of full-canvas frames: IHDR, acTL, then fcTL + IDAT for
    the default image and fcTL + fdAT for each later frame, every
    frame's zlib stream taken from ``encode_png``."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _PNG_MAGIC,
        _png_chunk,
        encode_png,
    )

    def chunks(png: bytes) -> list[tuple[bytes, bytes]]:
        pos, out = 8, []
        while pos < len(png):
            (n,) = struct.unpack_from(">I", png, pos)
            out.append((png[pos + 4 : pos + 8], png[pos + 8 : pos + 8 + n]))
            pos += 12 + n
        return out

    h, w = frames[0].shape[:2]
    out = bytearray(_PNG_MAGIC)
    out += _png_chunk(b"IHDR", chunks(encode_png(frames[0]))[0][1])
    out += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    for i, f in enumerate(frames):
        out += _png_chunk(b"fcTL", struct.pack(">IIIIIHHBB", seq, w, h, 0, 0, 1, 10, 0, 0))
        seq += 1
        idat = b"".join(d for t, d in chunks(encode_png(f)) if t == b"IDAT")
        if i == 0:
            out += _png_chunk(b"IDAT", idat)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + idat)
            seq += 1
    return bytes(out + _png_chunk(b"IEND", b""))


def _animated_gif(frames: list[np.ndarray]) -> bytes:
    """A multi-image GIF stacked from ``encode_gif`` stills: the first
    still's header and image block, then each later still's image
    block (local color table + LZW data), then the trailer."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import encode_gif

    out = bytearray(encode_gif(frames[0])[:-1])
    for f in frames[1:]:
        out += encode_gif(f)[13:-1]
    return bytes(out + b"\x3b")


def test_tiff_hostile_payloads_quarantine():
    """TIFF decode is gone: a baseline strip TIFF, its truncations, a
    dimension bomb and an implausible tag count all quarantine by
    name under image/tiff and as ValueError everywhere else."""
    good = _tiff(np.zeros((4, 4, 3), dtype=np.uint8))
    _assert_cut_format_quarantines(good, "image/tiff")
    _assert_truncations_quarantine(good, "image/tiff", (5, 11, len(good) // 2, len(good) - 2))
    bomb = bytearray(good)
    for tag in (256, 257):
        struct.pack_into("<I", bomb, _tiff_entry_at(good, tag) + 8, 100_000)
    _assert_cut_format_quarantines(bytes(bomb), "image/tiff")
    bomb = bytearray(good)
    struct.pack_into("<I", bomb, 10 + 4, 1 << 28)  # first entry's count
    _assert_cut_format_quarantines(bytes(bomb), "image/tiff")


def test_tiff_jpeg_hostile_payloads_quarantine():
    """JPEG-in-TIFF (compression 7) stores abbreviated JPEG strips with
    the tables in tag 347. The TIFF quarantines by name; lifted out of
    it, the abbreviated strip is refused by the baseline JPEG decoder
    (no quant or huffman tables) while the full stream decodes."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    px = np.tile(np.repeat(np.arange(8, dtype=np.uint8) * 30, 8), (8, 1))
    full = encode_jpeg(px)
    sos = full.index(b"\xff\xda")
    tables = full[:sos] + b"\xff\xd9"  # SOI + DQT/SOF/DHT + EOI
    strip = b"\xff\xd8" + full[sos:]  # SOI + scan + EOI
    tiff = _tiff(px[:, :, None].repeat(3, axis=2), compression=7, strip=strip,
                 extra=((347, 4, 0),))
    _assert_cut_format_quarantines(tiff, "image/tiff")
    _assert_truncations_quarantine(tiff, "image/tiff", (30, len(tiff) // 2, len(tiff) - 10))
    for abbreviated in (strip, tables):
        with pytest.raises(ValueError):
            _jpeg_pixels(abbreviated)
    assert (_jpeg_pixels(full)[:, :, 0] == px).all()
    # old-style JPEG (compression 6) quarantines the same way
    old = bytearray(tiff)
    struct.pack_into("<H", old, _tiff_entry_at(tiff, 259) + 8, 6)
    _assert_cut_format_quarantines(bytes(old), "image/tiff")


def test_tiff_tiled_hostile_payloads():
    """A tiled TIFF (tags 322-325) and one whose tile size lies past
    any cap quarantine by name, as do its truncations."""
    px = np.zeros((24, 24, 3), dtype=np.uint8)
    tiled = _tiff(px, extra=((322, 4, 16), (323, 4, 16), (324, 4, 0), (325, 4, 0)))
    _assert_cut_format_quarantines(tiled, "image/tiff")
    bomb = bytearray(tiled)
    for tag in (322, 323):
        struct.pack_into("<I", bomb, _tiff_entry_at(tiled, tag) + 8, 1 << 18)
    _assert_cut_format_quarantines(bytes(bomb), "image/tiff")
    _assert_truncations_quarantine(tiled, "image/tiff", (30, len(tiled) // 2, len(tiled) - 4))


def test_tiff_deflate_legacy_tag_and_bomb_bound():
    """Deflate TIFFs under both compression codes (8 and the legacy
    32946) quarantine by name, and so does a strip that would inflate
    to 16 MiB: with no TIFF decoder the stream is never inflated."""
    import zlib

    px = np.arange(108, dtype=np.uint8).reshape(6, 6, 3)
    for code in (8, 32946):
        deflate = _tiff(px, compression=code, strip=zlib.compress(px.tobytes()))
        _assert_cut_format_quarantines(deflate, "image/tiff")
    bomb = _tiff(px[:1, :4], compression=8, strip=zlib.compress(bytes(1 << 24)))
    _assert_cut_format_quarantines(bomb, "image/tiff")


def test_tiff_deflate_in_mixed_image_fixture(spark):
    """The image fixture's old TIFF slot (doc_id % 3 == 2) now carries
    a PNG — the same Deflate compression, lossless — so all six docs of
    one text decode to the same pixels."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _image_pixels,
        synthesize_mixed_image_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "same text for every image container") for i in range(6)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    for d in (2, 5):
        png = bytes(rows[d].payload)
        assert rows[d].mime == "image/png" and png[:4] == b"\x89PNG"
        idat = png.index(b"IDAT")
        assert png[idat + 4] & 0x0F == 8  # zlib CM: deflate
    ref = _image_pixels(bytes(rows[0].payload))
    for r in rows.values():
        assert np.array_equal(_image_pixels(bytes(r.payload)), ref), r.doc_id


def test_webp_corrupt_payloads_quarantine():
    """WebP decode is gone: a VP8L image, its truncations, a bad
    signature byte, a nonzero version and a 16383x16383 header bomb
    all quarantine by name under image/webp."""
    good = _riff_webp((b"VP8L", _vp8l(8, 8)))
    _assert_cut_format_quarantines(good, "image/webp")
    _assert_truncations_quarantine(good, "image/webp", (8, 11, 15, 21, len(good) - 3))
    bad_sig = bytearray(good)
    bad_sig[20] ^= 0xFF
    _assert_cut_format_quarantines(bytes(bad_sig), "image/webp")
    _assert_cut_format_quarantines(
        _riff_webp((b"VP8L", _vp8l(8, 8, version=5))), "image/webp"
    )
    _assert_cut_format_quarantines(
        _riff_webp((b"VP8L", _vp8l(16383, 16383))), "image/webp"
    )


def test_webp_animation_canvas_is_data_backed():
    """An animated WebP declaring a 4194328x8 canvas from a few bytes
    quarantines by name: nothing allocates a canvas for it now."""
    vp8x = bytes([0x02, 0, 0, 0]) + (4194327).to_bytes(3, "little") + (7).to_bytes(3, "little")
    anmf = bytes(12) + bytes(3) + bytes([0])
    _assert_cut_format_quarantines(
        _riff_webp((b"VP8X", vp8x), (b"ANMF", anmf)), "image/webp"
    )


def test_webp_routes_through_spark_paths_and_fixture(spark):
    """Through the Spark paths a WebP doc quarantines as one
    ``decode_features`` row naming image/webp and gets no aHash row,
    while the BMP beside it decodes; the old WebP slots of the image
    fixture (doc_id 3 and 27) now carry the slot's BMP and share the
    aHash of doc 0."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rng = np.random.RandomState(53)
    rgb = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (101, bytearray(_riff_webp((b"VP8L", _vp8l(16, 16)))), "image/webp"),
            (102, bytearray(make_bmp(rgb)), "image/bmp"),
        ],
        "doc_id long, payload binary, mime string",
    )
    feats = {r.doc_id: r for r in decode_features(df).collect()}
    assert len(feats) == 2 and feats[102].ok
    assert not feats[101].ok and "NotImplementedError" in feats[101].err
    assert "'image/webp'" in feats[101].err

    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in (0, 3, 27)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_image_from_text(docs).unionByName(df)
    hashes = {r.doc_id: r.ahash for r in image_ahash(mixed).collect()}
    assert set(hashes) == {0, 3, 27, 102}
    assert hashes[0] == hashes[3] == hashes[27]


def test_webp_animation_playback_and_video_fixture(spark):
    """Animated-WebP playback is gone: ``video_frame_hashes`` emits no
    frame rows for one. The old animated-WebP slots of the video
    fixture (doc_id 6 and 18) now carry VID0 and hash frame for frame
    like doc 0."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    anim = _riff_webp(
        (b"VP8X", bytes([0x02, 0, 0, 0]) + (7).to_bytes(3, "little") * 2),
        (b"ANMF", bytes(16) + _vp8l(8, 8)),
    )
    _assert_cut_format_quarantines(anim, "image/webp")
    docs = spark.createDataFrame(
        [(i, "one text for every doc") for i in (0, 6, 18)],
        "doc_id long, text string",
    )
    anim_df = spark.createDataFrame(
        [(99, bytearray(anim), "image/webp")],
        "doc_id long, payload binary, mime string",
    )
    mixed = synthesize_mixed_video_from_text(docs).unionByName(anim_df)
    by_doc = {}
    for r in video_frame_hashes(mixed).collect():
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.fhash))
    assert set(by_doc) == {0, 6, 18} and len(by_doc[0]) == 6
    assert sorted(by_doc[0]) == sorted(by_doc[6]) == sorted(by_doc[18])


def test_mkv_corrupt_payloads_quarantine():
    """Matroska decode is gone: an A_PCM file, its truncations at every
    stage, a lacing table that overruns its block and a bare non-EBML
    payload all quarantine by name under audio/x-matroska."""
    raw = b"0123456789abcdef" * 4
    good = _mkv(_mkv_track(1, b"A_PCM/INT/LIT"), _mkv_blocks([raw[:32], raw[32:]]))
    _assert_cut_format_quarantines(good, "audio/x-matroska")
    _assert_truncations_quarantine(good, "audio/x-matroska", (5, 12, 30, 60, len(good) - 5))
    bad = bytearray(good)
    i = bad.find(b"\xa3\x01", bad.find(b"\x1f\x43\xb6\x75"))  # first SimpleBlock
    bad[i + 9 + 3] = 0x82  # flags: Xiph lacing, with no lace table
    _assert_cut_format_quarantines(bytes(bad), "audio/x-matroska")
    _assert_cut_format_quarantines(b"\x00\x01\x02\x03", "audio/x-matroska")


def test_mkv_video_triage_and_transform_codec_quarantine():
    """With the EBML walk gone there is no metadata triage either: a
    V_VP8 WebM and an A_VORBIS Matroska quarantine by name under each
    Matroska/WebM mime."""
    video = _mkv(_mkv_track(1, b"V_VP8"), _mkv_blocks([bytes(12)] * 5), b"webm")
    for mime in ("video/webm", "video/x-matroska"):
        _assert_cut_format_quarantines(video, mime)
    vorbis = _mkv(_mkv_track(2, b"A_VORBIS"), _mkv_blocks([bytes(12)], track=2))
    for mime in ("audio/webm", "audio/x-matroska"):
        _assert_cut_format_quarantines(vorbis, mime)


def test_mkv_fixture_rotation_and_spark_path(spark):
    """The audio fixture's old Matroska slots (doc_id 19 and 14) now
    carry AIFF and FLAC and hash like the WAV and FLAC docs of the same
    text; a Matroska doc and its truncation each quarantine as one
    ``decode_features`` row naming the mime and get no energy hash."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        synthesize_mixed_audio_from_text,
    )

    mkv = _mkv(_mkv_track(1, b"A_PCM/INT/LIT"), _mkv_blocks([b"features path bytes!"]))
    df = spark.createDataFrame(
        [
            (101, bytearray(mkv), "audio/x-matroska"),
            (102, bytearray(mkv[:15]), "audio/x-matroska"),
        ],
        "doc_id long, payload binary, mime string",
    )
    feats = decode_features(df).collect()
    assert sorted(r.doc_id for r in feats) == [101, 102]
    for r in feats:
        assert not r.ok and "'audio/x-matroska'" in r.err

    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in (0, 19, 14, 2)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_audio_from_text(docs).unionByName(df)
    hashes = {r.doc_id: r.ehash for r in audio_energy_hash(mixed).collect()}
    assert set(hashes) == {0, 19, 14, 2} and len(set(hashes.values())) == 1


def test_mkv_mjpeg_video_frames_match_avi(spark):
    """The same MJPEG frames hash identically in AVI and MP4, and a
    V_MJPEG Matroska of them emits no frame rows. The video fixture's
    old Matroska slots (doc_id 7 and 19) now carry the AVI of doc 1."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_mjpeg_container,
        _mjpeg_frames_for_text,
        _mp4_mjpeg_container,
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    frames = _mjpeg_frames_for_text(b"same frames in three containers", 4)
    twins = spark.createDataFrame(
        [
            (101, bytearray(_avi_mjpeg_container(frames)), "video/x-msvideo"),
            (102, bytearray(_mp4_mjpeg_container(frames)), "video/mp4"),
            (
                103,
                bytearray(_mkv(_mkv_track(1, b"V_MJPEG"), _mkv_blocks(frames))),
                "video/x-matroska",
            ),
        ],
        "doc_id long, payload binary, mime string",
    )
    docs = spark.createDataFrame(
        [(i, "one text for every doc") for i in (1, 7, 19)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_video_from_text(docs).unionByName(twins)
    by_doc = {}
    for r in video_frame_hashes(mixed).collect():
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.fhash))
    assert set(by_doc) == {1, 7, 19, 101, 102}
    assert len(by_doc[101]) == 4 and sorted(by_doc[101]) == sorted(by_doc[102])
    assert sorted(by_doc[1]) == sorted(by_doc[7]) == sorted(by_doc[19])


def test_mp4_audio_corrupt_payloads_quarantine():
    """MP4 audio decode is gone: an M4A and its truncations quarantine
    by name under audio/mp4; labeled video/mp4, the box walk finds no
    video track and raises ValueError."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import decode_media

    good = _m4a()
    _assert_cut_format_quarantines(good, "audio/mp4")
    with pytest.raises(ValueError, match="no video track"):
        decode_media(good, "video/mp4")
    _assert_truncations_quarantine(good, "audio/mp4", (20, len(good) // 2, len(good) - 30))
    _assert_cut_format_quarantines(b"\x00" * 32, "audio/mp4")


def test_mp4_pcm_in_mixed_audio_fixture(spark):
    """The audio fixture's old PCM-in-MP4 slots (doc_id % 6 == 3) now
    carry the WAV of their doc_id % 3 == 0 slot; all twelve docs of
    one text decode to the same int16 samples."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    text = "an even-length audio fixture text!"  # 34 bytes
    docs = spark.createDataFrame(
        [(i, text) for i in range(3, 15)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in synthesize_mixed_audio_from_text(docs).collect()}
    assert len(rows) == 12
    for d in (3, 9):
        assert rows[d].mime == "audio/wav"
        got = decode_media(bytes(rows[d].payload), "audio/wav")
        assert got["n_channels"] == 1 and got["n_frames"] == len(text)
    ref = _pcm16_samples(bytes(rows[3].payload))
    for r in rows.values():
        assert np.array_equal(_pcm16_samples(bytes(r.payload)), ref), r.doc_id


def test_dds_corrupt_payloads_quarantine():
    """DDS decode is gone: uncompressed and DXT1 surfaces, truncations,
    a lying header size and a foreign fourCC all quarantine by name
    under image/x-dds."""
    good = _dds(8, 8)
    _assert_cut_format_quarantines(good, "image/x-dds")
    dxt1 = _dds(8, 8, b"DXT1", bytes(32))
    _assert_cut_format_quarantines(dxt1, "image/x-dds")
    _assert_truncations_quarantine(dxt1, "image/x-dds", (3, 10, 100, 127, len(dxt1) - 3))
    bad = bytearray(dxt1)
    bad[4] = 100  # header size != 124
    _assert_cut_format_quarantines(bytes(bad), "image/x-dds")
    bad = bytearray(dxt1)
    bad[84:88] = b"ATI2"
    _assert_cut_format_quarantines(bytes(bad), "image/x-dds")


def test_dds_fixture_rotation_shares_the_ahash(spark):
    """The image fixture's old DDS slots (doc_id 24 and 72) now carry
    the slot's BMP — byte for byte the BMP of doc 0 — so they share
    its aHash."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_mixed_image_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in (0, 24, 72)],
        "doc_id long, text string",
    )
    rows = synthesize_mixed_image_from_text(docs).collect()
    assert {r.mime for r in rows} == {"image/bmp"}
    assert len({bytes(r.payload) for r in rows}) == 1
    assert bytes(rows[0].payload)[:2] == b"BM"


def test_pcx_and_sgi_corrupt_payloads_quarantine():
    """PCX and SGI decode are gone: an RLE PCX and an RLE SGI image,
    their truncations and an SGI offset table pointing past the file
    quarantine by name under image/x-pcx and image/sgi."""
    w = h = 8
    pcx_head = struct.pack("<BBBBHHHH", 0x0A, 5, 1, 8, 0, 0, w - 1, h - 1)
    pcx_head += bytes(4 + 48 + 1) + struct.pack("<BHH", 3, w, 1) + bytes(58)
    pcx = pcx_head + (b"\xc8\x00" * (3 * h))  # one 8-byte run per plane row
    sgi_head = struct.pack(">hBBHHHH", 474, 1, 1, 3, w, h, 3) + bytes(500)
    starts = [512 + 2 * 4 * 3 * h + 2 * i for i in range(3 * h)]
    table = struct.pack(f">{3 * h}I", *starts) + struct.pack(f">{3 * h}I", *[2] * (3 * h))
    sgi = sgi_head + table + b"\x88\x00" * (3 * h)  # repeat 8 zeros, stop
    for payload, mime in ((pcx, "image/x-pcx"), (sgi, "image/sgi")):
        _assert_cut_format_quarantines(payload, mime)
        _assert_truncations_quarantine(payload, mime, (3, 64, 130, 300, len(payload) - 3))
    bad = bytearray(sgi)
    struct.pack_into(">I", bad, 512, 1 << 30)
    _assert_cut_format_quarantines(bytes(bad), "image/sgi")


def test_jpeg_lossless_corrupt_payloads_quarantine():
    """Lossless (SOF3) JPEG decode is gone. The baseline decoder's
    marker walk still reads such a stream: cut before its SOF it
    raises ValueError (no frame header), from the SOF on it raises
    NotImplementedError naming SOF3 — a 65535x65535 header bomb
    included, before any allocation."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.RandomState(31)
    good = bytearray(encode_jpeg(rng.randint(0, 256, (8, 8)).astype(np.uint8)))
    sof = good.index(b"\xff\xc0")
    good[sof + 1] = 0xC3
    good = bytes(good)
    for cut in (4, 10, sof):
        with pytest.raises(ValueError):
            _jpeg_pixels(good[:cut])
    for cut in (sof + 12, len(good) - 6, len(good)):
        with pytest.raises(NotImplementedError, match="SOF3"):
            _jpeg_pixels(good[:cut])
    bomb = bytearray(good)
    bomb[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(NotImplementedError, match="SOF3"):
        _jpeg_pixels(bytes(bomb))


def test_jpeg_lossless_routes_through_spark_feature_path(spark):
    """A lossless JPEG travels the same mapInPandas feature/aHash
    plumbing as every other image and quarantines there: one
    ``decode_features`` row naming SOF3 and no aHash row, while the
    BMP of the same pixels decodes and hashes."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_jpeg,
        image_ahash,
    )

    rng = np.random.RandomState(37)
    rgb = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    lossless = bytearray(encode_jpeg(rgb))
    sof = lossless.index(b"\xff\xc0")
    lossless[sof + 1] = 0xC3
    df = spark.createDataFrame(
        [
            (1, lossless, "image/jpeg"),
            (2, bytearray(make_bmp(rgb)), "image/bmp"),
        ],
        "doc_id long, payload binary, mime string",
    )
    feats = {r.doc_id: r for r in decode_features(df).collect()}
    assert len(feats) == 2
    assert not feats[1].ok and "NotImplementedError" in feats[1].err and "SOF3" in feats[1].err
    assert feats[2].ok and (feats[2].width, feats[2].height) == (16, 16)
    assert [r.doc_id for r in image_ahash(df.drop("mime")).collect()] == [2]


def test_apng_frames_compose_and_metadata():
    """With the APNG frame layer gone an APNG is a PNG whose default
    image is frame 0: ``decode_png`` skips acTL/fcTL/fdAT and reports
    that image's dims and means, no frame count; image/apng itself
    quarantines by name."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_pixels,
        decode_media,
        decode_png,
    )

    rng = np.random.RandomState(61)
    f0 = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    f1 = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    apng = _apng([f0, f1])
    assert (_png_pixels(apng) == f0).all()
    meta = decode_png(apng)
    assert (meta["width"], meta["height"]) == (10, 8) and "n_frames" not in meta
    assert meta["mean_r"] == pytest.approx(f0[:, :, 0].mean())
    assert decode_media(apng, "image/png") == meta
    with pytest.raises(NotImplementedError, match="'image/apng'"):
        decode_media(apng, "image/apng")


def test_apng_corrupt_payloads_quarantine():
    """Truncated APNGs quarantine as ValueError through the PNG
    decoder; damage confined to the animation chunks (an acTL frame
    count that lies, a broken fcTL sequence number) no longer matters —
    the default image decodes unchanged."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.RandomState(67)
    f0 = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    f1 = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    good = _apng([f0, f1])
    idat_end = good.index(b"IDAT") + 4 + struct.unpack_from(">I", good, good.index(b"IDAT") - 4)[0]
    for cut in (10, 40, 80, idat_end - 2):
        with pytest.raises(ValueError):
            _png_pixels(good[:cut])
    bad = bytearray(good)
    i = bad.find(b"acTL")
    bad[i + 4 : i + 8] = struct.pack(">I", 3)
    assert (_png_pixels(bytes(bad)) == f0).all()
    bad = bytearray(good)
    i = bad.find(b"fcTL")
    bad[i + 4 : i + 8] = struct.pack(">I", 9)
    assert (_png_pixels(bytes(bad)) == f0).all()


def test_apng_mutated_fdat_quarantines_as_value_error():
    """A mutated fdAT body is never inflated now, so the default image
    still decodes; the same mutation in the IDAT body reaches zlib and
    surfaces as the uniform ValueError, not a raw zlib.error."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.RandomState(71)
    f0 = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    good = _apng([f0, f0])
    bad = bytearray(good)
    bad[bad.find(b"fdAT") + 12] ^= 0xFF
    assert (_png_pixels(bytes(bad)) == f0).all()
    bad = bytearray(good)
    bad[bad.find(b"IDAT") + 8] ^= 0xFF
    with pytest.raises(ValueError, match="corrupt PNG|size mismatch"):
        _png_pixels(bytes(bad))


def test_apng_canvas_bomb_bounded_before_allocation():
    """An APNG whose IHDR width demands a 171 GiB image hits the PNG
    decoder's absolute pixel cap before any allocation."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.RandomState(83)
    f0 = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    bomb = bytearray(_apng([f0, f0]))
    bomb[16:20] = struct.pack(">I", 0xAB000010)  # IHDR width
    with pytest.raises(ValueError, match="decode cap"):
        _png_pixels(bytes(bomb))


def test_apng_video_fixture_matches_vid0(spark):
    """The video fixture's old APNG slots (doc_id 9 and 21) now carry
    VID0 and hash frame for frame like doc 0; an APNG fed to the frame
    path gets no rows (not a video container)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(i, "one text for every doc") for i in (0, 9, 21)],
        "doc_id long, text string",
    )
    f0 = np.zeros((4, 4, 3), dtype=np.uint8)
    apng = spark.createDataFrame(
        [(99, bytearray(_apng([f0, f0 + 9])), "image/apng")],
        "doc_id long, payload binary, mime string",
    )
    mixed = synthesize_mixed_video_from_text(docs).unionByName(apng)
    by_doc = {}
    for r in video_frame_hashes(mixed).collect():
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.fhash))
    assert set(by_doc) == {0, 9, 21} and len(by_doc[0]) == 6
    assert sorted(by_doc[0]) == sorted(by_doc[9]) == sorted(by_doc[21])


def test_gif_animation_disposal_and_first_frame_compat():
    """Animated GIF playback is gone; the still decoder reads the first
    image. A crafted two-frame GIF (frame 1 two pixels of color 1 with
    disposal 2, frame 2 a transparent 1x1 patch) decodes to frame 1,
    and a stack of stills decodes to its first still."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_lzw_encode,
        _gif_pixels,
        decode_gif,
        encode_gif,
    )

    pal = b"\x10\x20\x30" + b"\xaa\xbb\xcc" + b"\x00" * 6  # bg = index 0
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 1, 0x80 | 0x01, 0, 0)  # 4-color global
    out += pal
    out += b"\x21\xf9\x04" + bytes([2 << 2]) + b"\x00\x00\x00\x00"  # disposal 2
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
    data = _gif_lzw_encode([1, 1], 2)
    out += bytes([2, len(data)]) + data + b"\x00"
    out += b"\x21\xf9\x04" + bytes([1]) + b"\x00\x00\x03\x00"  # transparent 3
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, 1, 1, 0)
    data = _gif_lzw_encode([3], 2)
    out += bytes([2, len(data)]) + data + b"\x00\x3b"
    px = _gif_pixels(bytes(out))
    assert px.shape == (1, 2, 3) and (px == [0xAA, 0xBB, 0xCC]).all()
    assert decode_gif(bytes(out))["mean_r"] == 0xAA

    a = (np.arange(48, dtype=np.uint8).reshape(4, 4, 3) * 5).astype(np.uint8)
    b = 255 - a
    assert (_gif_pixels(_animated_gif([a, b])) == a).all()
    assert (_gif_pixels(encode_gif(a)) == a).all()


def test_gif_animation_hostile_payloads_quarantine():
    """The still decoder never allocates the logical screen: a GIF
    lying 65535x65535 there, or with a second frame outside it, still
    decodes its first image. Cuts into the first image quarantine as
    ValueError; cuts after it leave that image intact."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        encode_gif,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[1, 2] = 200
    good = _animated_gif([px, px[::-1]])
    bad = bytearray(good)
    struct.pack_into("<HH", bad, 6, 0xFFFF, 0xFFFF)
    assert (_gif_pixels(bytes(bad)) == px).all()
    second = good.index(b"\x2c", len(encode_gif(px)) - 1)
    bad = bytearray(good)
    struct.pack_into("<HH", bad, second + 1, 100, 100)
    assert (_gif_pixels(bytes(bad)) == px).all()
    first_end = len(encode_gif(px)) - 1
    for cut in (14, 20, first_end - 2):
        with pytest.raises(ValueError):
            _gif_pixels(good[:cut])
    for cut in (first_end + 3, len(good) - 3):
        assert (_gif_pixels(good[:cut]) == px).all()


def test_gif_playback_resource_bounds_review_findings():
    """Resource bounds of the still GIF decoder: (a) a zero-area first
    image decodes to an empty image rather than amplifying; (b) an
    image declaring 65535x65535 with enough LZW bytes to clear the
    data-backed bound still hits the absolute decode cap before the
    index list is built; (c) a long animation costs one image."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        decode_gif,
        encode_gif,
    )

    good = bytearray(encode_gif(np.zeros((4, 4, 3), dtype=np.uint8)))
    struct.pack_into("<HH", good, 13 + 5, 0, 0)  # first image w = h = 0
    assert _gif_pixels(bytes(good)).shape == (0, 0, 3)
    assert decode_gif(bytes(good))["width"] == 0

    big = bytearray(b"GIF89a") + struct.pack("<HHBBB", 1, 1, 0, 0, 0)
    big += struct.pack("<BHHHHB", 0x2C, 0, 0, 0xFFFF, 0xFFFF, 0x81) + bytes(12)
    big += b"\x02" + (b"\xff" + bytes(255)) * 1600 + b"\x00\x3b"  # 408 KB of data
    with pytest.raises(ValueError, match="decode cap"):
        _gif_pixels(bytes(big))

    frames = [np.full((64, 64, 3), k, dtype=np.uint8) for k in range(8)]
    px = _gif_pixels(_animated_gif(frames))
    assert px.shape == (64, 64, 3) and (px == 0).all()


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    nf=st.integers(1, 5),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_animation_round_trip_property(h, w, nf, seed):
    """Any stack of palette-sized stills decodes, through the still
    decoder, to exactly its first frame; each still round-trips on
    its own."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_pixels,
        encode_gif,
    )

    rng = np.random.RandomState(seed)
    frames = [(rng.randint(0, 4, (h, w, 3)) * 80).astype(np.uint8) for _ in range(nf)]
    assert (_gif_pixels(_animated_gif(frames)) == frames[0]).all()
    for f in frames:
        assert (_gif_pixels(encode_gif(f)) == f).all()
