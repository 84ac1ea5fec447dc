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
    wav = make_wav([500] * 100)
    bmp = make_bmp(np.full((3, 5, 3), 128, dtype=np.uint8))
    rows = [
        (1, bytearray(wav), "audio/wav"),
        (2, bytearray(bmp), "image/bmp"),
        (3, bytearray(b"not really media"), "image/bmp"),  # corrupt
        (4, bytearray(b"\x00" * 64), "video/x-flv"),  # unsupported codec
        (5, bytearray(b"\x00" * 64), "video/mp4"),  # corrupt container
        (6, bytearray(b"\x00" * 64), "video/webm"),  # corrupt EBML (r11)
    ]
    # formats with no decoder: each quarantines by name, never kills
    # the job (an MPEG frame header, then bare bytes)
    cut = ["audio/mpeg", "audio/x-voc", "audio/x-8svx", "image/heic", "image/x-xbitmap"]
    rows += [
        (7 + i, bytearray(b"\xff\xfb\x90\x00" + bytes(60)), mime)
        for i, mime in enumerate(cut)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    out = {r.doc_id: r for r in decode_features(df).collect()}
    assert len(out) == 6 + len(cut)  # quarantine, not row loss
    for i, mime in enumerate(cut):
        r = out[7 + i]
        assert not r.ok and r.mime == mime
        assert "NotImplementedError" in r.err and repr(mime) in r.err
    assert out[1].ok and out[1].kind == "audio"
    assert out[1].sample_rate == 8000 and out[1].n_frames == 100
    assert out[1].rms == pytest.approx(500.0)
    assert out[2].ok and out[2].kind == "image"
    assert (out[2].width, out[2].height) == (5, 3)
    assert out[2].mean_g == pytest.approx(128.0)
    assert not out[3].ok and "ValueError" in out[3].err
    assert not out[4].ok and "NotImplementedError" in out[4].err
    assert not out[5].ok and "ValueError" in out[5].err  # real walk, bad bytes
    assert not out[6].ok and "ValueError" in out[6].err  # real walk, bad bytes


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
    """16-bit-quant JPEGs and streams relabeled to a mode their scan
    headers contradict must raise — and through decode_features they
    quarantine per row, never killing the job. A baseline stream
    relabeled SOF3 is CORRUPT lossless (its scan's Ss=0 is not a
    valid predictor) now that SOF3 decodes for real (r11); relabeled
    SOF2 is CORRUPT progressive (its one scan has Ss=0,Se=63)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        decode_features,
        encode_jpeg,
    )

    good = encode_jpeg(np.zeros((8, 8), dtype=np.uint8))
    sof = good.find(b"\xff\xc0")
    lossless = bytearray(good)
    lossless[sof + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor 0 out of range"):
        _jpeg_pixels(bytes(lossless))
    fake_prog = bytearray(good)
    fake_prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive DC scan"):
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
    assert not rows[2].ok and "predictor" in rows[2].err
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


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive (SOF2, spectral selection + one level of successive
    approximation) reconstructs the EXACT same quantized coefficients
    as the baseline encoding of the same image — so decode must be
    bit-identical, grayscale and color, odd dims, both quant tables."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.RandomState(42)
    q1 = np.ones(64, dtype=np.int64)
    for h, w, gray, qt in [
        (16, 24, True, q1),
        (13, 21, True, None),
        (16, 24, False, q1),
        (13, 29, False, None),
        (1, 1, True, q1),
    ]:
        px = rng.randint(0, 256, (h, w) if gray else (h, w, 3)).astype(np.uint8)
        base = _jpeg_pixels(encode_jpeg(px, qtable=qt))
        prog = _jpeg_pixels(encode_jpeg(px, qtable=qt, progressive=True))
        assert (base == prog).all(), (h, w, gray)


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
    # an AVI whose only stream is 'auds' routes to the AUDIO arm
    # since r11; this mutant carries '00dc' video chunks and no
    # '00wb' audio data, so it quarantines there
    auds = bytearray(avi)
    ai = bytes(auds).find(b"strh") + 8
    auds[ai : ai + 4] = b"auds"
    with pytest.raises(ValueError, match="no audio data"):
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


def test_mp4_g711_sample_entries_decode():
    """'ulaw'/'alaw' AudioSampleEntries (r10, the QuickTime telephony
    staple) decode through the same stsz×stsc×stco resolution and the
    same CCITT tables as the WAV G.711 arm — byte-for-byte identical
    expansions; mp4a still quarantines."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _G711_ALAW,
        _G711_ULAW,
        _m4a_pcm_payload,
        _mp4_pcm_samples,
        _pcm16_samples,
        decode_media,
    )

    raw = bytes(range(200)) + bytes(reversed(range(56)))
    for codec, table in ((b"ulaw", _G711_ULAW), (b"alaw", _G711_ALAW)):
        p = _m4a_pcm_payload(raw, 8000, codec=codec)
        s, rate, nch = _mp4_pcm_samples(p)
        assert rate == 8000 and nch == 1
        want = table[np.frombuffer(raw, np.uint8)].astype(np.int16)
        assert np.array_equal(s, want)
        assert np.array_equal(_pcm16_samples(p), want)
        d = decode_media(p, "audio/mp4")
        assert d["kind"] == "audio" and d["n_frames"] == len(raw)
    # stereo ulaw: interleave preserved
    p2 = _m4a_pcm_payload(raw, 8000, codec=b"ulaw", stereo=True)
    s2, _, nch2 = _mp4_pcm_samples(p2)
    assert nch2 == 2 and len(s2) == len(raw)
    assert np.array_equal(s2, _G711_ULAW[np.frombuffer(raw, np.uint8)])


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
    """BMP, GIF, and TIFF arms (r9) decode to IDENTICAL RGB pixels
    for the same text, so ahash values (and the near-dup join's key
    entropy) are container-independent."""
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
    assert mimes[2] == "image/tiff" and mimes[5] == "image/tiff"
    hashes = {r.doc_id: r.ahash for r in image_ahash(mixed).collect()}
    assert len(hashes) == 6 and len(set(hashes.values())) == 1


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


def _make_m4a(**kwargs) -> bytes:
    """Canonical audio-only ISO-BMFF builder — shared engine-side
    synthesizer (also the fuzz-seed corpus), see ``_m4a_payload``."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _m4a_payload,
    )

    return _m4a_payload(**kwargs)


def test_mp4_audio_track_metadata_routing():
    """decode_media routes audio/mp4 through the real 'soun' trak walk
    (r9): AudioSampleEntry channel count, 16.16 sample rate, stsz
    sample count, mdhd duration — metadata-before-decode triage; the
    AAC sample payload itself stays undecodable (no codec libs)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_audio_track,
        _mp4_video_track,
        decode_media,
    )

    out = decode_media(_make_m4a(), "audio/mp4")
    assert out == {
        "kind": "audio",
        "n_channels": 2,
        "sample_rate": 44100,
        "n_frames": 44,
        "codec": "mp4a",
        "duration_s": 2.0,
    }
    # a short (pre-AudioSampleEntry-fields) entry degrades to zeros,
    # never reads past the declared entry
    short = decode_media(_make_m4a(entry_bytes=16), "audio/x-m4a")
    assert short["codec"] == "mp4a" and short["n_channels"] == 0
    # an audio-only MP4 still has NO video track; a video-only MP4 has
    # no audio track — the walks don't cross-match handlers
    with pytest.raises(ValueError, match="no video track"):
        _mp4_video_track(_make_m4a())
    with pytest.raises(ValueError, match="no audio track"):
        _mp4_audio_track(_make_mp4())
    # video+audio in one container: both walks find their own trak
    soun_trak = _make_m4a()
    moov_start = soun_trak.index(b"moov")
    trak = soun_trak[moov_start + 4 : soun_trak.index(b"mdat") - 4]
    both = _make_mp4(extra_trak=trak, n_frames=5)
    assert _mp4_video_track(both)["n_frames"] == 5
    assert _mp4_audio_track(both)["n_samples"] == 44


def test_mp4_audio_corrupt_payloads_quarantine():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mp4_audio_track,
    )

    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        _mp4_audio_track(b"\x00" * 32)
    good = _make_m4a()
    for cut in (len(good) - 30, len(good) // 2, 20):
        try:
            _mp4_audio_track(good[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


def test_mp4_pcm_round_trip_and_routing():
    """PCM-in-MP4 (r9): 'twos'/'sowt' sample entries decode REAL
    samples through the same stsz×stsc×stco resolution MJPEG video
    uses — both endiannesses, mono and stereo, multi-chunk stsc —
    while mp4a keeps the metadata-only stats and the sample layer's
    NotImplementedError quarantine."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _m4a_pcm_payload,
        _mp4_audio_track,
        _mp4_pcm_samples,
        _mp4_sample_ranges,
        _pcm16_samples,
        decode_media,
    )

    raw = b"0123456789" * 5 + b"abcdef"  # 56 bytes -> 7 chunks, 2 stsc runs
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    for codec in (b"twos", b"sowt"):
        for stereo in (False, True):
            p = _m4a_pcm_payload(raw, 8000, codec=codec, stereo=stereo)
            s, rate, nch = _mp4_pcm_samples(p)
            assert rate == 8000 and nch == (2 if stereo else 1)
            assert np.array_equal(s, want)
            # the container-agnostic fingerprint entry routes ftyp too
            assert np.array_equal(_pcm16_samples(p), want)
            d = decode_media(p, "audio/mp4")
            assert d["codec"] == codec.decode() and "rms" in d
            assert d["n_frames"] == len(raw) // (2 if stereo else 1)
    # the fixture exercises a short final chunk and a 2-run stsc
    p = _m4a_pcm_payload(raw, 8000)
    trk = _mp4_audio_track(p)
    assert len(_mp4_sample_ranges(p, trk)) == 56
    # odd byte counts can't split into stereo frames: mono fallback
    s, _, nch = _mp4_pcm_samples(_m4a_pcm_payload(raw[:-1], stereo=True))
    assert nch == 1 and len(s) == 55
    # mp4a: stats stay metadata-only, sample access quarantines
    meta = decode_media(_make_m4a(), "audio/mp4")
    assert meta["codec"] == "mp4a" and "rms" not in meta
    with pytest.raises(NotImplementedError):
        _pcm16_samples(_make_m4a())
    # truncations/corruption stay in the quarantine exception family
    good = _m4a_pcm_payload(raw, 8000)
    for cut in (len(good) - 10, len(good) // 2, 40):
        try:
            _mp4_pcm_samples(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


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


def test_mp4_pcm_in_mixed_audio_fixture(spark):
    """doc_id % 6 == 3 audio-fixture rows are PCM-in-MP4 ('twos'
    mono at % 12 == 3, 'sowt' stereo at % 12 == 9); the decoded
    stream equals the byte contract so the energy hash matches every
    other container."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    text = "an even-length audio fixture text!"  # 34 bytes
    docs = spark.createDataFrame(
        [(i, text) for i in range(3, 15)], "doc_id long, text string"
    )
    mixed = synthesize_mixed_audio_from_text(docs)
    rows = {r.doc_id: r for r in mixed.collect()}
    assert rows[3].mime == "audio/mp4" and rows[9].mime == "audio/mp4"
    assert rows[6].mime == "audio/wav" and rows[12].mime == "audio/wav"
    d3 = decode_media(bytes(rows[3].payload), "audio/mp4")
    assert d3["codec"] == "twos" and d3["n_channels"] == 1
    d9 = decode_media(bytes(rows[9].payload), "audio/mp4")
    assert d9["codec"] == "sowt" and d9["n_channels"] == 2
    hashes = {r.doc_id: r.ehash for r in audio_energy_hash(mixed).collect()}
    assert len(hashes) == 12 and len(set(hashes.values())) == 1


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


# --- GIF animation playback (r9 depth on the r8 codec) ---------------


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(2, 20),
    w=st.integers(2, 20),
    nf=st.integers(1, 5),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_animation_round_trip_property(h, w, nf, seed):
    """encode_gif_animation writes frame 2+ as bounding-box delta
    patches with a transparent index for unchanged pixels — so equality
    after decode proves the decoder's offset placement, transparency
    compositing, and canvas carry-over are all correct."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_frames,
        encode_gif_animation,
    )

    rng = np.random.RandomState(seed)
    base = (rng.randint(0, 4, (h, w, 3)) * 80).astype(np.uint8)
    frames = [base]
    for _ in range(nf - 1):
        nxt = frames[-1].copy()
        if rng.rand() < 0.8:  # mutate a sub-rectangle (sometimes none)
            y0, x0 = rng.randint(0, h), rng.randint(0, w)
            y1, x1 = rng.randint(y0, h) + 1, rng.randint(x0, w) + 1
            nxt[y0:y1, x0:x1] = (rng.randint(0, 4, (y1 - y0, x1 - x0, 3)) * 80).astype(
                np.uint8
            )
        frames.append(nxt)
    got = _gif_frames(encode_gif_animation(frames))
    assert len(got) == len(frames)
    for i, (g, f) in enumerate(zip(got, frames)):
        assert (g == f).all(), f"frame {i}"


def test_gif_animation_disposal_and_first_frame_compat():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_frames,
        _gif_pixels,
        encode_gif,
        encode_gif_animation,
    )

    # single-frame animation == the plain encoder's single image,
    # and _gif_pixels (first-frame fast path) agrees with playback
    px = (np.arange(48, dtype=np.uint8).reshape(4, 4, 3) * 5).astype(np.uint8)
    anim = encode_gif_animation([px])
    assert (_gif_frames(anim)[0] == px).all()
    assert (_gif_frames(encode_gif(px))[0] == _gif_pixels(encode_gif(px))).all()

    # disposal=2 (restore to background) between frames: craft a GIF
    # whose frame 2 is a transparent 1x1 patch — after disposal the
    # canvas region must show the BACKGROUND color, not frame 1
    import struct as _s

    pal = b"\x10\x20\x30" + b"\xaa\xbb\xcc" + b"\x00" * 6  # bg=idx0
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", 2, 1, 0x80 | 0x01, 0, 0)  # 4-color global, bg=0
    out += pal
    # frame 1: both pixels color 1, disposal=2
    out += b"\x21\xf9\x04" + bytes([(2 << 2) | 0]) + b"\x00\x00\x00\x00"
    out += _s.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_lzw_encode,
    )

    out.append(2)
    data = _gif_lzw_encode([1, 1], 2)
    out += bytes([len(data)]) + data + b"\x00"
    # frame 2: 1x1 patch at (0,0), transparent index 3 → shows what
    # disposal left underneath (the background color)
    out += b"\x21\xf9\x04" + bytes([(0 << 2) | 1]) + b"\x00\x00\x03\x00"
    out += _s.pack("<BHHHHB", 0x2C, 0, 0, 1, 1, 0)
    out.append(2)
    data = _gif_lzw_encode([3], 2)
    out += bytes([len(data)]) + data + b"\x00"
    out += b"\x3b"
    f = _gif_frames(bytes(out))
    assert (f[0][0, 0] == [0xAA, 0xBB, 0xCC]).all()
    assert (f[1][0, 0] == [0x10, 0x20, 0x30]).all()  # bg restored, transparent


def test_gif_animation_hostile_payloads_quarantine():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_frames,
        encode_gif_animation,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_gif_animation([px, px])
    # lying 65535x65535 logical screen must raise before the 12.8 GB
    # canvas allocation
    bad = bytearray(good)
    struct.pack_into("<HH", bad, 6, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="screen dimensions"):
        _gif_frames(bytes(bad))
    # frame rectangle outside the screen must raise, not write OOB
    idx = good.index(b"\x2c", 20)
    bad = bytearray(good)
    struct.pack_into("<HH", bad, idx + 1, 100, 100)
    with pytest.raises(ValueError, match="outside the logical screen"):
        _gif_frames(bytes(bad))
    for cut in (len(good) - 3, len(good) // 2, 14):
        try:
            _gif_frames(good[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


def test_video_frame_hashes_accepts_animated_gif(spark):
    """An animated GIF routes through the same frame-fingerprint path
    as VID0/AVI/MP4 — one aHash row per composed playback frame."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_gif_animation,
        video_frame_hashes,
    )

    rng = np.random.RandomState(7)
    frames = [
        (rng.randint(0, 3, (8, 8, 3)) * 100).astype(np.uint8) for _ in range(3)
    ]
    payload = encode_gif_animation(frames)
    df = spark.createDataFrame(
        [(1, bytearray(payload), "image/gif")],
        "doc_id long, payload binary, mime string",
    )
    rows = video_frame_hashes(df).collect()
    assert len(rows) == 3
    assert sorted(r.frame_id for r in rows) == [0, 1, 2]


def test_gif_playback_resource_bounds_review_findings():
    """r9 self-review regressions: (a) zero-area image blocks were a
    free frame-amplification vector (24 KB payload -> 393 MB of
    canvas copies) and now raise; (b) the data-backed screen bound is
    loose by LZW's 4096x dictionary factor, so a large-but-plausible
    payload declaring 65535x65535 must hit the ABSOLUTE canvas cap
    before the 12.8 GB allocation; (c) a long animation's total
    output is capped."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _gif_frames,
        encode_gif_animation,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_gif_animation([px, px])
    # (a) zero-area block
    idx = good.index(b"\x2c", 20)
    bad = bytearray(good)
    struct.pack_into("<HH", bad, idx + 5, 0, 0)  # w=h=0
    with pytest.raises(ValueError, match="zero area"):
        _gif_frames(bytes(bad))
    # (b) 65535x65535 screen with enough trailing bytes to clear the
    # data-backed bound must still raise on the absolute cap
    big = bytearray(good) + bytes(400_000)
    struct.pack_into("<HH", big, 6, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="decode cap"):
        _gif_frames(bytes(big))
    # (c) total-output cap: patch the cap down so the case stays fast
    # while exercising the real guard (n_frames * canvas > cap).
    # r13: the guard reads its OWN module's global, so patch the
    # implementing submodule, not the facade.
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image as mm_image,
    )

    frames = [np.zeros((64, 64, 3), dtype=np.uint8)] * 8  # 8 x 12 KB
    payload = encode_gif_animation(frames)
    saved = mm_image._GIF_MAX_OUTPUT_BYTES
    try:
        mm_image._GIF_MAX_OUTPUT_BYTES = 4 * 64 * 64 * 3
        with pytest.raises(ValueError, match="output exceeds"):
            _gif_frames(payload)
    finally:
        mm_image._GIF_MAX_OUTPUT_BYTES = saved
    assert len(_gif_frames(payload)) == 8  # under the real cap: fine


def test_encoders_reject_out_of_range_and_lossy_inputs():
    """r9 self-review: encode_gif wrapped finite out-of-range values
    via the uint8 cast (300 -> 44, -5.0 -> UB) and encode_flac
    silently truncated fractional samples — both now refuse."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_flac,
        encode_gif,
        encode_gif_animation,
    )

    with pytest.raises(ValueError, match=r"\[0, 255\]"):
        encode_gif(np.full((2, 2, 3), 300))
    with pytest.raises(ValueError, match=r"\[0, 255\]"):
        encode_gif(np.full((2, 2, 3), -5.0))
    with pytest.raises(ValueError, match=r"\[0, 255\]"):
        encode_gif_animation([np.full((2, 2, 3), 300)])
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
    """encode_gif/encode_tiff/encode_jpeg contract lossless (or
    deterministic) pixel round trips — a finite fractional float like
    3.7 must raise, not silently truncate through astype(uint8),
    matching the FLAC/ADPCM encoders' discipline (r9 ADVICE)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_gif,
        encode_jpeg,
        encode_tiff,
    )

    px = np.full((8, 8), 3.7)
    for enc in (encode_gif, encode_tiff, encode_jpeg):
        with pytest.raises(ValueError, match="non-integral"):
            enc(px)
    # integral-valued floats still encode
    for enc in (encode_gif, encode_tiff, encode_jpeg):
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


# --- TIFF baseline (r9): fourth image container family ----------------


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    gray=st.booleans(),
    comp=st.sampled_from([1, 5, 8, 32773]),
    rps=st.integers(1, 25),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_round_trip_property(h, w, gray, comp, rps, seed):
    """encode_tiff -> _tiff_pixels is lossless across compressions
    (none / LZW early-change / PackBits), strip layouts, gray and
    RGB — the encoder exercises real dictionary growth and runs."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(seed)
    shape = (h, w) if gray else (h, w, 3)
    # low-entropy patches so LZW/PackBits hit their run/dictionary paths
    px = (rng.randint(0, 4, shape) * 80).astype(np.uint8)
    t = encode_tiff(px, compression=comp, rows_per_strip=rps)
    got = _tiff_pixels(t)
    want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
    assert (got == want).all()


def _tiff_ifd(entries, e="<", data=b""):
    """Hand-build a one-IFD TIFF: entries = [(tag, typ, vals)] with
    values fitting inline; `data` appended after the IFD."""
    out = bytearray((b"II*\x00" if e == "<" else b"MM\x00*"))
    out += struct.pack(f"{e}I", 8)
    out += struct.pack(f"{e}H", len(entries))
    fmt = {3: "H", 4: "I"}
    overflow = bytearray()
    overflow_off = 8 + 2 + 12 * len(entries) + 4
    fixed = bytearray()
    for tag, typ, vals in sorted(entries):
        fixed += struct.pack(f"{e}HHI", tag, typ, len(vals))
        total = {3: 2, 4: 4}[typ] * len(vals)
        if total <= 4:
            fixed += struct.pack(f"{e}{len(vals)}{fmt[typ]}", *vals).ljust(4, b"\0")
        else:
            fixed += struct.pack(f"{e}I", overflow_off + len(overflow))
            overflow += struct.pack(f"{e}{len(vals)}{fmt[typ]}", *vals)
    out += fixed + struct.pack(f"{e}I", 0) + overflow + data
    return bytes(out), overflow_off + len(overflow)


def test_tiff_palette_bilevel_whitezero_and_bigendian():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        decode_media,
    )

    # palette via bps 4 (ColorMap needs only 3*16 entries):
    cmap16 = [(i << 12) for i in range(16)] * 3
    nib = bytes([0x01, 0x32])  # indices 0,1 / 3,2
    entries = [
        (256, 4, [2]), (257, 4, [2]), (258, 3, [4]), (259, 3, [1]),
        (262, 3, [3]), (277, 3, [1]), (278, 4, [2]), (279, 4, [2]),
        (320, 3, cmap16),
    ]
    payload, data_off = _tiff_ifd(entries + [(273, 4, [0])])
    # patch strip offset (tag 273 inline) to the data position
    payload = bytearray(payload + nib)
    # find the 273 entry and set its value to len(payload)-2
    for i in range(struct.unpack_from("<H", payload, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from("<H", payload, off)[0] == 273:
            struct.pack_into("<I", payload, off + 8, len(payload) - 2)
    px = _tiff_pixels(bytes(payload))
    # index k maps to 16-bit (k<<12) -> 8-bit (k<<12)>>8 = k*16
    assert px.shape == (2, 2, 3)
    assert (px[0, 0] == [0, 0, 0]).all() and (px[0, 1] == [16, 16, 16]).all()
    assert (px[1, 0] == [48, 48, 48]).all() and (px[1, 1] == [32, 32, 32]).all()

    # 1-bit WhiteIsZero (photometric 0): bit 0 -> white 255
    bits = bytes([0b10100000])  # row of 3 pixels: 1,0,1
    entries = [
        (256, 4, [3]), (257, 4, [1]), (258, 3, [1]), (259, 3, [1]),
        (262, 3, [0]), (277, 3, [1]), (278, 4, [1]), (279, 4, [1]),
        (273, 4, [0]),
    ]
    payload, _ = _tiff_ifd(entries)
    payload = bytearray(payload + bits)
    for i in range(struct.unpack_from("<H", payload, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from("<H", payload, off)[0] == 273:
            struct.pack_into("<I", payload, off + 8, len(payload) - 1)
    px = _tiff_pixels(bytes(payload))
    assert (px[0, :, 0] == [0, 255, 0]).all()  # 1->black, 0->white

    # big-endian: same gray image via MM byte order
    gray_row = bytes([10, 200])
    entries = [
        (256, 4, [2]), (257, 4, [1]), (258, 3, [8]), (259, 3, [1]),
        (262, 3, [1]), (277, 3, [1]), (278, 4, [1]), (279, 4, [2]),
        (273, 4, [0]),
    ]
    payload, _ = _tiff_ifd(entries, e=">")
    payload = bytearray(payload + gray_row)
    for i in range(struct.unpack_from(">H", payload, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from(">H", payload, off)[0] == 273:
            struct.pack_into(">I", payload, off + 8, len(payload) - 2)
    px = _tiff_pixels(bytes(payload))
    assert (px[0, :, 0] == [10, 200]).all()
    out = decode_media(bytes(payload), "image/tiff")
    assert out["kind"] == "image" and out["width"] == 2


def test_tiff_hostile_payloads_quarantine():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    with pytest.raises(ValueError, match="not a TIFF"):
        _tiff_pixels(b"XX" * 8)
    good = encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), compression=5)
    # truncations must raise ValueError, never leak struct/IndexError
    for cut in (5, 11, len(good) // 2, len(good) - 2):
        try:
            _tiff_pixels(good[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # dimension bomb past the absolute cap
    bomb = bytearray(good)
    for i in range(struct.unpack_from("<H", bomb, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from("<H", bomb, off)[0] in (256, 257):
            struct.pack_into("<I", bomb, off + 8, 100_000)
    with pytest.raises(ValueError, match="decode cap"):
        _tiff_pixels(bytes(bomb))
    # implausible tag count must raise before allocating values
    bomb = bytearray(good)
    struct.pack_into("<I", bomb, 10 + 4, 1 << 28)  # first entry's count
    with pytest.raises(ValueError, match="implausible|out of bounds|truncated|missing"):
        _tiff_pixels(bytes(bomb))


def test_tiff_lzw_early_change_across_width_bumps():
    """r9 encoder-fuzz regression: the decoder's table lags the
    encoder's by one add, so early change must widen one slot earlier
    on the decode side — high-entropy images crossing the 511/1023/
    2047 boundaries desynchronized ('code out of range') before the
    fix. This image's stream crosses every width bump and the 4094
    table reset."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(123)
    px = rng.randint(0, 256, (120, 120, 3)).astype(np.uint8)
    t = encode_tiff(px, compression=5)
    assert (_tiff_pixels(t) == px).all()


def test_tiff_lzw_accumulator_stays_bounded():
    """r9 third-review regression: the MSB-first accumulator was never
    masked, so acc grew with the stream and every shift went quadratic
    (a 0.7 MB strip took hours). Large high-entropy strips must decode
    in linear time — bound the wall clock generously."""
    import time

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, (300, 300, 3)).astype(np.uint8)
    t0 = time.perf_counter()
    t = encode_tiff(px, compression=5)
    assert (_tiff_pixels(t) == px).all()
    assert time.perf_counter() - t0 < 30  # was minutes when quadratic
    with pytest.raises(ValueError, match="rows_per_strip"):
        encode_tiff(px, rows_per_strip=-1)


# --- r9 batch 2: TIFF predictor, G.711 WAV, JPEG 4:2:2 ----------------


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    gray=st.booleans(),
    comp=st.sampled_from([1, 5, 8, 32773]),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_predictor2_round_trip(h, w, gray, comp, seed):
    """Horizontal differencing (tag 317, libtiff's default with LZW)
    round-trips exactly through encode->decode and actually helps
    compression on smooth content."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(seed)
    shape = (h, w) if gray else (h, w, 3)
    px = (np.cumsum(rng.randint(0, 3, shape), axis=1) % 256).astype(np.uint8)
    t = encode_tiff(px, compression=comp, predictor=2, rows_per_strip=4)
    got = _tiff_pixels(t)
    want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
    assert (got == want).all()


def test_tiff_predictor2_compresses_gradients():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import encode_tiff

    grad = np.tile(np.arange(256, dtype=np.uint8), (64, 1))
    assert len(encode_tiff(grad, 5, predictor=2)) < len(encode_tiff(grad, 5)) / 4
    with pytest.raises(ValueError, match="predictor"):
        encode_tiff(grad, 5, predictor=3)


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
    matrices can't drift; (c) encode_tiff rejects rows_per_strip=0
    instead of silently defaulting."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcm16_samples,
        decode_wav,
        encode_tiff,
    )

    ragged = _g711_wav(6, bytes([0x55, 0xD5, 0x2A, 0xAA, 0x55]), n_ch=2)
    out = decode_wav(ragged)
    assert out["n_frames"] == 2
    assert out["peak"] == 32256.0  # orphan byte excluded from stats
    s = _pcm16_samples(_g711_wav(7, bytes([0x00, 0xFF, 0x80])))
    assert s.dtype == np.int16 and list(s) == [-32124, 0, 32124]
    with pytest.raises(ValueError, match="rows_per_strip"):
        encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), rows_per_strip=0)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 30),
    w=st.integers(1, 30),
    tw=st.sampled_from([1, 3, 5, 8, 12, 16]),
    th=st.sampled_from([1, 3, 5, 8, 12, 16]),
    comp=st.sampled_from([1, 5, 8, 32773]),
    pred=st.sampled_from([1, 2]),
    gray=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_tiled_round_trip(h, w, tw, th, comp, pred, gray, seed):
    """Tiled TIFFs (tags 322-325, the pyramidal layout): full-size
    edge-padded tiles decode, crop, and assemble exactly, with the
    predictor resetting per tile row — across every compression."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(seed)
    shape = (h, w) if gray else (h, w, 3)
    px = (rng.randint(0, 4, shape) * 80).astype(np.uint8)
    # _nonspec_tiles: the DECODER is liberal about tile geometry (real
    # files violate the multiple-of-16 rule); the encoder is strict by
    # default so emitted fixtures stay libtiff-readable
    t = encode_tiff(
        px, compression=comp, predictor=pred, tile=(tw, th), _nonspec_tiles=True
    )
    got = _tiff_pixels(t)
    want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
    assert (got == want).all()


def test_tiff_tiled_hostile_payloads():
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    # TIFF 6.0: tile dims must be multiples of 16 — strict by default
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_tiff(np.zeros((8, 8, 3), dtype=np.uint8), tile=(5, 3))
    good = encode_tiff(np.zeros((24, 24, 3), dtype=np.uint8), tile=(16, 16))
    # lying huge tile size must hit the cap before the tile buffer
    bomb = bytearray(good)
    n = struct.unpack_from("<H", bomb, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", bomb, off)[0] in (322, 323):
            struct.pack_into("<I", bomb, off + 8, 1 << 18)
    with pytest.raises(ValueError, match="decode cap"):
        _tiff_pixels(bytes(bomb))
    # truncations stay in the ValueError family
    for cut in (len(good) // 2, len(good) - 4, 30):
        try:
            _tiff_pixels(good[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


def test_tiff_16bit_round_trips_and_exact_rounding():
    """16-bit TIFF samples (r10): encode_tiff(bits=16) emits real
    16-bit strips/tiles; the decoder's RGB8 contract rounds 16→8 with
    the exact v·255/65535 formula (the PNG depth-16 rule), so v·257
    round-trips to v across every compression, predictor, and layout."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(41)
    v8 = rng.randint(0, 256, (13, 9, 3))
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for tile in (None, (16, 16)):
                for gray in (False, True):
                    src = v8[:, :, 0] if gray else v8
                    p = encode_tiff(
                        src * 257, compression=comp, predictor=pred,
                        tile=tile, bits=16, rows_per_strip=4,
                    )
                    want = (
                        np.repeat(src[:, :, None], 3, axis=2) if gray else src
                    ).astype(np.uint8)
                    assert np.array_equal(_tiff_pixels(p), want), (
                        comp, pred, tile, gray,
                    )
    # arbitrary 16-bit values round exactly (never >>8 truncation)
    v16 = rng.randint(0, 65536, (5, 7, 3))
    p = encode_tiff(v16, bits=16, compression=5, predictor=2)
    assert np.array_equal(
        _tiff_pixels(p), ((v16 * 255 + 32767) // 65535).astype(np.uint8)
    )
    assert decode_tiff(p)["width"] == 7
    # encoder contract: range and integrality raise, not wrap/truncate
    with pytest.raises(ValueError, match=r"outside \[0, 65535\]"):
        encode_tiff(np.full((4, 4), 70000), bits=16)
    with pytest.raises(ValueError, match="non-integral"):
        encode_tiff(np.full((4, 4), 3.5), bits=16)
    with pytest.raises(ValueError, match="bits-per-sample"):
        encode_tiff(np.zeros((4, 4)), bits=12)


def test_tiff_16bit_bigendian_and_whitezero():
    """16-bit samples follow the FILE byte order; WhiteIsZero inverts
    in the 16-bit domain before the exact 16→8 round."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
    )

    # MM gray row: values 257 (→1) and 65535 (→255), big-endian
    row = struct.pack(">2H", 257, 65535)
    entries = [
        (256, 4, [2]), (257, 4, [1]), (258, 3, [16]), (259, 3, [1]),
        (262, 3, [1]), (277, 3, [1]), (278, 4, [1]), (279, 4, [4]),
        (273, 4, [0]),
    ]
    payload, _ = _tiff_ifd(entries, e=">")
    payload = bytearray(payload + row)
    for i in range(struct.unpack_from(">H", payload, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from(">H", payload, off)[0] == 273:
            struct.pack_into(">I", payload, off + 8, len(payload) - 4)
    px = _tiff_pixels(bytes(payload))
    assert (px[0, :, 0] == [1, 255]).all()
    # same image as WhiteIsZero: 257 → 65278 → 254; 65535 → 0
    for i in range(struct.unpack_from(">H", payload, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from(">H", payload, off)[0] == 262:
            struct.pack_into(">H", payload, off + 8, 0)
    px = _tiff_pixels(bytes(payload))
    assert (px[0, :, 0] == [254, 0]).all()
    # ragged 16-bit strip (3 bytes for a 2-sample row) quarantines
    for i in range(struct.unpack_from(">H", payload, 8)[0]):
        off = 10 + 12 * i
        if struct.unpack_from(">H", payload, off)[0] == 279:
            struct.pack_into(">I", payload, off + 8, 3)
    with pytest.raises(ValueError, match="shorter than its rows"):
        _tiff_pixels(bytes(payload[:-1]))


def test_tiff_planar_configuration_2():
    """PlanarConfiguration 2 (r10): the strip table holds
    planes×strips entries plane-major; each plane decodes as a
    one-channel image and channels stack — round trips across
    compressions, predictors, strip heights, and 16-bit; tiled
    planar and short strip tables quarantine."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(31)
    px = rng.randint(0, 256, (11, 7, 3)).astype(np.uint8)
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for rps in (None, 3):
                p = encode_tiff(
                    px, compression=comp, predictor=pred,
                    rows_per_strip=rps, planar=2,
                )
                assert np.array_equal(_tiff_pixels(p), px), (comp, pred, rps)
    p16 = encode_tiff(
        px.astype(np.uint16) * 257, bits=16, planar=2,
        compression=5, predictor=2, rows_per_strip=4,
    )
    assert np.array_equal(_tiff_pixels(p16), px)
    # planar + gray (spp 1) degenerates to chunky and still decodes
    pg = encode_tiff(px[:, :, 0], planar=2, rows_per_strip=2)
    assert np.array_equal(
        _tiff_pixels(pg), np.repeat(px[:, :, :1], 3, axis=2)
    )
    with pytest.raises(ValueError, match="planar"):
        encode_tiff(px, planar=2, tile=(16, 16))
    # a planar file whose strip table is one plane short quarantines
    p = encode_tiff(px, planar=2, rows_per_strip=4)
    short = bytearray(p)
    i = bytes(short).find(struct.pack("<HH", 273, 4))
    assert i > 0
    struct.pack_into("<I", short, i + 4, 8)  # claim 8 strips, not 9
    with pytest.raises(ValueError):
        _tiff_pixels(bytes(short))


def test_tiff_cmyk_photometric_5():
    """CMYK TIFFs (photometric 5 — scanned print) decode through the
    documented multiplicative under-color removal
    R = (smax−C)(smax−K)/smax²·255 with exact rounding, at 8 and 16
    bits, chunky and planar, every compression; encode_tiff(cmyk=True)
    emits the raw inks."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(43)
    inks = rng.randint(0, 256, (9, 5, 4))

    def want8(a):
        return (
            ((255 - a[:, :, :3]) * (255 - a[:, :, 3:4]) * 255 + 255 * 255 // 2)
            // (255 * 255)
        ).astype(np.uint8)

    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for planar in (1, 2):
                p = encode_tiff(
                    inks, compression=comp, predictor=pred, planar=planar,
                    cmyk=True, rows_per_strip=3,
                )
                assert np.array_equal(_tiff_pixels(p), want8(inks)), (
                    comp, pred, planar,
                )
    # hand values: full K = black, no ink = white, pure C = cyan-ish
    flat = np.zeros((1, 3, 4), np.int64)
    flat[0, 0] = (0, 0, 0, 255)
    flat[0, 1] = (0, 0, 0, 0)
    flat[0, 2] = (255, 0, 0, 0)
    px = _tiff_pixels(encode_tiff(flat, cmyk=True))
    assert px[0, 0].tolist() == [0, 0, 0]
    assert px[0, 1].tolist() == [255, 255, 255]
    assert px[0, 2].tolist() == [0, 255, 255]
    inks16 = rng.randint(0, 65536, (5, 4, 4))
    p16 = encode_tiff(inks16, bits=16, cmyk=True)
    want16 = (
        (
            (65535 - inks16[:, :, :3].astype(np.uint64))
            * (65535 - inks16[:, :, 3:4])
            * 255
            + 65535 * 65535 // 2
        )
        // (65535 * 65535)
    ).astype(np.uint8)
    assert np.array_equal(_tiff_pixels(p16), want16)
    assert decode_tiff(p16)["width"] == 4
    with pytest.raises(ValueError, match="CMYK"):
        encode_tiff(inks[:, :, :3], cmyk=True)


def test_tiff_multipage_chain_decode():
    """Multi-page TIFFs (r10): the IFD next-pointer chain yields every
    page via _tiff_pixels(page=k); decode_tiff reports the page count
    in n_frames; a cycling chain raises instead of looping."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(5)
    pages = [rng.randint(0, 256, (4, 6, 3)).astype(np.uint8) for _ in range(3)]
    singles = [encode_tiff(p) for p in pages]
    # chain three single-page files: rebase each file's offsets, then
    # patch each IFD's next pointer to the following page's IFD
    blob = bytearray(singles[0])
    ifd_offs = [struct.unpack_from("<I", singles[0], 4)[0]]
    for s in singles[1:]:
        base = len(blob)
        part = bytearray(s)
        (ifd,) = struct.unpack_from("<I", part, 4)
        (n,) = struct.unpack_from("<H", part, ifd)
        # rebase every LONG offset-bearing entry (strip offsets + any
        # overflow value pointers) by `base`
        for i in range(n):
            off = ifd + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from("<HHI", part, off)
            total = {3: 2, 4: 4}[typ] * cnt
            if total > 4:
                (ptr,) = struct.unpack_from("<I", part, off + 8)
                struct.pack_into("<I", part, off + 8, ptr + base)
            if tag == 273 and total <= 4:
                (ptr,) = struct.unpack_from("<I", part, off + 8)
                struct.pack_into("<I", part, off + 8, ptr + base)
        # (single-strip encodes keep tag 273 inline, so no overflow
        # ARRAY contents need per-element fixup — only the pointers)
        ifd_offs.append(ifd + base)
        blob += part
    # patch next-IFD pointers (each IFD ends with a 4-byte next ptr)
    for k in range(len(ifd_offs) - 1):
        ifd = ifd_offs[k]
        (n,) = struct.unpack_from("<H", blob, ifd)
        struct.pack_into("<I", blob, ifd + 2 + 12 * n, ifd_offs[k + 1])
    payload = bytes(blob)
    d = decode_tiff(payload)
    assert d["n_frames"] == 3
    for k, want in enumerate(pages):
        assert np.array_equal(_tiff_pixels(payload, page=k), want), k
    with pytest.raises(ValueError, match="pages"):
        _tiff_pixels(payload, page=3)
    # a cycle in the chain: the lazy page walk raises when it must
    # cross the cycle; the page COUNT stops at the readable prefix
    loop = bytearray(payload)
    ifd = ifd_offs[-1]
    (n,) = struct.unpack_from("<H", loop, ifd)
    struct.pack_into("<I", loop, ifd + 2 + 12 * n, ifd_offs[0])
    assert decode_tiff(bytes(loop))["n_frames"] == 3
    with pytest.raises(ValueError, match="cycles"):
        _tiff_pixels(bytes(loop), page=5)
    # a DANGLING next pointer (truncated multi-page scan) must not
    # quarantine the intact pages before it (r10 review): page 0 and
    # 1 decode, the count is the readable prefix, page 2 raises
    dang = bytearray(payload)
    ifd1 = ifd_offs[1]
    (n1,) = struct.unpack_from("<H", dang, ifd1)
    struct.pack_into("<I", dang, ifd1 + 2 + 12 * n1, len(dang) + 99)
    assert np.array_equal(_tiff_pixels(bytes(dang), page=0), pages[0])
    assert np.array_equal(_tiff_pixels(bytes(dang), page=1), pages[1])
    assert decode_tiff(bytes(dang))["n_frames"] == 2
    with pytest.raises(ValueError, match="out of bounds|pages"):
        _tiff_pixels(bytes(dang), page=2)


def test_tiff_deflate_legacy_tag_and_bomb_bound():
    """Deflate strips (r9): compression 8 and the legacy 32946 alias
    decode the same zlib stream, corrupt streams quarantine as
    ValueError, and the inflate is bounded at the segment's geometry
    so a deflate bomb cannot allocate past the strip size."""
    import zlib

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
    )

    rng = np.random.RandomState(17)
    px = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    good = bytearray(encode_tiff(px, compression=8))
    # retag 8 -> 32946 in place: same stream, older code
    idx = good.find(struct.pack("<HH", 259, 3))
    assert idx > 0 and good[idx + 8] == 8
    struct.pack_into("<H", good, idx + 8, 32946)
    assert (_tiff_pixels(bytes(good)) == px).all()
    # corrupt the zlib stream -> ValueError, not zlib.error
    bad = bytearray(encode_tiff(px, compression=8))
    bad[-3] ^= 0xFF
    with pytest.raises(ValueError):
        _tiff_pixels(bytes(bad))
    # a strip that inflates to 64 MiB is cut off at the strip's
    # geometric size (want bytes), then rejected by the row check
    # if short — never materialized whole
    one_row = encode_tiff(np.zeros((1, 4), np.uint8), compression=8)
    bomb_stream = zlib.compress(b"\x00" * (1 << 26))
    # replace the single strip: find the original stream bytes
    orig = zlib.compress(np.zeros((1, 4), np.uint8).tobytes(), 6)
    assert one_row.endswith(orig)
    patched = bytearray(one_row[: -len(orig)] + bomb_stream)
    # fix the strip byte-count tag (279) to the new length
    idx = patched.find(struct.pack("<HH", 279, 4))
    assert idx > 0
    struct.pack_into("<I", patched, idx + 8, len(bomb_stream))
    got = _tiff_pixels(bytes(patched))  # decodes: first 4 bytes are rows
    assert got.shape == (1, 4, 3) and (got == 0).all()


def test_tiff_deflate_in_mixed_image_fixture(spark):
    """doc_id % 6 == 5 image-fixture rows are Deflate TIFFs; decoded
    pixels — and therefore the aHash oracle — match the LZW/BMP/GIF
    arms exactly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    docs = spark.createDataFrame(
        [(i, "same text for every image container") for i in range(6)],
        "doc_id long, text string",
    )
    mixed = synthesize_mixed_image_from_text(docs)
    rows = {r.doc_id: r for r in mixed.collect()}
    assert rows[2].mime == "image/tiff" and rows[5].mime == "image/tiff"
    # tag 259: LZW (5) for doc 2, Deflate (8) for doc 5
    def comp_of(payload):
        b = bytes(payload)
        idx = b.find(struct.pack("<HH", 259, 3))
        return b[idx + 8]

    assert comp_of(rows[2].payload) == 5
    assert comp_of(rows[5].payload) == 8
    hashes = {r.doc_id: r.ahash for r in image_ahash(mixed).collect()}
    assert len(hashes) == 6 and len(set(hashes.values())) == 1


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


def _gray_tiff_ifd_last(w: int = 2, h: int = 2, next_ptr: bool = True) -> bytes:
    """Hand-built data-before-IFD grayscale TIFF: pixel strip at
    offset 8, IFD at the tail; ``next_ptr=False`` omits the 4-byte
    next-IFD pointer entirely (a scan truncated exactly there)."""
    data = bytes(range(w * h))
    ifd_off = 8 + len(data)
    entries = [
        (256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, 1), (262, 3, 1),
        (273, 4, 8), (277, 3, 1), (278, 4, h), (279, 4, len(data)),
    ]
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off)) + bytearray(data)
    out += struct.pack("<H", len(entries))
    for tag, typ, val in entries:
        out += struct.pack("<HHI", tag, typ, 1)
        out += struct.pack("<I", val) if typ == 4 else struct.pack("<HH", val, 0)
    if next_ptr:
        out += struct.pack("<I", 0)
    return bytes(out)


def test_tiff_truncated_next_pointer_still_decodes_page():
    """A data-before-IFD single-page TIFF whose trailing next-IFD
    pointer is cut off must still decode — the entry table is intact,
    so the page is readable and the chain simply ends there (r10
    advice: strict mode was quarantining the exact case the lazy walk
    exists to save). The page-count path counts it too."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_ifd_chain,
        _tiff_pixels,
    )

    full = _gray_tiff_ifd_last(next_ptr=True)
    cut = _gray_tiff_ifd_last(next_ptr=False)
    assert np.array_equal(_tiff_pixels(full), _tiff_pixels(cut))
    assert _tiff_ifd_chain(cut, need=1) == [8 + 4]
    assert _tiff_ifd_chain(cut, strict=False) == [8 + 4]
    # an IFD whose ENTRY TABLE is itself cut still quarantines
    really_cut = cut[:-6]
    with pytest.raises(ValueError, match="TIFF IFD truncated"):
        _tiff_ifd_chain(really_cut, need=1)


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


def test_mp4_wide_pcm_entries():
    """QuickTime wide-PCM sample entries (r11, the MP4 twin of the
    WAV width matrix): 'in24'/'in32' decode big-endian integer PCM in
    their NATIVE domain (int32, like the 24/32-bit AIFF arms) and
    fingerprint only when grid-sitting; 'fl32'/'fl64' expand to the
    int16 grid via round(clip(v)·32767) so k/32767 rounds back to
    exactly k. All four resolve through the same stsz×stsc×stco
    machinery as 'twos'/'sowt'; 'lpcm' (v2 flags layout this walk
    doesn't parse) quarantines honestly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _m4a_pcm_payload,
        _mp4_pcm_samples,
        _pcm16_samples,
        decode_media,
    )

    raw = b"0123456789" * 5 + b"abcdef"
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    for codec in (b"in24", b"in32", b"fl32", b"fl64"):
        for stereo in (False, True):
            p = _m4a_pcm_payload(raw, 8000, codec=codec, stereo=stereo)
            s, rate, nch = _mp4_pcm_samples(p)
            assert rate == 8000 and nch == (2 if stereo else 1)
            assert np.array_equal(s, want), codec
            assert s.dtype == (
                np.int32 if codec in (b"in24", b"in32") else np.int16
            )
            # grid-sitting values fingerprint exactly on every entry
            assert np.array_equal(_pcm16_samples(p), want)
            d = decode_media(p, "audio/mp4")
            assert d["codec"] == codec.decode() and "rms" in d
            assert d["n_frames"] == len(raw) // (2 if stereo else 1)
    # negative 24-bit values sign-extend (int16 round-trip is exact);
    # the fixture builder only carries bytes, so swap real 24-bit
    # samples into the mdat directly
    neg = np.array([-1, -32768, 32767, -12345], dtype=np.int16)
    v = neg.astype(np.int64)
    b24 = np.stack([(v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF], axis=1)
    body = b24.astype(np.uint8).tobytes()
    pn = bytearray(_m4a_pcm_payload(b"abcd", 8000, codec=b"in24"))
    pn[-len(body):] = body  # same frame count, swap the mdat samples
    sn = _mp4_pcm_samples(bytes(pn))[0]
    assert np.array_equal(sn, neg.astype(np.int32))
    assert np.array_equal(_pcm16_samples(bytes(pn)), neg)
    # full-scale 24-bit audio exceeds the grid: stats decode natively,
    # the fingerprint quarantines (the 32-bit WAV rule)
    big = np.stack([[0x40, 0x00, 0x00]], axis=0).astype(np.uint8)  # 2^22
    pb = bytearray(_m4a_pcm_payload(b"a", 8000, codec=b"in24"))
    pb[-3:] = big.tobytes()
    assert _mp4_pcm_samples(bytes(pb))[0][0] == 1 << 22
    with pytest.raises(ValueError, match="int16 grid"):
        _pcm16_samples(bytes(pb))
    # non-finite floats refuse instead of poisoning rms
    pf = bytearray(_m4a_pcm_payload(b"ab", 8000, codec=b"fl32"))
    struct.pack_into(">f", pf, len(pf) - 8, float("inf"))
    with pytest.raises(ValueError, match="non-finite"):
        _mp4_pcm_samples(bytes(pf))
    # 'lpcm' stays quarantined: its layout lives in v2 flags
    pl = bytearray(_m4a_pcm_payload(raw, 8000, codec=b"in32"))
    i = bytes(pl).find(b"in32")
    pl[i : i + 4] = b"lpcm"
    with pytest.raises(NotImplementedError, match="lpcm"):
        _mp4_pcm_samples(bytes(pl))
    # truncations stay in the quarantine family
    good = _m4a_pcm_payload(raw, 8000, codec=b"fl64", stereo=True)
    for cut in (len(good) - 10, len(good) // 2, 40):
        try:
            _mp4_pcm_samples(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


def test_audio_fixture_rotation_covers_mp4_wide_pcm(spark):
    """doc_id % 48 ∈ {3, 15, 39, 21, 45} routes 'twos', 'in24',
    'in32', 'fl32', 'fl64' PCM-in-MP4; all five decode to the
    identical byte→sample contract (same ehash), so the oracle gate
    holds unchanged while the driver exercises the QuickTime wide-PCM
    matrix."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        audio_energy_hash,
        synthesize_mixed_audio_from_text,
    )

    ids = (3, 15, 39, 21, 45, 9, 87)
    docs = spark.createDataFrame(
        [(i, "identical text for every row!") for i in ids],
        "doc_id long, text string",
    )
    rows = synthesize_mixed_audio_from_text(docs).collect()
    assert {r.mime for r in rows} == {"audio/mp4"}
    fourccs = {}
    for r in rows:
        p = bytes(r.payload)
        i = p.find(b"stsd")
        fourccs[r.doc_id] = p[i + 16 : i + 20]
    assert fourccs == {
        3: b"twos", 15: b"in24", 39: b"in32",
        21: b"fl32", 45: b"fl64", 9: b"sowt", 87: b"lpcm",
    }
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row!") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == len(ids) and len({r.ehash for r in hashes}) == 1


def test_tiff_jpeg_compression7_round_trip():
    """New-style JPEG-in-TIFF (compression 7, TIFF TechNote #2): each
    strip/tile is its own JPEG datastream through the engine's
    decoder; JPEGTables (tag 347) holds shared DQT/DHT merged into
    every abbreviated segment. Block-constant grayscale strips are
    exactly lossless (the encode_jpeg DC-divisor-8 property), RGB
    rides the YCbCr transform (lossy-bounded), photometric 0 inverts,
    and old-style compression 6 quarantines honestly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_split_tables,
        _tiff_pixels,
        decode_tiff,
        encode_tiff_jpeg,
    )

    vals = np.array([10, 200, 50, 99, 140, 7, 255, 0], dtype=np.uint8)
    px = np.tile(np.repeat(vals, 8), (16, 1)).astype(np.uint8)
    for prog in (False, True):
        for shared in (False, True):
            p = encode_tiff_jpeg(
                px, rows_per_strip=8, progressive=prog, shared_tables=shared
            )
            assert (b"\xff\xc2" in p) == prog  # SOF2 only when progressive
            got = _tiff_pixels(p)
            assert got.shape == (16, 64, 3)
            for c in range(3):
                assert np.array_equal(got[:, :, c], px), (prog, shared)
    # shared tables genuinely abbreviate: DQT/DHT leave the strips
    full = encode_tiff_jpeg(px, rows_per_strip=8)
    shared = encode_tiff_jpeg(px, rows_per_strip=8, shared_tables=True)
    assert len(shared) < len(full)
    # tiled variant through the same decoder
    assert np.array_equal(
        _tiff_pixels(encode_tiff_jpeg(px, tile=(16, 16)))[:, :, 0], px
    )
    # RGB photometric 6: YCbCr is lossy-bounded, never exact-required
    rgb = np.zeros((8, 64, 3), np.uint8)
    for b in range(8):
        rgb[:, b * 8 : (b + 1) * 8] = (vals[b], vals[(b + 3) % 8], vals[(b + 5) % 8])
    got = _tiff_pixels(encode_tiff_jpeg(rgb))
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 2
    d = decode_tiff(encode_tiff_jpeg(rgb))
    assert (d["width"], d["height"], d["n_frames"]) == (64, 8, 1)
    # photometric 0 (WhiteIsZero) inverts the decoded gray
    p0 = bytearray(encode_tiff_jpeg(px))
    i = bytes(p0).find(struct.pack("<HHI", 262, 3, 1))
    struct.pack_into("<H", p0, i + 8, 0)
    assert np.array_equal(
        _tiff_pixels(bytes(p0))[:, :, 0], 255 - px
    )
    # split/merge are inverses on a real stream
    t, a = _jpeg_split_tables(full[full.find(b"\xff\xd8"):])
    assert t[:2] == b"\xff\xd8" and t[-2:] == b"\xff\xd9"
    assert b"\xff\xdb" in t and b"\xff\xc4" in t
    assert a[:2] == b"\xff\xd8" and b"\xff\xda" in a


def test_tiff_jpeg_hostile_payloads_quarantine():
    """Compression-7 hostile cases stay in the ValueError/
    NotImplementedError quarantine family: corrupt JPEGTables,
    non-JPEG segments, undersized strips, photometric 2 (RGB kept in
    JPEG — needs the BT.601 conversion skipped), and old-style
    compression 6."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        encode_tiff,
        encode_tiff_jpeg,
    )

    px = np.tile(np.repeat(np.arange(8, dtype=np.uint8) * 30, 8), (8, 1))
    good = encode_tiff_jpeg(px, shared_tables=True)
    # JPEGTables not an SOI..EOI stream
    bad = bytearray(good)
    i = bytes(bad).find(b"\xff\xd8")  # the 347 payload comes first
    bad[i] = 0x00
    with pytest.raises(ValueError, match="JPEGTables"):
        _tiff_pixels(bytes(bad))
    # a strip that is not a JPEG datastream
    nostream = bytearray(encode_tiff_jpeg(px))
    j = bytes(nostream).rfind(b"\xff\xd8")
    nostream[j] = 0x00
    with pytest.raises(ValueError, match="not a JPEG datastream"):
        _tiff_pixels(bytes(nostream))
    # photometric 2 + compression 7 is rejected, not mis-colored
    p2 = bytearray(encode_tiff_jpeg(np.zeros((8, 8, 3), np.uint8)))
    i = bytes(p2).find(struct.pack("<HHI", 262, 3, 1))
    struct.pack_into("<H", p2, i + 8, 2)
    with pytest.raises(ValueError, match="unsupported TIFF JPEG"):
        _tiff_pixels(bytes(p2))
    # old-style JPEG (compression 6) quarantines honestly
    p6 = bytearray(encode_tiff(px, compression=1))
    i = bytes(p6).find(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", p6, i + 8, 6)
    with pytest.raises(NotImplementedError, match="old-style"):
        _tiff_pixels(bytes(p6))
    # truncations stay in the quarantine family
    for cut in (len(good) - 10, len(good) // 2, 30):
        try:
            _tiff_pixels(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


def test_jpeg_fixture_rotation_covers_tiff_jpeg(spark):
    """doc_id % 6 ∈ {2, 5} ships the block-constant JPEG fixture as
    new-style JPEG-in-TIFF (two strips; % 6 == 5 adds the JPEGTables
    abbreviation + progressive) — same decoded row 0, same ahash, so
    the oracle gate holds unchanged while the driver exercises
    compression 7 at corpus scale."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image_ahash,
        synthesize_jpeg_from_text,
    )

    ids = (0, 1, 2, 5, 6, 11)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = synthesize_jpeg_from_text(docs).collect()
    mimes = {r.doc_id: r.mime for r in rows}
    assert mimes == {
        0: "image/jpeg", 1: "image/jpeg", 2: "image/tiff",
        5: "image/tiff", 6: "image/jpeg", 11: "image/tiff",
    }
    tiffs = {r.doc_id: bytes(r.payload) for r in rows if r.mime == "image/tiff"}
    assert all(p[:4] == b"II*\x00" for p in tiffs.values())
    # the % 6 == 5 docs carry the JPEGTables abbreviation
    assert struct.pack("<HH", 347, 7) in tiffs[5]
    assert struct.pack("<HH", 347, 7) not in tiffs[2]
    hashes = image_ahash(
        synthesize_jpeg_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == len(ids) and len({r.ahash for r in hashes}) == 1


def test_tiff_multipage_encoder_and_fixture_rotation(spark):
    """encode_tiff_multipage chains one IFD per page; page 0 keeps the
    single-page byte contract so the mixed-image fixture's doc_id %
    12 == 11 two-page sub-rotation (page 1 = inverted pixels) holds
    the unchanged oracle while n_frames reports the real chain length
    and page 1 decodes to genuinely different pixels."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tiff_pixels,
        decode_tiff,
        encode_tiff_multipage,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rgb0 = (np.arange(8 * 8 * 3, dtype=np.uint8) % 251).reshape(8, 8, 3)
    rgb1 = 255 - rgb0
    p = encode_tiff_multipage([rgb0, rgb1], compression=5, predictor=2)
    assert np.array_equal(_tiff_pixels(p, page=0), rgb0)
    assert np.array_equal(_tiff_pixels(p, page=1), rgb1)
    assert decode_tiff(p)["n_frames"] == 2
    with pytest.raises(ValueError, match="reachable pages"):
        _tiff_pixels(p, page=2)
    with pytest.raises(ValueError, match="at least one page"):
        encode_tiff_multipage([])
    # fixture: 11 ships 2 pages, 5 stays single Deflate, 8 planar LZW
    ids = (5, 8, 11, 2)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: bytes(r.payload) for r in synthesize_mixed_image_from_text(docs).collect()}
    assert decode_tiff(rows[11])["n_frames"] == 2
    assert decode_tiff(rows[5])["n_frames"] == 1
    assert decode_tiff(rows[8])["n_frames"] == 1
    # page 1 differs, page 0 carries the contract -> one shared ahash
    assert not np.array_equal(
        _tiff_pixels(rows[11], page=1), _tiff_pixels(rows[11], page=0)
    )
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == len(ids) and len({r.ahash for r in hashes}) == 1


def test_mp4_lpcm_v2_entry_matrix():
    """The v2 'lpcm' SoundDescription (r11 — QuickTime's fully-general
    PCM entry): float64 rate, u32 channels/bits, and the formatSpecific
    flags word (isFloat/isBigEndian/isSignedInteger) replace the v0
    placeholder fields. Signed 16/24/32-bit ints in either byte order
    and 32/64-bit floats all decode through the shared sample-table
    machinery; unsigned ints quarantine; a v0 'lpcm' entry (no parsed
    flags) quarantines as NotImplementedError; a NaN rate reports 0."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _m4a_pcm_payload,
        _mp4_audio_track,
        _mp4_pcm_samples,
        _pcm16_samples,
        decode_media,
    )

    raw = b"0123456789" * 3 + b"ab"
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    for bits, flags in (
        (24, 6), (24, 4), (16, 6), (16, 4), (32, 6), (32, 4),
        (32, 1), (32, 3), (64, 3),
    ):
        for stereo in (False, True):
            p = _m4a_pcm_payload(
                raw, 44100, codec=b"lpcm", stereo=stereo,
                lpcm_bits=bits, lpcm_flags=flags,
            )
            trk = _mp4_audio_track(p)
            assert (trk["sample_size"], trk["lpcm_flags"]) == (bits, flags)
            assert trk["sample_rate"] == 44100
            s, rate, nch = _mp4_pcm_samples(p)
            assert np.array_equal(s, want), (bits, flags)
            assert s.dtype == (np.int16 if bits == 16 or flags & 1 else np.int32)
            assert np.array_equal(_pcm16_samples(p), want)
            assert decode_media(p, "audio/mp4")["codec"] == "lpcm"
    # unsigned integer layout quarantines (real lpcm is signed)
    pu = _m4a_pcm_payload(raw, 8000, codec=b"lpcm", lpcm_bits=16, lpcm_flags=2)
    with pytest.raises(ValueError, match="lpcm layout"):
        _mp4_pcm_samples(pu)
    # a v0-shaped lpcm entry (declared size 36) has no flags layout
    p0 = bytearray(_m4a_pcm_payload(raw, 8000, codec=b"lpcm"))
    i = bytes(p0).find(b"lpcm") - 4
    struct.pack_into(">I", p0, i, 36)  # entry claims v0 size
    struct.pack_into(">H", p0, i + 16, 0)  # version 0
    trk0 = _mp4_audio_track(bytes(p0))
    assert trk0["lpcm_flags"] is None
    with pytest.raises(NotImplementedError, match="lpcm"):
        _mp4_pcm_samples(bytes(p0))
    # non-finite declared rate reports 0 instead of poisoning stats
    pn = bytearray(_m4a_pcm_payload(raw, 8000, codec=b"lpcm"))
    i = bytes(pn).find(b"lpcm") - 4
    struct.pack_into(">d", pn, i + 40, float("nan"))
    assert _mp4_audio_track(bytes(pn))["sample_rate"] == 0
    # truncations stay in the quarantine family
    good = _m4a_pcm_payload(raw, 8000, codec=b"lpcm", stereo=True)
    for cut in (len(good) - 10, len(good) // 2, 40):
        try:
            _mp4_pcm_samples(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")


def test_avi_audio_stream_decodes_via_wav_delegation(spark):
    """Audio-in-AVI (r11): the 'auds' strf IS a WAVEFORMATEX, so the
    rebuilt RIFF/WAVE delegates to the entire WAV matrix — PCM widths,
    floats, extensible headers, G.711 — with identical stats and
    identical int16-grid fingerprint rules. Multi-chunk '00wb' movi
    data reassembles exactly; the fixture sub-rotates classic 16-bit
    PCM through the AVI wrap at doc_id % 48 == 24 under the unchanged
    ehash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_audio_as_wav,
        _avi_audio_container,
        _avi_mjpeg_container,
        _mjpeg_frames_for_text,
        _pcm16_samples,
        _riff_wrap,
        _wav_payload,
        audio_energy_hash,
        decode_avi,
        decode_media,
        decode_wav,
        synthesize_mixed_audio_from_text,
    )

    raw = bytes(range(200))
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    w = _wav_payload(raw)
    for n_chunks in (1, 3, 7):
        avi = _avi_audio_container(w, n_chunks=n_chunks)
        assert np.array_equal(_pcm16_samples(avi), want)
        d = decode_avi(avi)
        assert d["kind"] == "audio" and d["n_frames"] == 200
        assert d == decode_wav(w)
        assert decode_media(avi, "video/x-msvideo")["kind"] == "audio"
    # a non-PCM WAV arm (G.711 µ-law, tag 7) rides the same delegation
    ulaw = _riff_wrap(struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8), raw)
    assert decode_avi(_avi_audio_container(ulaw)) == decode_wav(ulaw)
    # a video-only AVI has no audio stream: quarantine, not garbage
    vid = _avi_mjpeg_container(_mjpeg_frames_for_text(b"xy", 2))
    with pytest.raises(ValueError, match="no audio stream"):
        _avi_audio_as_wav(vid)
    with pytest.raises(ValueError):
        _pcm16_samples(vid)
    # ... and decode_avi still routes it as video
    assert decode_avi(vid)["kind"] == "video"
    # truncations stay in the quarantine family
    good = _avi_audio_container(w)
    for cut in (len(good) - 10, len(good) // 2, 30):
        try:
            _pcm16_samples(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture rotation: % 48 == 24 ships the AVI wrap, same ehash
    # (48 is the AU slot, 96 wraps back to plain WAV)
    ids = (0, 24, 96)
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_audio_from_text(docs).collect()}
    assert rows[24].mime == "video/x-msvideo"
    assert bytes(rows[24].payload)[8:12] == b"AVI "
    assert rows[0].mime == "audio/wav" and rows[96].mime == "audio/wav"
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 3 and len({r.ehash for r in hashes}) == 1


def test_au_decode_matrix_and_fixture_rotation(spark):
    """Sun/NeXT .au (r11 — the third legacy audio container): µ/A-law
    through the shared G.711 tables, signed 8-bit verbatim, 16-bit BE
    on the int16 grid, 24/32-bit native int32 with the fingerprint
    grid-check, floats via round(clip·32767); compressed encodings
    (G.721-family ADPCM) quarantine as NotImplementedError; a
    declared size past the payload clamps like a truncated RIFF. The
    mixed-audio fixture rides the 16-bit contract at doc_id % 96 ==
    48 under the unchanged ehash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _G711_ALAW,
        _G711_ULAW,
        _au_payload,
        _au_samples,
        _pcm16_samples,
        audio_energy_hash,
        decode_au,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    raw = bytes(range(200))
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    for enc in (3, 4, 5, 6, 7):
        p = _au_payload(raw, encoding=enc, stereo=True)
        s, rate, nch = _au_samples(p)
        assert nch == 2 and np.array_equal(s, want), enc
        assert s.dtype == (np.int32 if enc in (4, 5) else np.int16)
        assert np.array_equal(_pcm16_samples(p), want)
        d = decode_au(p)
        assert d["n_frames"] == 100 and d["sample_rate"] == 8000
    # 8-bit signed carries small bytes verbatim
    small = bytes(range(100))
    p8 = _au_payload(small, encoding=2)
    assert np.array_equal(
        _au_samples(p8)[0], np.frombuffer(small, np.uint8).astype(np.int16)
    )
    # G.711 byte orientation survives the AU wrap
    hdr = struct.pack(">4s5I", b".snd", 24, 2, 1, 8000, 1)
    assert np.array_equal(_au_samples(hdr + b"\xff\x7f")[0], _G711_ULAW[[255, 127]])
    hdr = struct.pack(">4s5I", b".snd", 24, 2, 27, 8000, 1)
    assert np.array_equal(_au_samples(hdr + b"\x55\xd5")[0], _G711_ALAW[[0x55, 0xD5]])
    # unknown-size sentinel (0xFFFFFFFF) reads to end-of-file
    sent = bytearray(_au_payload(raw))
    struct.pack_into(">I", sent, 8, 0xFFFFFFFF)
    assert np.array_equal(_au_samples(bytes(sent))[0], want)
    # declared size past the payload clamps to whole frames
    over = bytearray(_au_payload(raw))
    struct.pack_into(">I", over, 8, 10_000)
    assert np.array_equal(_au_samples(bytes(over))[0], want)
    # full-scale 32-bit exceeds the grid: stats native, fingerprint
    # quarantines (the MP4 wide-int rule)
    big = struct.pack(">4s5I", b".snd", 24, 4, 5, 8000, 1) + struct.pack(">i", 1 << 22)
    assert _au_samples(big)[0][0] == 1 << 22
    with pytest.raises(ValueError, match="int16 grid"):
        _pcm16_samples(big)
    # compressed encodings quarantine honestly; unknown ones refuse
    adpcm = struct.pack(">4s5I", b".snd", 24, 4, 23, 8000, 1) + bytes(4)
    with pytest.raises(NotImplementedError, match="codec library"):
        _au_samples(adpcm)
    weird = struct.pack(">4s5I", b".snd", 24, 4, 99, 8000, 1) + bytes(4)
    with pytest.raises(ValueError, match="unsupported AU encoding"):
        _au_samples(weird)
    with pytest.raises(ValueError, match="offset out of bounds"):
        _au_samples(struct.pack(">4s5I", b".snd", 4096, 0, 3, 8000, 1))
    for cut in (10, 20):
        try:
            _au_samples(_au_payload(raw)[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    assert decode_media(_au_payload(raw), "audio/basic")["kind"] == "audio"
    # fixture: % 96 == 48 ships AU, same ehash as the WAV siblings
    ids = (0, 24, 48, 96)
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_audio_from_text(docs).collect()}
    assert rows[48].mime == "audio/basic"
    assert bytes(rows[48].payload)[:4] == b".snd"
    assert rows[96].mime == "audio/wav"
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 4 and len({r.ehash for r in hashes}) == 1


def test_pnm_decode_matrix_and_fixture_rotation(spark):
    """netpbm (r11): P1/P4 bitmaps (1 = black), P2/P5 grayscale,
    P3/P6 RGB, ASCII + binary, comment-tolerant headers, and 16-bit
    (maxval > 255) big-endian samples through the engine's exact
    v·255/maxval round. The mixed-image fixture rotates the BMP slot
    through P6 at doc_id % 12 == 9 and 16-bit P6 at % 24 == 18 under
    the unchanged text-byte ahash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _image_pixels,
        _pnm_pixels,
        decode_media,
        decode_pnm,
        encode_pnm,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rgb = (np.arange(8 * 8 * 3, dtype=np.uint8) % 251).reshape(8, 8, 3)
    gray = rgb[:, :, 0]
    for kind, px in ((6, rgb), (3, rgb), (5, gray), (2, gray)):
        for mv in (255, 65535):
            p = encode_pnm(px, kind=kind, maxval=mv)
            want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
            assert np.array_equal(_pnm_pixels(p), want), (kind, mv)
            assert np.array_equal(_image_pixels(p), want)
    d = decode_pnm(encode_pnm(rgb))
    assert (d["kind"], d["width"], d["height"]) == ("image", 8, 8)
    assert decode_media(encode_pnm(rgb), "image/x-portable-pixmap")["kind"] == "image"
    # P1 with unseparated digits and comments; P4 row byte-padding
    p1 = b"P1\n# c\n8 2\n" + b"01" * 8 + b"\n" + b"10" * 8
    px1 = _pnm_pixels(p1)
    assert px1.shape == (2, 8, 3)
    assert px1[0, 0, 0] == 255 and px1[0, 1, 0] == 0  # 0=white, 1=black
    bits = np.zeros((2, 8), np.uint8)
    bits[0, ::2] = 1
    px4 = _pnm_pixels(b"P4\n8 2\n" + np.packbits(bits, axis=1).tobytes())
    assert px4[0, 0, 0] == 0 and px4[0, 1, 0] == 255 and px4[1, 0, 0] == 255
    # hostile: short data, zero maxval, sample > maxval, bad dims
    for bad in (
        b"P6\n8 8\n255\n" + bytes(10),
        b"P6\n8 8\n0\n",
        b"P5\n2 2\n10\n\x0b\x0b\x0b\x0b",
        b"P3\n1 1\n5\n9\n",
        b"P6\n0 8\n255\n",
        b"P6\n99999 99999\n255\n",
    ):
        with pytest.raises(ValueError):
            _pnm_pixels(bad)
    for cut in (3, 8, 14):
        try:
            _pnm_pixels(encode_pnm(rgb)[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture: 9 ships P6, 18 ships 16-bit P6, 0 stays BMP, 6 ships
    # lossless JPEG (r11) — one ahash
    ids = (0, 6, 9, 18)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[9].mime == "image/x-portable-pixmap"
    assert bytes(rows[9].payload)[:2] == b"P6"
    assert b"65535" in bytes(rows[18].payload)[:20]
    assert rows[0].mime == "image/bmp" and rows[6].mime == "image/jpeg"
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 4 and len({r.ahash for r in hashes}) == 1


def test_tga_decode_matrix_and_fixture_rotation(spark):
    """Truevision TGA (r11 — the game/graphics-corpus staple):
    gray/truecolor/color-mapped, raw + RLE packets, 15/16-bit 5:5:5
    via the exact (v·255+15)//31 round, both vertical origins and the
    right-to-left bit, firstEntryIndex-based map lookups. TGA has no
    leading magic, so the sniffed entry accepts only v2-footer files;
    the mixed-image fixture rotates the GIF slot through raw TGA at
    doc_id % 12 == 7 and RLE at % 24 == 22 under the unchanged
    oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _image_pixels,
        _tga_pixels,
        decode_media,
        decode_tga,
        encode_tga,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rgb = (np.arange(8 * 8 * 3, dtype=np.uint8) % 251).reshape(8, 8, 3)
    gray = rgb[:, :, 1]
    for rle in (False, True):
        for px in (rgb, gray):
            p = encode_tga(px, rle=rle)
            want = px if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
            assert np.array_equal(_tga_pixels(p), want), (rle, px.ndim)
            assert np.array_equal(_image_pixels(p), want)
    # bottom-up default flips; right-to-left mirrors
    pb = bytearray(encode_tga(rgb))
    pb[17] = 0x00
    assert np.array_equal(_tga_pixels(bytes(pb)), rgb[::-1])
    pb[17] = 0x30
    assert np.array_equal(_tga_pixels(bytes(pb)), rgb[:, ::-1])
    # 16-bit 5:5:5 and color-mapped (firstEntryIndex honored)
    v = (10 << 10) | (21 << 5) | 31
    head16 = struct.pack("<BBBHHBHHHHBB", 0, 0, 2, 0, 0, 0, 0, 0, 2, 1, 16, 0x20)
    px16 = _tga_pixels(head16 + struct.pack("<HH", v, 0))
    assert list(px16[0, 0]) == [(10 * 255 + 15) // 31, (21 * 255 + 15) // 31, 255]
    cmap = bytes([255, 0, 0, 0, 255, 0])  # BGR entries: blue, green
    headm = struct.pack("<BBBHHBHHHHBB", 0, 1, 1, 4, 2, 24, 0, 0, 2, 1, 8, 0x20)
    pxm = _tga_pixels(headm + cmap + bytes([4, 5]))  # indices offset by 4
    assert list(pxm[0, 0]) == [0, 0, 255] and list(pxm[0, 1]) == [0, 255, 0]
    with pytest.raises(ValueError, match="outside the color map"):
        _tga_pixels(headm + cmap + bytes([3, 4]))
    d = decode_media(encode_tga(rgb), "image/x-tga")
    assert (d["kind"], d["width"], d["height"]) == ("image", 8, 8)
    # no leading magic: a footer-less TGA is NOT magic-sniffable but
    # still decodes via the mime route
    v1 = encode_tga(rgb)[: -len(b"TRUEVISION-XFILE.\x00") - 8]
    assert np.array_equal(_tga_pixels(v1), rgb)
    # a truecolor TGA's 00 00 02 00 prefix doubles as the CUR magic,
    # so the sniffed entry quarantines it THERE once the footer is
    # gone — still ValueError, still no mis-decode
    with pytest.raises(ValueError, match="unsupported image container|not an ICO"):
        _image_pixels(v1)
    # hostile: truncations and header lies quarantine
    good = encode_tga(rgb, rle=True)
    for cut in (10, 25, len(good) // 2):
        try:
            _tga_pixels(good[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture: 7 raw TGA, 22 RLE TGA, 1/4 stay GIF — one shared ahash
    ids = (1, 4, 7, 22)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[7].mime == "image/x-targa" and rows[22].mime == "image/x-targa"
    assert bytes(rows[7].payload)[2] == 2 and bytes(rows[22].payload)[2] == 10
    assert rows[1].mime == "image/gif" and rows[4].mime == "image/gif"
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 4 and len({r.ahash for r in hashes}) == 1


def test_qoi_decode_round_trip_and_fixture_rotation(spark):
    """QOI (r11, the public-domain spec): full RGBA state machine —
    RGB/RGBA ops, the 64-slot (3r+5g+7b+11a)%64 index, 2-bit DIFF,
    green-anchored LUMA, and 1..62 RUNs — with the encoder twin using
    the spec's reference strategy. Lossless; the mixed-image fixture
    rotates the BMP slot through QOI at doc_id % 24 == 15 under the
    unchanged ahash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _image_pixels,
        _qoi_pixels,
        decode_media,
        decode_qoi,
        encode_qoi,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rng = np.random.default_rng(7)
    for h, w in ((8, 8), (1, 1), (3, 300), (64, 5)):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        p = encode_qoi(px)
        assert np.array_equal(_qoi_pixels(p), px)
        assert np.array_equal(_image_pixels(p), px)
    # every op class in one image: >62-runs, diff, luma, rgb, index
    px = np.zeros((2, 200, 3), np.uint8)
    px[0, 100:] = (1, 1, 1)
    px[1, :50] = (5, 40, 10)
    px[1, 50] = (200, 10, 99)
    px[1, 51] = (5, 40, 10)
    p = encode_qoi(px)
    assert np.array_equal(_qoi_pixels(p), px)
    d = decode_qoi(p)
    assert (d["kind"], d["width"], d["height"]) == ("image", 200, 2)
    assert decode_media(p, "image/qoi")["kind"] == "image"
    # an RGBA op keys the index with its alpha and drops it on output
    rgba = (
        b"qoif" + struct.pack(">II", 2, 1) + bytes([4, 0])
        + bytes([0xFF, 9, 8, 7, 100])      # RGBA
        + bytes([(9 * 3 + 8 * 5 + 7 * 7 + 100 * 11) % 64])  # INDEX hit
        + bytes(7) + b"\x01"
    )
    got = _qoi_pixels(rgba)
    assert np.array_equal(got[0, 0], [9, 8, 7]) and np.array_equal(
        got[0, 1], [9, 8, 7]
    )
    # hostile: zero dims, bad channels, pixel bombs, truncation, run
    # overruns all quarantine
    for bad in (
        b"qoif" + struct.pack(">II", 0, 5) + bytes([3, 0]) + bytes(8),
        b"qoif" + struct.pack(">II", 8, 8) + bytes([5, 0]) + bytes(8),
        b"qoif" + struct.pack(">II", 99999, 99999) + bytes([3, 0]) + bytes(8),
        encode_qoi(np.ones((4, 4, 3), np.uint8))[:20],
        b"qoif" + struct.pack(">II", 1, 1) + bytes([3, 0])
        + bytes([0xC0 | 61]) + bytes(7) + b"\x01",
    ):
        with pytest.raises(ValueError):
            _qoi_pixels(bad)
    # fixture: 15/39 ship QOI, 0 stays BMP, 6 ships lossless JPEG
    # (r11) — one shared ahash
    ids = (0, 15, 6, 39)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[15].mime == "image/qoi" and rows[39].mime == "image/qoi"
    assert bytes(rows[15].payload)[:4] == b"qoif"
    assert rows[0].mime == "image/bmp" and rows[6].mime == "image/jpeg"
    assert bytes(rows[6].payload)[:3] == b"\xff\xd8\xff"
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 4 and len({r.ahash for r in hashes}) == 1


def test_ico_decodes_by_delegation_and_fixture_rotation(spark):
    """ICO/CUR (r11): a directory of images where PNG entries route
    through the PNG decoder and classic DIB entries get a synthetic
    BMP file header (biHeight halved off the doubled XOR+AND layout)
    — both existing decoders' matrices apply to icons with no new
    pixel code. Decode reads the LARGEST entry; n_frames reports the
    directory count. The mixed-image fixture rotates the BMP slot
    through ICO-DIB at doc_id % 48 == 12 and ICO-PNG at % 48 == 36
    under the unchanged ahash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _ico_pixels,
        _image_pixels,
        decode_ico,
        decode_media,
        encode_ico,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    for png in (False, True):
        p = encode_ico([rgb], png=png)
        assert np.array_equal(_ico_pixels(p), rgb)
        assert np.array_equal(_image_pixels(p), rgb)
    # multi-size: the largest entry wins; n_frames = directory count
    small = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    big = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    p = encode_ico([small, big, rgb])
    assert np.array_equal(_ico_pixels(p), big)
    assert decode_ico(p)["n_frames"] == 3
    # 256-wide entries store a 0 width byte per the spec
    w256 = rng.integers(0, 256, (2, 256, 3), dtype=np.uint8)
    p = encode_ico([w256])
    assert p[6] == 0 and np.array_equal(_ico_pixels(p), w256)
    assert decode_media(encode_ico([rgb]), "image/x-icon")["kind"] == "image"
    # hostile: truncated directories, out-of-bounds data, bad magic
    for bad in (
        b"\x00\x00\x01\x00",  # 4-byte fragment: r11 fuzz leak, now pinned
        struct.pack("<HHH", 0, 1, 2) + bytes(10),
        struct.pack("<HHH", 0, 1, 1)
        + struct.pack("<BBBBHHII", 8, 8, 0, 0, 1, 24, 4096, 22),
        struct.pack("<HHH", 1, 1, 1) + bytes(16),
    ):
        with pytest.raises(ValueError):
            _ico_pixels(bad)
    for cut in (10, 30, 60):
        try:
            _ico_pixels(encode_ico([rgb])[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture: 12 ships ICO-DIB, 36 ICO-PNG, 0 stays BMP — one ahash
    ids = (0, 12, 36)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[12].mime == "image/x-icon" and rows[36].mime == "image/x-icon"
    assert b"\x89PNG" in bytes(rows[36].payload)
    assert b"\x89PNG" not in bytes(rows[12].payload)
    assert rows[0].mime == "image/bmp"
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 3 and len({r.ahash for r in hashes}) == 1


def test_caf_decode_matrix_and_fixture_rotation(spark):
    """Apple CAF (r11): 'caff' header, signed-64-bit chunk sizes with
    the to-EOF -1 'data' sentinel, and per-format DELEGATION — 'lpcm'
    via the float/endian flags (int 16/24/32 both orders, float
    32/64 to the grid), 'ulaw'/'alaw' via the G.711 tables;
    'ima4'/'aac '/'alac' quarantine.
    The mixed-audio fixture rides the 16-bit contract at doc_id % 96
    == 72 under the unchanged ehash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _caf_payload,
        _caf_samples,
        _pcm16_samples,
        audio_energy_hash,
        decode_caf,
        decode_media,
        synthesize_mixed_audio_from_text,
    )

    raw = bytes(range(200))
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    for bits, flags in (
        (16, 0), (16, 2), (24, 0), (24, 2), (32, 0), (32, 2),
        (32, 1), (32, 3), (64, 1), (64, 3),
    ):
        p = _caf_payload(raw, 44100, bits=bits, flags=flags, stereo=True)
        s, rate, nch = _caf_samples(p)
        assert rate == 44100 and nch == 2
        assert np.array_equal(s, want), (bits, flags)
        assert s.dtype == (np.int32 if bits in (24, 32) and not flags & 1 else np.int16)
        assert np.array_equal(_pcm16_samples(p), want)
    d = decode_caf(_caf_payload(raw))
    assert d["n_frames"] == 200 and d["sample_rate"] == 8000
    assert decode_media(_caf_payload(raw), "audio/x-caf")["kind"] == "audio"
    # G.711-in-CAF pins the byte orientation
    desc = struct.pack(">d4sIIIII", 8000.0, b"ulaw", 0, 1, 1, 1, 16)
    caf = (
        b"caff" + struct.pack(">HH", 1, 0)
        + b"desc" + struct.pack(">q", len(desc)) + desc
        + b"data" + struct.pack(">q", -1) + bytes(4) + b"\xff\x7f"
    )
    assert _caf_samples(caf)[0][0] == 0
    # codecs with no decode arm quarantine honestly
    for fmt in (b"aac ", b"ima4"):
        desc = struct.pack(">d4sIIIII", 8000.0, fmt, 0, 0, 1024, 2, 0)
        caf = (
            b"caff" + struct.pack(">HH", 1, 0)
            + b"desc" + struct.pack(">q", len(desc)) + desc
            + b"data" + struct.pack(">q", -1) + bytes(4)
        )
        with pytest.raises(NotImplementedError, match="codec libraries"):
            _caf_samples(caf)
    good = _caf_payload(raw)
    for cut in (6, 20, 50):
        try:
            _caf_samples(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture: % 96 == 72 ships CAF, 24 stays AVI — one shared ehash
    ids = (0, 24, 72, 96)
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_audio_from_text(docs).collect()}
    assert rows[72].mime == "audio/x-caf"
    assert bytes(rows[72].payload)[:4] == b"caff"
    assert rows[24].mime == "video/x-msvideo"
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 4 and len({r.ehash for r in hashes}) == 1


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


def test_ogg_flac_delegation_and_vorbis_opus_triage(spark):
    """Ogg (r11, RFC 3533): page walk with 255-lacing packet
    reassembly across pages. Ogg-FLAC DECODES — the native fLaC
    stream is rebuilt from the first packet's embedded STREAMINFO
    (re-flagged last) plus the audio packets and delegated to the
    FLAC machinery; Vorbis and Opus get identification-header triage
    with last-granule durations (Opus: 48 kHz granules minus
    pre-skip), rms/peak null rather than wrong. The mixed-audio fixture
    ships mono FLAC docs at doc_id % 12 == 8 as Ogg-FLAC under the
    unchanged ehash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _flac_payload,
        _ogg_flac_payload,
        _ogg_packets,
        _ogg_pages,
        _pcm16_samples,
        audio_energy_hash,
        decode_flac,
        decode_media,
        decode_ogg,
        synthesize_mixed_audio_from_text,
    )

    raw = bytes(range(200))
    want = np.frombuffer(raw, np.uint8).astype(np.int16)
    p = _ogg_flac_payload(raw)
    assert p[:4] == b"OggS"
    assert decode_ogg(p) == decode_flac(_flac_payload(raw))
    assert np.array_equal(_pcm16_samples(p), want)
    assert decode_media(p, "audio/ogg")["kind"] == "audio"
    # packets longer than 255 bytes reassemble across laces
    pk = bytes(range(256)) * 3
    vhead = (
        b"\x01vorbis" + bytes(4) + bytes([2]) + struct.pack("<I", 44100)
        + bytes(14)
    )
    pages = _ogg_pages([vhead, pk], granules=[0, 88200])
    packets, granule, _ = _ogg_packets(pages)
    assert packets[1] == pk and granule == 88200
    dv = decode_ogg(pages)
    assert (dv["codec"], dv["n_channels"], dv["sample_rate"]) == ("vorbis", 2, 44100)
    assert dv["n_frames"] == 88200 and "rms" not in dv
    # Opus: 48 kHz granules minus pre-skip
    oh = (
        b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
        + struct.pack("<I", 16000) + bytes(3)
    )
    pages_o = _ogg_pages([oh, b"\xff\xff"], granules=[0, 48312])
    do = decode_ogg(pages_o)
    assert do["codec"] == "opus" and do["n_frames"] == 48000
    assert abs(do["duration_s"] - 1.0) < 1e-9
    # transform codecs quarantine in the sample layer
    with pytest.raises(NotImplementedError, match="codec library"):
        _pcm16_samples(pages_o)
    for cut in (3, 20, 60, len(p) // 2):
        try:
            decode_ogg(p[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # fixture: % 12 == 8 ships Ogg-FLAC, 2 stays native, 5 stereo FLAC
    ids = (2, 5, 8)
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_audio_from_text(docs).collect()}
    assert rows[8].mime == "audio/ogg" and bytes(rows[8].payload)[:4] == b"OggS"
    assert rows[2].mime == "audio/flac" and rows[5].mime == "audio/flac"
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 3 and len({r.ehash for r in hashes}) == 1


# ---------------------------------------------------------------- #
# lossless JPEG (SOF3, T.81 Annex H) — r11                          #
# ---------------------------------------------------------------- #


def test_jpeg_lossless_round_trips_exactly_all_predictors():
    """SOF3 is the only exactly-lossless member of the JPEG family:
    every one of the seven Annex-H predictors must round-trip random
    8-bit content bit-exactly, gray and RGB (no color transform —
    3-component lossless is direct RGB)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_first_sof,
        _jpeg_pixels,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(17)
    gray = rng.randint(0, 256, (13, 17)).astype(np.uint8)
    rgb = rng.randint(0, 256, (9, 11, 3)).astype(np.uint8)
    for pred in range(1, 8):
        stream = encode_jpeg_lossless(gray, predictor=pred)
        assert _jpeg_first_sof(stream) == 0xC3
        assert (_jpeg_pixels(stream) == np.stack([gray] * 3, axis=-1)).all()
        assert (_jpeg_pixels(encode_jpeg_lossless(rgb, predictor=pred)) == rgb).all()


def test_jpeg_lossless_restart_markers_round_trip():
    """DRI/RSTn in a lossless scan: segment boundaries byte-align the
    stream and reset prediction to the 2^(P-Pt-1) default; decode must
    equal the no-restart encode exactly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(23)
    rgb = rng.randint(0, 256, (12, 7, 3)).astype(np.uint8)
    plain = _jpeg_pixels(encode_jpeg_lossless(rgb, predictor=4))
    restarted = _jpeg_pixels(
        encode_jpeg_lossless(rgb, predictor=4, restart_interval=5)
    )
    assert (plain == restarted).all() and (plain == rgb).all()


def test_jpeg_lossless_point_transform_and_wide_precision():
    """Pt shifts samples down at encode and back up at decode (H.2.2),
    so decode equals (v>>Pt)<<Pt; 12/16-bit precision scales to the
    uint8 grid by the exact v*255/(2^P-1) rounding (the 16-bit TIFF
    rule). The 16-bit case includes a 32768 jump — the huffman
    category-16 code that carries no extend bits."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(29)
    g = rng.randint(0, 256, (6, 9)).astype(np.uint8)
    dec = _jpeg_pixels(encode_jpeg_lossless(g, predictor=5, point_transform=2))
    exp = (g.astype(np.int64) >> 2) << 2
    assert (dec == np.stack([exp.astype(np.uint8)] * 3, axis=-1)).all()

    g12 = rng.randint(0, 4096, (7, 5)).astype(np.int64)
    dec12 = _jpeg_pixels(encode_jpeg_lossless(g12, predictor=6, precision=12))
    exp12 = ((g12 * 255 + 4095 // 2) // 4095).astype(np.uint8)
    assert (dec12 == np.stack([exp12] * 3, axis=-1)).all()

    g16 = np.array([[0, 65535, 0, 32768], [65535, 0, 32767, 1]], dtype=np.int64)
    dec16 = _jpeg_pixels(encode_jpeg_lossless(g16, predictor=1, precision=16))
    exp16 = ((g16 * 255 + 65535 // 2) // 65535).astype(np.uint8)
    assert (dec16 == np.stack([exp16] * 3, axis=-1)).all()


def test_jpeg_lossless_corrupt_payloads_quarantine():
    """Malformed lossless streams surface ValueError (the uniform
    quarantine contract), never IndexError/struct.error: truncated
    entropy data, scan header defects (predictor 0, Pt >= P), a scan
    referencing an undefined huffman table, subsampled multi-component
    layouts, and header-bomb dimensions the stream can't back."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(31)
    g = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    good = encode_jpeg_lossless(g, predictor=7)
    for cut in (4, 10, 30, len(good) - 6):
        with pytest.raises(ValueError):
            _jpeg_pixels(good[:cut])
    sos = good.find(b"\xff\xda")
    # predictor 0 (Ss byte of the scan header)
    bad = bytearray(good)
    bad[sos + 7] = 0
    with pytest.raises(ValueError, match="predictor 0"):
        _jpeg_pixels(bytes(bad))
    # point transform >= precision
    bad = bytearray(good)
    bad[sos + 9] = 8
    with pytest.raises(ValueError, match="corrupt lossless"):
        _jpeg_pixels(bytes(bad))
    # scan references an undefined table (Td=1, only Th=0 defined)
    bad = bytearray(good)
    bad[sos + 6] = 0x10
    with pytest.raises(ValueError, match="undefined huffman"):
        _jpeg_pixels(bytes(bad))
    # subsampled 3-component lossless is rejected, not misdecoded
    rgb = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    c3 = bytearray(encode_jpeg_lossless(rgb))
    sof = c3.find(b"\xff\xc3")
    c3[sof + 11] = 0x21  # comp 1 factors 2x1
    with pytest.raises(ValueError, match="1x1 factors"):
        _jpeg_pixels(bytes(c3))
    # header bomb: SOF3 claims 65535x65535 — bounded before allocation
    bomb = bytearray(good)
    sofg = bomb.find(b"\xff\xc3")
    bomb[sofg + 5 : sofg + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="exceed"):
        _jpeg_pixels(bytes(bomb))


def test_jpeg_lossless_routes_through_spark_feature_path(spark):
    """A lossless JPEG travels the same mapInPandas feature/aHash
    plumbing as every other image: decode_features returns real dims
    and image_ahash matches a BMP of the SAME pixels exactly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        decode_features,
        encode_jpeg_lossless,
        image_ahash,
    )

    rng = np.random.RandomState(37)
    rgb = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_jpeg_lossless(rgb, predictor=4)), "image/jpeg"),
            (2, bytearray(make_bmp(rgb)), "image/bmp"),
        ],
        "doc_id long, payload binary, mime string",
    )
    feats = {r.doc_id: r for r in decode_features(df).collect()}
    assert feats[1].ok and feats[1].width == 16 and feats[1].height == 16
    hashes = {r.doc_id: r.ahash for r in image_ahash(df.drop("mime")).collect()}
    assert hashes[1] == hashes[2]


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    pred=st.integers(1, 7),
    rst=st.integers(0, 6),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_lossless_round_trip_property(h, w, pred, rst, seed):
    """Property pin: ANY uint8 image, ANY predictor, with or without
    restarts, round-trips bit-exactly through encode_jpeg_lossless →
    _jpeg_pixels (including 1-pixel rows/columns, where the Annex-H
    border rules do all the predicting)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(seed)
    g = rng.randint(0, 256, (h, w)).astype(np.uint8)
    dec = _jpeg_pixels(encode_jpeg_lossless(g, predictor=pred, restart_interval=rst))
    assert (dec == np.stack([g] * 3, axis=-1)).all()


# ---------------------------------------------------------------- #
# WebP / VP8L (RFC 9649) — r11                                      #
# ---------------------------------------------------------------- #


def test_webp_vp8l_round_trips_full_matrix():
    """VP8L is always lossless: every decoder path the encoder twin
    can drive must round-trip bit-exactly — all 14 predictor modes,
    cross-color multipliers, subtract-green, color cache, LZ77 runs,
    palette at every sub-byte packing, and their composition."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _webp_pixels,
        decode_webp,
        encode_webp,
    )

    rng = np.random.RandomState(41)
    px = rng.randint(0, 256, (11, 9, 3)).astype(np.uint8)
    for mode in range(14):
        assert (_webp_pixels(encode_webp(px, predictor=mode)) == px).all()
    for cc in ((3, -5, 7), (-128, 127, 1), (0, 0, 0)):
        assert (_webp_pixels(encode_webp(px, cross_color=cc)) == px).all()
    assert (_webp_pixels(encode_webp(px, subtract_green=True)) == px).all()
    comp = np.repeat(rng.randint(0, 256, (6, 4, 3)).astype(np.uint8), 3, axis=1)
    dec = _webp_pixels(
        encode_webp(
            comp,
            subtract_green=True,
            cross_color=(2, -3, 4),
            predictor=7,
            use_lz77=True,
        )
    )
    assert (dec == comp).all()
    tiled = np.tile(rng.randint(0, 256, (2, 2, 3)).astype(np.uint8), (4, 5, 1))
    for bits in (1, 4, 11):
        assert (
            _webp_pixels(encode_webp(tiled, color_cache_bits=bits)) == tiled
        ).all()
    for ncol, shape in ((2, (7, 11)), (4, (5, 9)), (16, (6, 10)), (200, (16, 16))):
        vals = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
        img = vals[rng.randint(0, ncol, shape)]
        assert (_webp_pixels(encode_webp(img, palette=True)) == img).all()
    gray = rng.randint(0, 256, (5, 7)).astype(np.uint8)
    assert (
        _webp_pixels(encode_webp(gray)) == np.stack([gray] * 3, axis=-1)
    ).all()
    one = np.array([[[1, 2, 3]]], dtype=np.uint8)
    assert (_webp_pixels(encode_webp(one)) == one).all()
    meta = decode_webp(encode_webp(px))
    assert meta["codec"] == "vp8l" and (meta["width"], meta["height"]) == (9, 11)


def test_webp_vp8l_meta_prefix_groups():
    """Meta prefix codes: a hand-built stream whose 2x1 entropy image
    routes the left half of each row to group 0 and the right half to
    group 1, with single-symbol codes per group — the decoder must
    select per-block code groups, not just group 0."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _Vp8lWriter,
        _vp8l_emit_literal_image,
        _webp_pixels,
    )

    w, h = 8, 4
    wtr = _Vp8lWriter()
    wtr.write(8, 0x2F)
    wtr.write(14, w - 1)
    wtr.write(14, h - 1)
    wtr.write(1, 0)
    wtr.write(3, 0)
    wtr.write(1, 0)  # no transforms
    wtr.write(1, 0)  # no color cache
    wtr.write(1, 1)  # meta prefix codes present
    wtr.write(3, 2 - 2)  # 4-pixel blocks -> 2x1 entropy image
    # entropy image pixels: (r<<8)|g = group index 0 then 1
    _vp8l_emit_literal_image(wtr, [0xFF000000, 0xFF000100])

    def _group(pixel: int) -> None:
        # a code GROUP is five bare prefix codes (no cache bit —
        # that's what distinguishes it from a sub-image stream)
        for sym in (
            (pixel >> 8) & 0xFF,
            (pixel >> 16) & 0xFF,
            pixel & 0xFF,
            (pixel >> 24) & 0xFF,
            0,
        ):
            wtr.write(1, 1)  # simple
            wtr.write(1, 0)  # one symbol
            wtr.write(1, 1)  # 8-bit
            wtr.write(8, sym)

    # group 0: constant ARGB(255, 10, 20, 30); group 1: (255, 40, 50, 60)
    _group(0xFF0A141E)
    _group(0xFF28323C)
    data = wtr.flush()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    px = _webp_pixels(b"RIFF" + struct.pack("<I", len(riff)) + riff)
    assert px.shape == (4, 8, 3)
    assert (px[:, :4] == [10, 20, 30]).all()
    assert (px[:, 4:] == [40, 50, 60]).all()


def test_webp_vp8l_code_length_repeats():
    """The 16/17/18 repeat codes of the code-length code (the
    encoder twin caps symbols instead, so these are decoder-only):
    a hand-built green code using 17/18 zero runs and a 16
    previous-length repeat must decode to the canonical assignment."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _Vp8lReader,
        _Vp8lWriter,
        _vp8l_read_prefix_code,
    )

    # green tree: symbols 0 and 255 at length 1, via 18+18 zero runs
    wtr = _Vp8lWriter()
    wtr.write(1, 0)  # normal form
    wtr.write(4, 19 - 4)
    clc = {1: 1, 18: 1}  # two CLC symbols, 1 bit each
    order = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
    for s in order:
        wtr.write(3, clc.get(s, 0))
    # canonical CLC: sym 1 -> code 0, sym 18 -> code 1 (1 bit each)
    wtr.write(1, 0)  # no max_symbol cap
    wtr.write_code(1, 0)  # symbol 0: length 1
    wtr.write_code(1, 1)  # 18: zero run
    wtr.write(7, 138 - 11)
    wtr.write_code(1, 1)  # 18: zero run
    wtr.write(7, 116 - 11)
    wtr.write_code(1, 0)  # symbol 255: length 1
    table = _vp8l_read_prefix_code(_Vp8lReader(wtr.flush()), 256)
    codes, single = table
    assert single is None
    assert codes == {(1, 0): 0, (1, 1): 255}

    # lengths [2,2,2,2] via one literal + a 16-repeat of 3, with the
    # explicit max_symbol cap implying the remaining 252 zeros
    wtr = _Vp8lWriter()
    wtr.write(1, 0)
    wtr.write(4, 19 - 4)
    clc = {2: 1, 16: 1}
    for s in order:
        wtr.write(3, clc.get(s, 0))
    wtr.write(1, 1)  # use max_symbol: a cap on CODES READ, so 2
    wtr.write(3, 0)  # 2-bit field
    wtr.write(2, 2 - 2)  # one literal + one repeat = 2 codes
    wtr.write_code(1, 0)  # symbol 0: length 2 (CLC sym 2 -> code 0)
    wtr.write_code(1, 1)  # 16: repeat previous length
    wtr.write(2, 3 - 3)  # 3 repeats
    codes, single = _vp8l_read_prefix_code(_Vp8lReader(wtr.flush()), 256)
    assert single is None
    assert codes == {(2, 0): 0, (2, 1): 1, (2, 2): 2, (2, 3): 3}


def _vp8_keyframe_chunk(w: int, h: int) -> bytes:
    """Minimal VP8 lossy keyframe header (frame tag + start code +
    14-bit dims) — enough for the triage path; not a decodable frame."""
    tag = (0 << 0) | (3 << 1) | (1 << 4) | (64 << 5)  # keyframe, v3, shown
    body = (
        tag.to_bytes(3, "little")
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", w, h)
        + bytes(16)
    )
    return b"VP8 " + struct.pack("<I", len(body)) + body


def test_webp_lossy_and_extended_metadata(spark):
    """VP8 lossy gets metadata-before-decode routing: real dims from
    the keyframe header, NotImplementedError (not a wrong answer) on
    pixel access, per-row quarantine through decode_features. VP8X +
    ANIM containers report canvas dims and ANMF frame count, and an
    animation's first VP8L frame decodes for real."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _webp_pixels,
        decode_features,
        decode_webp,
        encode_webp,
    )

    lossy_body = _vp8_keyframe_chunk(320, 240)
    lossy = b"RIFF" + struct.pack("<I", 4 + len(lossy_body)) + b"WEBP" + lossy_body
    meta = decode_webp(lossy)
    assert meta["codec"] == "vp8" and (meta["width"], meta["height"]) == (320, 240)
    assert "mean_r" not in meta
    # r12 wording: VP8 lossy is quarantined on the measured
    # unverifiability of its ~2.2 KB probability tables, not on a
    # library dependency (see SCALE.md residue map)
    with pytest.raises(NotImplementedError, match="probability tables"):
        _webp_pixels(lossy)

    # VP8X + ANIM + two ANMF frames, the first wrapping a real VP8L
    rng = np.random.RandomState(43)
    px = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    inner = encode_webp(px)
    vp8l_chunk = inner[12:]  # the VP8L chunk (incl. header + padding)
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes([0x02]) + bytes(3) \
        + (5 - 1).to_bytes(3, "little") + (6 - 1).to_bytes(3, "little")
    anim = b"ANIM" + struct.pack("<I", 6) + bytes(6)
    frames = b""
    for _ in range(2):
        body = bytes(16) + vp8l_chunk
        frames += b"ANMF" + struct.pack("<I", len(body)) + body
    payload = b"WEBP" + vp8x + anim + frames
    animated = b"RIFF" + struct.pack("<I", len(payload)) + payload
    meta = decode_webp(animated)
    assert meta["n_frames"] == 2 and meta["codec"] == "vp8l"
    assert (_webp_pixels(animated) == px).all()

    df = spark.createDataFrame(
        [
            (1, bytearray(encode_webp(px)), "image/webp"),
            (2, bytearray(lossy), "image/webp"),
            (3, bytearray(encode_webp(px)[:20]), "image/webp"),
        ],
        "doc_id long, payload binary, mime string",
    )
    rows = {r.doc_id: r for r in decode_features(df).collect()}
    assert rows[1].ok and rows[1].width == 5 and rows[1].height == 6
    assert rows[2].ok and rows[2].codec == "vp8" and rows[2].width == 320
    assert not rows[3].ok


def test_webp_corrupt_payloads_quarantine():
    """Malformed WebP/VP8L bytes surface ValueError (or the honest
    NotImplementedError for lossy frames), never IndexError or
    struct.error: truncations, a bad signature byte, a nonzero
    version, out-of-range cache bits, and header-bomb dimensions."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _Vp8lWriter,
        _webp_pixels,
        encode_webp,
    )

    rng = np.random.RandomState(47)
    good = encode_webp(rng.randint(0, 256, (8, 8, 3)).astype(np.uint8))
    for cut in (3, 8, 11, 15, 21, 30, len(good) - 3):
        try:
            _webp_pixels(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    bad_sig = bytearray(good)
    bad_sig[20] ^= 0xFF  # VP8L signature byte
    with pytest.raises(ValueError):
        _webp_pixels(bytes(bad_sig))

    def _wrap(data: bytes) -> bytes:
        chunk = b"VP8L" + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            chunk += b"\x00"
        riff = b"WEBP" + chunk
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    # nonzero version
    wtr = _Vp8lWriter()
    wtr.write(8, 0x2F)
    wtr.write(14, 0)
    wtr.write(14, 0)
    wtr.write(1, 0)
    wtr.write(3, 5)
    with pytest.raises(ValueError, match="version"):
        _webp_pixels(_wrap(wtr.flush()))
    # cache bits out of range
    wtr = _Vp8lWriter()
    wtr.write(8, 0x2F)
    wtr.write(14, 3)
    wtr.write(14, 3)
    wtr.write(1, 0)
    wtr.write(3, 0)
    wtr.write(1, 0)  # no transforms
    wtr.write(1, 1)
    wtr.write(4, 14)
    with pytest.raises(ValueError, match="color-cache"):
        _webp_pixels(_wrap(wtr.flush()))
    # header bomb: 16383x16383 from a tiny stream
    wtr = _Vp8lWriter()
    wtr.write(8, 0x2F)
    wtr.write(14, 16382)
    wtr.write(14, 16382)
    wtr.write(1, 0)
    wtr.write(3, 0)
    wtr.write(1, 0)
    with pytest.raises(ValueError, match="exceed"):
        _webp_pixels(_wrap(wtr.flush()))


def test_webp_routes_through_spark_paths_and_fixture(spark):
    """WebP rides the shared image plumbing: image_ahash matches a
    BMP of the SAME pixels, and the image fixture ships VP8L at
    doc_id%24==3 (plain at %48==3, subtract-green + predictor + cache
    at %48==27) under the unchanged text-byte oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        encode_webp,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rng = np.random.RandomState(53)
    rgb = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_webp(rgb, subtract_green=True))),
            (2, bytearray(make_bmp(rgb))),
        ],
        "doc_id long, payload binary",
    )
    hashes = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
    assert hashes[1] == hashes[2]
    ids = (0, 3, 27)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[0].mime == "image/bmp"
    assert rows[3].mime == "image/webp" and rows[27].mime == "image/webp"
    assert bytes(rows[3].payload)[:4] == b"RIFF"
    assert bytes(rows[3].payload) != bytes(rows[27].payload)  # different paths
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 3 and len({r.ahash for r in hashes}) == 1


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 10),
    w=st.integers(1, 10),
    sg=st.booleans(),
    pred=st.one_of(st.none(), st.integers(0, 13)),
    cache=st.sampled_from([0, 0, 3]),
    lz=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_webp_vp8l_round_trip_property(h, w, sg, pred, cache, lz, seed):
    """Property pin: ANY uint8 image through ANY encoder option mix
    round-trips bit-exactly (1-pixel rows/columns included — the
    flat-array top-right wrap does the predicting there)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _webp_pixels,
        encode_webp,
    )

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    dec = _webp_pixels(
        encode_webp(
            px,
            subtract_green=sg,
            predictor=pred,
            color_cache_bits=cache,
            use_lz77=lz,
        )
    )
    assert (dec == px).all()


def test_tga_unused_color_map_entry_size_validated():
    """r11 fuzz find: a truecolor/gray TGA carrying an (unused) color
    map skipped the entry-size check, so cm_bits 0-7 reached the
    entry parser with a zero/one-column array and leaked IndexError.
    Now every present map validates its entry size up front."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _tga_pixels,
        encode_tga,
    )

    rng = np.random.RandomState(59)
    rgb = rng.randint(0, 256, (4, 5, 3)).astype(np.uint8)
    good = bytearray(encode_tga(rgb))
    good[1] = 1  # claim a color map is present
    good[5:7] = struct.pack("<H", 3)  # cm_len = 3
    for bad_bits in (0, 1, 7):
        hdr = bytearray(good)
        hdr[7] = bad_bits
        with pytest.raises(ValueError, match="entry size"):
            _tga_pixels(bytes(hdr))


# ---------------------------------------------------------------- #
# Matroska / WebM (EBML) — r11                                       #
# ---------------------------------------------------------------- #


def test_mkv_audio_decodes_across_codecs_and_lacings():
    """The EBML walk + block layer decode the audio-fixture contract
    bit-exactly for A_PCM/INT/LIT, A_PCM/INT/BIG, A_PCM/FLOAT/IEEE
    (int16-grid round) and A_FLAC (native reassembly from
    CodecPrivate + frames), across plain blocks, a BlockGroup, Xiph
    and EBML lacing, and an unknown-size segment (the streamed-file
    shape)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mkv_audio_samples,
        _mkv_payload,
        _pcm16_samples,
        decode_mkv,
        decode_wav,
        _wav_payload,
    )

    raw = b"matroska sample contract bytes! 0123456789" * 3
    exp = np.frombuffer(raw, np.uint8).astype(np.int16)
    for codec in ("pcm", "pcm_be", "float", "flac"):
        s, rate, ch = _mkv_audio_samples(_mkv_payload(raw, codec=codec))
        assert (s == exp).all() and rate == 8000 and ch == 1, codec
    for lac in ("xiph", "ebml"):
        s, _, _ = _mkv_audio_samples(_mkv_payload(raw, lacing=lac))
        assert (s == exp).all(), lac
    s, _, _ = _mkv_audio_samples(
        _mkv_payload(raw, unknown_segment_size=True)
    )
    assert (s == exp).all()
    # fixed lacing repeats one frame three times — structural check
    sfx, _, _ = _mkv_audio_samples(_mkv_payload(raw, lacing="fixed"))
    third = len(sfx) // 3
    assert third and (sfx[:third] == sfx[third : 2 * third]).all()
    # stats parity with the WAV twin of the same bytes
    dm = decode_mkv(_mkv_payload(raw))
    dw = decode_wav(_wav_payload(raw))
    assert dm["kind"] == "audio" and dm["codec"] == "pcm/int/lit"
    assert dm["n_frames"] == dw["n_frames"]
    assert abs(dm["rms"] - dw["rms"]) < 1e-9
    # fingerprint routing sniffs the EBML magic
    assert (_pcm16_samples(_mkv_payload(raw, codec="flac")) == exp).all()


def test_mkv_float_nan_samples_are_corruption():
    """r13 fuzz-campaign warning: the Matroska A_PCM/FLOAT/IEEE arm
    pushed NaN through astype(int16), whose result is platform-
    defined — stats would be silently nondeterministic. The arm now
    carries the same contract as the WAV/AU float arms: non-finite
    samples raise ValueError by name."""
    import struct

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mkv_audio_samples,
        _mkv_payload,
    )

    raw = b"matroska nan contract bytes 0123"
    p = _mkv_payload(raw, codec="float")
    needle = struct.pack("<f", raw[0] / 32767.0)
    assert needle in p
    bad = p.replace(needle, struct.pack("<f", float("nan")), 1)
    with pytest.raises(ValueError, match="non-finite"):
        _mkv_audio_samples(bad)
    # inf is the same corruption class
    bad = p.replace(needle, struct.pack("<f", float("inf")), 1)
    with pytest.raises(ValueError, match="non-finite"):
        _mkv_audio_samples(bad)


def test_mkv_video_triage_and_transform_codec_quarantine():
    """Video tracks get the metadata-before-decode shape: real dims,
    codec id, block-frame count, declared duration — no fake pixels.
    Transform audio codecs (A_VORBIS here) get track-metadata triage
    from decode_mkv while the sample layer quarantines by name."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _ebml_el,
        _ebml_uint_body,
        _mkv_audio_samples,
        decode_mkv,
    )

    def _mkv_container(track: bytes, blocks: bytes) -> bytes:
        info = _ebml_el(
            b"\x15\x49\xa9\x66",
            _ebml_el(b"\x2a\xd7\xb1", _ebml_uint_body(1_000_000))
            + _ebml_el(b"\x44\x89", struct.pack(">f", 2000.0)),
        )
        cluster = _ebml_el(b"\x1f\x43\xb6\x75", _ebml_el(b"\xe7", b"\x00") + blocks)
        segment = _ebml_el(
            b"\x18\x53\x80\x67",
            info + _ebml_el(b"\x16\x54\xae\x6b", track) + cluster,
        )
        header = _ebml_el(
            b"\x1a\x45\xdf\xa3", _ebml_el(b"\x42\x82", b"webm")
        )
        return header + segment

    video_track = _ebml_el(
        b"\xae",
        _ebml_el(b"\xd7", b"\x01")
        + _ebml_el(b"\x83", b"\x01")
        + _ebml_el(b"\x86", b"V_VP8")
        + _ebml_el(
            b"\xe0",
            _ebml_el(b"\xb0", _ebml_uint_body(640))
            + _ebml_el(b"\xba", _ebml_uint_body(360)),
        ),
    )
    blocks = b"".join(
        _ebml_el(b"\xa3", b"\x81\x00\x00\x80" + bytes(12)) for _ in range(5)
    )
    meta = decode_mkv(_mkv_container(video_track, blocks))
    assert meta["kind"] == "video" and meta["codec"] == "vp8"
    assert (meta["width"], meta["height"]) == (640, 360)
    assert meta["n_frames"] == 5
    assert abs(meta["duration_s"] - 2.0) < 1e-9

    vorbis_track = _ebml_el(
        b"\xae",
        _ebml_el(b"\xd7", b"\x01")
        + _ebml_el(b"\x83", b"\x02")
        + _ebml_el(b"\x86", b"A_VORBIS")
        + _ebml_el(
            b"\xe1",
            _ebml_el(b"\xb5", struct.pack(">f", 48000.0))
            + _ebml_el(b"\x9f", b"\x02"),
        ),
    )
    payload = _mkv_container(vorbis_track, blocks)
    meta = decode_mkv(payload)
    assert meta["kind"] == "audio" and meta["codec"] == "vorbis"
    assert meta["sample_rate"] == 48000 and meta["n_channels"] == 2
    assert "rms" not in meta
    with pytest.raises(NotImplementedError, match="A_VORBIS"):
        _mkv_audio_samples(payload)


def test_mkv_corrupt_payloads_quarantine():
    """Malformed EBML surfaces ValueError (never IndexError or
    struct.error): truncations at every stage, lying lacing tables,
    blocks for the wrong track tolerated, missing tracks rejected."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mkv_audio_samples,
        _mkv_payload,
        decode_mkv,
    )

    raw = b"0123456789abcdef" * 4
    good = _mkv_payload(raw, lacing="xiph")
    for cut in (2, 5, 12, 30, 60, len(good) - 5):
        try:
            decode_mkv(good[:cut])
            _mkv_audio_samples(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    with pytest.raises(ValueError, match="EBML"):
        decode_mkv(b"\x00\x01\x02\x03")
    # a Xiph lacing whose declared sizes overrun the block
    bad = bytearray(good)
    i = bad.find(b"\xa3")  # first SimpleBlock id
    # blunt instrument: corrupt the lacing count byte upward
    bad[i + 6] = 0xFE
    try:
        _mkv_audio_samples(bytes(bad))
    except (ValueError, NotImplementedError):
        pass
    except Exception as exc:  # noqa: BLE001
        raise AssertionError(f"lacing bomb leaked {type(exc).__name__}: {exc}")


def test_mkv_fixture_rotation_and_spark_path(spark):
    """doc_id%24==19 ships the 16-bit contract as A_PCM-in-Matroska
    (Xiph lacing), %24==14 the FLAC stream as A_FLAC — both decode to
    the identical ehash as their WAV/FLAC siblings, so the oracle
    gate holds while the EBML walk runs at driver scale; per-row
    quarantine through decode_features."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mkv_payload,
        audio_energy_hash,
        decode_features,
        synthesize_mixed_audio_from_text,
    )

    ids = (0, 19, 14, 2)
    docs = spark.createDataFrame(
        [(i, "identical text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_audio_from_text(docs).collect()}
    assert rows[19].mime == "audio/x-matroska"
    assert rows[14].mime == "audio/x-matroska"
    assert bytes(rows[19].payload)[:4] == b"\x1a\x45\xdf\xa3"
    assert b"A_FLAC" in bytes(rows[14].payload)
    assert rows[0].mime == "audio/wav" and rows[2].mime == "audio/flac"
    hashes = audio_energy_hash(
        synthesize_mixed_audio_from_text(
            spark.createDataFrame(
                [(i, "identical text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 4 and len({r.ehash for r in hashes}) == 1

    raw = b"features path bytes"
    df = spark.createDataFrame(
        [
            (1, bytearray(_mkv_payload(raw)), "audio/x-matroska"),
            (2, bytearray(_mkv_payload(raw)[:15]), "audio/x-matroska"),
        ],
        "doc_id long, payload binary, mime string",
    )
    feats = {r.doc_id: r for r in decode_features(df).collect()}
    assert feats[1].ok and feats[1].kind == "audio"
    assert feats[1].n_frames == len(raw)
    assert not feats[2].ok


def test_mkv_mjpeg_video_frames_match_avi(spark):
    """V_MJPEG-in-Matroska: blocks carry whole JPEG frames, so the
    EBML walk + existing JPEG codec decode the same pixels as the AVI
    twin of the SAME frames — identical frame hashes through the
    Spark path. The video fixture sub-rotates MKV at doc_id%12==7;
    non-MJPEG video codecs quarantine at the frame layer (no rows)
    while decode_mkv still returns container stats."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _avi_mjpeg_container,
        _mjpeg_frames_for_text,
        _mkv_mjpeg_container,
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    raw = b"same frames in two containers"
    frames = _mjpeg_frames_for_text(raw, 4)
    df = spark.createDataFrame(
        [
            (1, bytearray(_mkv_mjpeg_container(frames))),
            (2, bytearray(_avi_mjpeg_container(frames))),
        ],
        "doc_id long, payload binary",
    )
    rows = video_frame_hashes(df).collect()
    mkv_h = sorted((r.frame_id, r.fhash) for r in rows if r.doc_id == 1)
    avi_h = sorted((r.frame_id, r.fhash) for r in rows if r.doc_id == 2)
    assert len(mkv_h) == 4 and mkv_h == avi_h

    ids = (1, 7, 19)
    docs = spark.createDataFrame(
        [(i, "one text for every doc") for i in ids],
        "doc_id long, text string",
    )
    mixed = {r.doc_id: r for r in synthesize_mixed_video_from_text(docs).collect()}
    assert mixed[1].mime == "video/x-msvideo"
    assert mixed[7].mime == "video/x-matroska"
    assert mixed[19].mime == "video/x-matroska"
    fh = video_frame_hashes(
        synthesize_mixed_video_from_text(
            spark.createDataFrame(
                [(i, "one text for every doc") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    by_doc = {}
    for r in fh:
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.fhash))
    assert sorted(by_doc[1]) == sorted(by_doc[7]) == sorted(by_doc[19])


# ---------------------------------------------------------------- #
# APNG — r11                                                        #
# ---------------------------------------------------------------- #


def test_apng_frames_compose_and_metadata():
    """encode_apng → _png_frames round-trips full frames exactly,
    composes region updates over the running canvas, reports acTL
    n_frames through decode_png, and keeps the default image (frame
    0) decoding through the plain-PNG path unchanged."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_frames,
        _png_pixels,
        decode_png,
        encode_apng,
        encode_png,
    )

    rng = np.random.RandomState(61)
    f0 = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    f1 = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    sub = rng.randint(0, 256, (3, 4, 3)).astype(np.uint8)
    frames = _png_frames(encode_apng([f0, f1]))
    assert len(frames) == 2
    assert (frames[0] == f0).all() and (frames[1] == f1).all()
    frames = _png_frames(encode_apng([f0, (2, 3, sub)]))
    exp = f0.copy()
    exp[3:6, 2:6] = sub
    assert (frames[1] == exp).all()
    meta = decode_png(encode_apng([f0, f1]))
    assert meta["n_frames"] == 2 and meta["width"] == 10
    assert (_png_pixels(encode_apng([f0, f1])) == f0).all()
    assert len(_png_frames(encode_png(f0))) == 1  # plain PNG: 1 frame


def test_apng_dispose_and_blend_ops():
    """The decoder-only composition ops, hand-built on an RGBA
    canvas: OVER blending with a semi-transparent region (integer
    alpha math pinned), dispose PREVIOUS reverting the region, and
    dispose BACKGROUND clearing it to transparent black."""
    import zlib

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _PNG_MAGIC,
        _png_chunk,
        _png_frames,
    )

    def _rgba_idat(arr: np.ndarray) -> bytes:
        rows = b"".join(b"\x00" + arr[y].tobytes() for y in range(arr.shape[0]))
        return zlib.compress(rows)

    cw = ch = 4
    base = np.zeros((ch, cw, 4), np.uint8)
    base[:, :] = (100, 150, 200, 255)
    overlay = np.zeros((2, 2, 4), np.uint8)
    overlay[:, :] = (30, 60, 90, 128)
    ihdr = struct.pack(">IIBBBBB", cw, ch, 8, 6, 0, 0, 0)

    def _fctl(seq, w, h, x, y, dispose, blend):
        return _png_chunk(
            b"fcTL",
            struct.pack(">IIIIIHHBB", seq, w, h, x, y, 1, 100, dispose, blend),
        )

    stream = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    stream += _png_chunk(b"acTL", struct.pack(">II", 3, 0))
    stream += _fctl(0, cw, ch, 0, 0, 0, 0)
    stream += _png_chunk(b"IDAT", _rgba_idat(base))
    # frame 1: OVER-blend a semi-transparent 2x2 at (1,1), dispose
    # PREVIOUS so frame 2 starts from the base again
    stream += _fctl(1, 2, 2, 1, 1, 2, 1)
    stream += _png_chunk(b"fdAT", struct.pack(">I", 2) + _rgba_idat(overlay))
    # frame 2: SOURCE-replace the same region, dispose BACKGROUND
    stream += _fctl(3, 2, 2, 1, 1, 1, 0)
    stream += _png_chunk(b"fdAT", struct.pack(">I", 4) + _rgba_idat(overlay))
    stream += _png_chunk(b"IEND", b"")

    frames = _png_frames(stream)
    assert len(frames) == 3
    assert (frames[0] == [100, 150, 200]).all()
    # integer OVER math: out_a = 128 + 255*127//255; rgb =
    # (src*128 + dst*255*127//255) // out_a
    out_a = 128 + 255 * 127 // 255
    exp_px = [
        (s * 128 + d * (255 * 127 // 255)) // out_a
        for s, d in ((30, 100), (60, 150), (90, 200))
    ]
    assert (frames[1][1:3, 1:3] == exp_px).all()
    assert (frames[1][0, :] == [100, 150, 200]).all()  # outside region
    # dispose PREVIOUS restored the base before frame 2's SOURCE blend
    assert (frames[2][1:3, 1:3] == [30, 60, 90]).all()
    assert (frames[2][3, 3] == [100, 150, 200]).all()


def test_apng_corrupt_payloads_quarantine():
    """Malformed APNG structure surfaces ValueError: non-contiguous
    sequence numbers, an acTL/frame-count mismatch, out-of-canvas
    regions, fdAT before any fcTL, and truncations."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_frames,
        encode_apng,
    )

    rng = np.random.RandomState(67)
    f0 = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    f1 = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    good = encode_apng([f0, f1])
    for cut in (10, 40, 80, len(good) - 10):
        try:
            _png_frames(good[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    # acTL declares 3 frames, stream has 2
    bad = bytearray(good)
    i = bad.find(b"acTL")
    bad[i + 4 : i + 8] = struct.pack(">I", 3)
    with pytest.raises(ValueError, match="declares"):
        _png_frames(bytes(bad))
    # fcTL sequence corrupted
    bad = bytearray(good)
    i = bad.find(b"fcTL")
    bad[i + 4 : i + 8] = struct.pack(">I", 9)
    with pytest.raises(ValueError, match="sequence"):
        _png_frames(bytes(bad))
    # region escapes the canvas
    with pytest.raises(ValueError, match="canvas"):
        encode_apng([f0, (4, 4, f1)])


def test_apng_video_fixture_matches_vid0(spark):
    """doc_id%12==9 ships the VID0 frame contract as an APNG — the
    per-frame channel-sum hashes are order-invariant, so the fixture
    swap keeps the oracle unchanged while APNG playback composition
    runs at driver scale."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    ids = (0, 9, 21)
    docs = spark.createDataFrame(
        [(i, "one text for every doc") for i in ids],
        "doc_id long, text string",
    )
    mixed = {r.doc_id: r for r in synthesize_mixed_video_from_text(docs).collect()}
    assert mixed[0].mime == "video/x-frames"
    assert mixed[9].mime == "image/apng" and mixed[21].mime == "image/apng"
    assert bytes(mixed[9].payload)[:8] == b"\x89PNG\r\n\x1a\n"
    fh = video_frame_hashes(
        synthesize_mixed_video_from_text(
            spark.createDataFrame(
                [(i, "one text for every doc") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    by_doc = {}
    for r in fh:
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.fhash))
    assert sorted(by_doc[0]) == sorted(by_doc[9]) == sorted(by_doc[21])


def test_apng_mutated_fdat_quarantines_as_value_error():
    """r11 fuzz find: a mutated fdAT body reached the zlib inflater
    through the rebuilt frame stream and leaked raw zlib.error; the
    region decode now maps it to the uniform ValueError contract."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_frames,
        encode_apng,
    )

    rng = np.random.RandomState(71)
    f0 = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    good = bytearray(encode_apng([f0, f0]))
    i = good.find(b"fdAT")
    good[i + 12] ^= 0xFF  # corrupt the deflate body, keep the walk intact
    with pytest.raises(ValueError):
        _png_frames(bytes(good))


# ---------------------------------------------------------------- #
# DDS (BC1-BC3) — r11                                                #
# ---------------------------------------------------------------- #


def _lattice(c):
    """Project an RGB triple onto the RGB565 expansion lattice."""
    r = ((c[0] * 31 + 127) // 255 * 255 + 15) // 31
    g = ((c[1] * 63 + 127) // 255 * 255 + 31) // 63
    b = ((c[2] * 31 + 127) // 255 * 255 + 15) // 31
    return np.array([r, g, b], np.uint8)


def test_dds_round_trips_and_block_modes():
    """Uncompressed masked-RGB DDS round-trips ANY pixels exactly;
    DXT1/3/5 round-trip exactly when block colors sit on the 565
    lattice (the encoder twin's contract, including odd dims via
    edge-padded blocks); the interpolated 2/3-color palette entries
    follow the documented floor formulas; DXT2/4 decode as their
    non-premultiplied twins (alpha is dropped); DX10 headers route
    BC1-BC3 and quarantine other DXGI formats honestly."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _dds_pixels,
        decode_dds,
        encode_dds,
    )

    rng = np.random.RandomState(73)
    px = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    assert (_dds_pixels(encode_dds(px, fourcc=None)) == px).all()
    ca, cb = _lattice((10, 200, 99)), _lattice((250, 3, 77))
    img = np.zeros((8, 12, 3), np.uint8)
    img[:, :] = ca
    img[2:6, 3:9] = cb
    for fc in (b"DXT1", b"DXT3", b"DXT5"):
        assert (_dds_pixels(encode_dds(img, fourcc=fc)) == img).all(), fc
    odd = np.zeros((5, 7, 3), np.uint8)
    odd[:, :] = ca
    odd[1:3, 2:5] = cb
    assert (_dds_pixels(encode_dds(odd)) == odd).all()
    meta = decode_dds(encode_dds(img, fourcc=b"DXT5"))
    assert meta["codec"] == "dxt5" and (meta["width"], meta["height"]) == (12, 8)

    hdr = encode_dds(np.zeros((4, 4, 3), np.uint8))[:128]
    # 4-color mode (c0 > c1): indexes 2 and 3 hit the floor interps
    block = struct.pack("<HHI", 0xFFFF, 0x0000, 0b1110)
    dec = _dds_pixels(hdr + block)
    assert tuple(dec[0, 0]) == (2 * 255 // 3,) * 3
    assert tuple(dec[0, 1]) == (255 // 3,) * 3
    # 3-color mode (c0 <= c1): index 2 = average, index 3 = black
    block3 = struct.pack("<HHI", 0x0000, 0xFFFF, 0b1110)
    dec3 = _dds_pixels(hdr + block3)
    assert tuple(dec3[0, 0]) == (127, 127, 127)
    assert tuple(dec3[0, 1]) == (0, 0, 0)
    # DXT2 aliases DXT3 here (premultiplied alpha is dropped anyway)
    d3 = bytearray(encode_dds(img, fourcc=b"DXT3"))
    d3[84:88] = b"DXT2"
    assert (_dds_pixels(bytes(d3)) == img).all()
    # DX10 header: BC1_UNORM routes to the same block decode
    plain = encode_dds(img, fourcc=b"DXT1")
    dx10 = bytearray(plain[:128])
    dx10[84:88] = b"DX10"
    dx10 += struct.pack("<5I", 71, 3, 0, 1, 0) + plain[128:]
    assert (_dds_pixels(bytes(dx10)) == img).all()
    dx10[128:132] = struct.pack("<I", 98)  # BC7: codec-library land
    with pytest.raises(NotImplementedError, match="DXGI"):
        _dds_pixels(bytes(dx10))


def test_dds_corrupt_payloads_quarantine():
    """Malformed DDS bytes raise ValueError (or the honest
    NotImplementedError for foreign fourCCs), never IndexError:
    truncations, a lying header size, zero dims, short block data."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _dds_pixels,
        encode_dds,
    )

    ca = _lattice((10, 200, 99))
    img = np.tile(ca, (8, 8, 1))
    good = encode_dds(img, fourcc=b"DXT1")
    for cut in (3, 10, 100, 127, len(good) - 3):
        try:
            _dds_pixels(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    bad = bytearray(good)
    bad[4] = 100  # header size != 124
    with pytest.raises(ValueError, match="header size"):
        _dds_pixels(bytes(bad))
    bad = bytearray(good)
    bad[84:88] = b"ATI2"
    with pytest.raises(NotImplementedError, match="fourCC"):
        _dds_pixels(bytes(bad))
    with pytest.raises(ValueError, match="2 distinct"):
        rng = np.random.RandomState(79)
        encode_dds(rng.randint(0, 256, (8, 8, 3)).astype(np.uint8), b"DXT1")


def test_dds_fixture_rotation_shares_the_ahash(spark):
    """doc_id%48==24 ships the fixture pixels as an uncompressed
    masked-RGB DDS — exact decode, so the shared text-byte aHash
    oracle holds while the surface-header walk runs at driver
    scale."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    ids = (0, 24, 72)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[0].mime == "image/bmp"
    assert rows[24].mime == "image/x-dds" and rows[72].mime == "image/x-dds"
    assert bytes(rows[24].payload)[:4] == b"DDS "
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 3 and len({r.ahash for r in hashes}) == 1


def test_apng_canvas_bomb_bounded_before_allocation():
    """r11 fuzz find: a mutated IHDR width demanded a 171 GiB canvas
    in _png_frames before the per-frame pixel cap could fire; the
    canvas is now bounded up front."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _png_frames,
        encode_apng,
    )

    rng = np.random.RandomState(83)
    f0 = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    bomb = bytearray(encode_apng([f0, f0]))
    bomb[16:20] = struct.pack(">I", 0xAB000010)  # IHDR width
    with pytest.raises(ValueError, match="decode cap"):
        _png_frames(bytes(bomb))


# ---------------------------------------------------------------- #
# PCX + SGI RGB — r11                                                #
# ---------------------------------------------------------------- #


def test_pcx_and_sgi_round_trip_and_fixture(spark):
    """Two legacy-archive staples: PCX (per-scanline per-plane byte
    RLE, truecolor planes + the VGA palette trailer + bilevel) and
    SGI RGB (verbatim + RLE storage with per-(row,channel) tables,
    bottom-up rows). Both encoder twins are lossless; the GIF fixture
    slot sub-rotates PCX at doc_id%24==16 and SGI at %24==13 under
    the unchanged aHash oracle."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcx_pixels,
        _sgi_pixels,
        decode_pcx,
        decode_sgi,
        encode_pcx,
        encode_sgi,
        image_ahash,
        synthesize_mixed_image_from_text,
    )

    rng = np.random.RandomState(89)
    px = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    assert (_pcx_pixels(encode_pcx(px)) == px).all()
    runs = np.repeat(rng.randint(180, 256, (4, 3, 3)).astype(np.uint8), 4, axis=1)
    assert (_pcx_pixels(encode_pcx(runs)) == runs).all()  # >=0xC0 singles
    for rle in (True, False):
        assert (_sgi_pixels(encode_sgi(px, rle=rle)) == px).all()
    g = rng.randint(0, 256, (5, 6)).astype(np.uint8)
    assert (_sgi_pixels(encode_sgi(g)) == np.stack([g] * 3, axis=-1)).all()
    assert decode_pcx(encode_pcx(px))["width"] == 13
    assert decode_sgi(encode_sgi(px))["height"] == 9

    # 8-bit paletted PCX with the 0x0C trailer, hand-built
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.randint(0, 256, (4, 6)).astype(np.uint8)
    hdr = struct.pack("<BBBBHHHHHH", 0x0A, 5, 1, 8, 0, 0, 5, 3, 72, 72)
    hdr += bytes(48) + bytes(1) + bytes([1]) + struct.pack("<H", 6)
    hdr += struct.pack("<H", 1) + bytes(58)
    body = b""
    for y in range(4):
        for v in idx[y]:
            body += bytes([0xC1, v]) if v >= 0xC0 else bytes([v])
    p8 = hdr + body + b"\x0c" + pal.tobytes()
    assert (_pcx_pixels(p8) == pal[idx]).all()

    ids = (1, 16, 13)
    docs = spark.createDataFrame(
        [(i, "same text for every row") for i in ids],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in synthesize_mixed_image_from_text(docs).collect()}
    assert rows[1].mime == "image/gif"
    assert rows[16].mime == "image/x-pcx" and bytes(rows[16].payload)[0] == 0x0A
    assert rows[13].mime == "image/sgi"
    assert bytes(rows[13].payload)[:2] == b"\x01\xda"
    hashes = image_ahash(
        synthesize_mixed_image_from_text(
            spark.createDataFrame(
                [(i, "same text for every row") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    assert len(hashes) == 3 and len({r.ahash for r in hashes}) == 1


def test_pcx_and_sgi_corrupt_payloads_quarantine():
    """Truncations and lying tables raise ValueError, never
    IndexError: cut streams, missing palette trailer, RLE rows
    overrunning their width, oversized offset tables."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _pcx_pixels,
        _sgi_pixels,
        encode_pcx,
        encode_sgi,
    )

    rng = np.random.RandomState(97)
    px = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    for enc, dec in ((encode_pcx, _pcx_pixels), (encode_sgi, _sgi_pixels)):
        good = enc(px)
        for cut in (3, 64, 130, 300, len(good) - 3):
            try:
                dec(good[:cut])
            except ValueError:
                pass
            except Exception as exc:  # noqa: BLE001
                raise AssertionError(
                    f"{dec.__name__} cut={cut} leaked {type(exc).__name__}: {exc}"
                )
    # SGI RLE count escaping the row width
    good = bytearray(encode_sgi(px, rle=True))
    tab_at = 512
    start = struct.unpack_from(">I", good, tab_at)[0]
    good[start] = 0x7F  # repeat 127 > width 8
    with pytest.raises(ValueError, match="overruns"):
        _sgi_pixels(bytes(good))


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


def test_mkv_single_frame_ebml_lace_has_no_size_field():
    """r11 review find: an EBML-laced block with ONE frame carries no
    size fields at all — the decoder was reading a nonexistent vint
    and desyncing. The whole remainder is the frame."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _mkv_block_frames,
    )

    frame = b"\x81\x02\x03\x04"  # leading byte would parse as a vint
    block = b"\x81\x00\x00" + bytes([0x80 | 0x06]) + b"\x00" + frame
    tn, frames = _mkv_block_frames(block, 0, len(block))
    assert tn == 1 and frames == [frame]


def test_webp_animation_playback_and_video_fixture(spark):
    """Animated WebP (r11 late): ANMF regions decode with their VP8L
    alpha and compose per the container's B/D flags — no-blend
    replacement, alpha-blend OVER, dispose-to-background — on the
    VP8X canvas; routed through video_frame_hashes like APNG/GIF.
    The VID0 fixture slot sub-rotates animated WebP at doc_id%12==6
    with hashes pinned identical to the raw-frames twin."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _webp_frames,
        decode_webp,
        encode_webp_anim,
        synthesize_mixed_video_from_text,
        video_frame_hashes,
    )

    rng = np.random.RandomState(103)
    f0 = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    f1 = rng.randint(0, 256, (8, 10, 3)).astype(np.uint8)
    sub = rng.randint(0, 256, (3, 4, 3)).astype(np.uint8)
    frames = _webp_frames(encode_webp_anim([f0, f1]))
    assert len(frames) == 2
    assert (frames[0] == f0).all() and (frames[1] == f1).all()
    frames = _webp_frames(encode_webp_anim([f0, (2, 4, sub)]))
    exp = f0.copy()
    exp[4:7, 2:6] = sub
    assert (frames[1] == exp).all()
    assert decode_webp(encode_webp_anim([f0, f1]))["n_frames"] == 2

    # hand-flip flags: D=1 disposes the region to transparent black,
    # B=0 alpha-blends (VP8L regions are opaque -> equals replacement)
    p = bytearray(encode_webp_anim([f0, (2, 4, sub), f1]))
    i = p.find(b"ANMF", p.find(b"ANMF") + 4)  # second frame's header
    p[i + 8 + 15] = 0x01  # B=0 blend, D=1 background
    frames = _webp_frames(bytes(p))
    assert (frames[1] == exp).all()  # opaque OVER == replacement
    assert (frames[2] == f1).all()  # full frame 3 repaints everything

    # corrupt structure quarantines
    import pytest as _pytest

    good = encode_webp_anim([f0, f1])
    for cut in (14, 30, 60, len(good) - 5):
        try:
            _webp_frames(good[:cut])
        except (ValueError, NotImplementedError):
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"cut={cut} leaked {type(exc).__name__}: {exc}")
    bomb = bytearray(good)
    i = bomb.find(b"VP8X") + 8 + 4
    bomb[i : i + 3] = (1 << 23).to_bytes(3, "little")
    with _pytest.raises(ValueError, match="cap|exceed"):
        _webp_frames(bytes(bomb))

    ids = (0, 6, 18)
    docs = spark.createDataFrame(
        [(i, "one text for every doc") for i in ids],
        "doc_id long, text string",
    )
    mixed = {r.doc_id: r for r in synthesize_mixed_video_from_text(docs).collect()}
    assert mixed[0].mime == "video/x-frames"
    assert mixed[6].mime == "image/webp" and mixed[18].mime == "image/webp"
    assert bytes(mixed[6].payload)[:4] == b"RIFF"
    fh = video_frame_hashes(
        synthesize_mixed_video_from_text(
            spark.createDataFrame(
                [(i, "one text for every doc") for i in ids],
                "doc_id long, text string",
            )
        )
    ).collect()
    by_doc = {}
    for r in fh:
        by_doc.setdefault(r.doc_id, []).append((r.frame_id, r.fhash))
    assert sorted(by_doc[0]) == sorted(by_doc[6]) == sorted(by_doc[18])


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


def _aligned_snr(x, y, search=3000, win=4000):
    best = (-99.0, 0, 0.0)
    for d in range(search):
        yy = y[d : d + win]
        if len(yy) < win * 0.8:
            break
        xx = x[: len(yy)]
        den = float(np.dot(yy, yy))
        if den < 1e-12:
            continue
        a = float(np.dot(yy, xx)) / den
        err = xx - a * yy
        snr = 10 * np.log10(np.dot(xx, xx) / max(np.dot(err, err), 1e-30))
        if snr > best[0]:
            best = (snr, d, a)
    return best


def test_webp_animation_canvas_is_data_backed():
    """Fuzz r12 finding: a 796-byte animated WebP declared a
    4194328x8 canvas — inside the absolute pixel cap, but every
    composed playback frame copies the canvas, amplifying a sub-KB
    payload by ~1e5. The canvas must now be payload-backed (the GIF
    screen rule / VP8L image guard shape)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _webp_frames,
    )

    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes([0x02, 0, 0, 0]) + (
        (4194327).to_bytes(3, "little") + (7).to_bytes(3, "little")
    )
    anmf_hdr = bytes(12) + bytes(3) + bytes([0])
    anmf = b"ANMF" + struct.pack("<I", len(anmf_hdr)) + anmf_hdr
    body = b"WEBP" + vp8x + anmf
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="payload can back"):
        _webp_frames(payload)


def test_webp_large_uniform_canvas_is_legitimate():
    """r12 advice: VP8L encodes a large uniform canvas in far fewer
    bytes than 1 B / 2040 px (a ~90-byte 1000x1000 animation is
    valid), so the composed-volume guard scales by ANMF frame count
    and the VP8L level guard floors at 1M pixels — neither may
    classify these as corrupt."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _webp_frames,
        _webp_pixels,
        encode_webp,
        encode_webp_anim,
    )

    big = np.full((1000, 1000, 3), 77, np.uint8)
    anim = encode_webp_anim([big])
    assert len(anim) < 1000 * 1000 // 2040  # the old guard's reject zone
    frames = _webp_frames(anim)
    assert len(frames) == 1 and frames[0].shape == (1000, 1000, 3)
    assert np.array_equal(np.unique(frames[0]), [77])
    still = encode_webp(big)
    assert np.array_equal(_webp_pixels(still), big)


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
    WAV, AIFF, and AU at several widths — real third-party files, so
    three INDEPENDENT container decoders can be checked against each
    other with no fixture of ours in the loop. The 24/32-bit variants
    are bit-identical across containers (one master); the 16-bit and
    G.711 variants are independent transcodes, equal within a few LSB."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _au_samples,
        _pcm16_samples,
        decode_aiff,
        decode_au,
        decode_wav,
    )

    # stereo 16-bit: same audio through three container decoders
    w = _pcm16_samples(_cpy("pluck-pcm16.wav")).astype(np.int64)
    a = _pcm16_samples(_cpy("pluck-pcm16.aiff")).astype(np.int64)
    u = _pcm16_samples(_cpy("pluck-pcm16.au")).astype(np.int64)
    assert len(w) == len(a) == len(u) == 6614  # 3307 frames x 2 ch
    assert np.abs(w - a).max() <= 16  # independent transcodes: LSB dither
    assert np.abs(w - u).max() <= 16
    dw = decode_wav(_cpy("pluck-pcm16.wav"))
    assert dw["n_channels"] == 2 and dw["sample_rate"] == 11025
    assert dw["n_frames"] == 3307

    # 24/32-bit: one master, three containers, bit-identical stats
    for width in ("pcm24", "pcm32"):
        stats = [
            decode_wav(_cpy(f"pluck-{width}.wav")),
            decode_aiff(_cpy(f"pluck-{width}.aiff")),
            decode_au(_cpy(f"pluck-{width}.au")),
        ]
        for k in ("n_frames", "sample_rate", "rms", "peak"):
            vals = {round(s[k], 9) if isinstance(s[k], float) else s[k] for s in stats}
            assert len(vals) == 1, f"{width} {k} disagrees across containers: {vals}"

    # native 24-bit AU samples sit 8 bits above the 16-bit master
    s24 = _au_samples(_cpy("pluck-pcm24.au"))[0].astype(np.int64)
    assert np.abs((s24 >> 8) - u).max() <= 16

    # G.711: u-law (AU + AIFC) and A-law (AIFC) expand through the
    # spec tables to ~37 dB of the linear original — the real-world
    # companding bound
    def snr(x, y):
        x = x.astype(np.float64)
        y = y.astype(np.float64)
        return 10 * np.log10(np.dot(x, x) / np.dot(x - y, x - y))

    for name in ("pluck-ulaw.au", "pluck-ulaw.aifc", "pluck-alaw.aifc"):
        g = _pcm16_samples(_cpy(name)).astype(np.int64)
        assert len(g) == 6614
        s = snr(w, g)
        assert 30.0 < s < 45.0, f"{name}: companded SNR {s:.1f} dB off-band"

    # 8-bit AIFF/AU (signed linear): same audio at 8-bit precision
    e8a = _pcm16_samples(_cpy("pluck-pcm8.aiff")).astype(np.int64)
    e8u = _pcm16_samples(_cpy("pluck-pcm8.au")).astype(np.int64)
    assert np.abs(e8a - e8u).max() <= 2
    assert snr(w, e8a * 256) > 25.0


_CPY_IMG = "/root/.pyenv/versions/3.7.16/lib/python3.7/test/imghdrdata"


def test_real_world_cross_format_image_agreement():
    """CPython's imghdrdata ships the same 16x16 logo in every classic
    image format — real third-party encodes, so five independent
    decoders (PNG, BMP, PPM, SGI RLE, TIFF) can be required to agree
    PIXEL-EXACTLY with no home-made fixture in the loop; GIF agrees
    through its 8-bit palette, JPEG through its quantization, and the
    real VP8-lossy WebP exercises the verification-boundary
    quarantine on a genuine bitstream."""
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
        _pnm_pixels,
        _webp_pixels,
    )

    ref = px("python.png", _png_pixels)
    assert ref.shape == (16, 16, 3)
    # the format-agnostic surface must agree PIXEL-EXACTLY across four
    # more decoders — this also proves the BMP stored-BGR convention
    # is converted at the _image_pixels boundary on a real file (the
    # first draft of this test compared _bmp_pixels raw and caught the
    # channel swap that sum-invariant oracles can never see)
    for name in (
        "python.bmp", "python.ppm", "python.sgi", "python.tiff",
        "python.ras",  # r12: Sun Raster, gated by this real file
    ):
        got = px(name, _image_pixels)
        assert np.array_equal(got, ref), f"{name} disagrees with python.png"

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

    pbm = px("python.pbm", _pnm_pixels)
    assert set(np.unique(pbm)) <= {0, 255}  # bilevel

    # a REAL lossy-VP8 bitstream hits the documented quarantine
    with pytest.raises(NotImplementedError, match="probability tables"):
        px("python.webp", _webp_pixels)


def test_ras_twins_and_hostile_payloads():
    """Sun Raster (r12): lossless encoder twin across the type/depth
    matrix; corrupt payloads quarantine as ValueError; unimplemented
    variants quarantine by name."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _ras_pixels,
        decode_ras,
        encode_ras,
    )

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, (7, 9, 3)).astype(np.uint8)
    for rtype in (1, 2, 3):
        for depth in (24, 32):
            assert np.array_equal(_ras_pixels(encode_ras(px, rtype=rtype, depth=depth)), px)
    d = decode_ras(encode_ras(px))
    assert (d["width"], d["height"]) == (9, 7)
    # RLE literal-0x80 escape and run-of-0x80 both round-trip
    edge = np.full((2, 24, 3), 0x80, dtype=np.uint8)
    edge[0, 0] = (0x80, 1, 0x80)
    assert np.array_equal(_ras_pixels(encode_ras(edge, rtype=2)), edge)

    good = encode_ras(px)
    with pytest.raises(ValueError):
        _ras_pixels(good[:20])  # truncated header
    bomb = bytearray(good)
    bomb[4:12] = struct.pack(">II", 1 << 14, 1 << 14)  # 256M-pixel lie
    with pytest.raises(ValueError, match="out of range|truncated"):
        _ras_pixels(bytes(bomb))
    rle = bytearray(encode_ras(px, rtype=2))
    with pytest.raises(ValueError):
        _ras_pixels(bytes(rle[:-10]))  # cut mid-RLE
    odd = bytearray(good)
    odd[20:24] = struct.pack(">I", 5)  # rtype 5: not a real type
    with pytest.raises(NotImplementedError, match="type 5"):
        _ras_pixels(bytes(odd))


# --- real-world NON-SILENT ground truth (r13) ---------------------------------


def test_real_world_nonsilent_tone_and_voice():
    """Every real-fixture gate before this one decoded digital silence
    or a 3-5 frame snippet — regimes where most of a decoder is a
    no-op (the r12-advice circularity critique). The two non-silent
    third-party recordings on this box close that hole with signal
    PHYSICS no header check can fake:

    - CPython 2.7's ``Sine-1000Hz-300ms.aif`` is a labelled pure tone.
      The AIFF-PCM path must reproduce the label (48 kHz stereo,
      14400 frames = 300 ms) and the waveform: a windowed FFT peak
      within one bin of 1000 Hz on EACH de-interleaved channel, >99%
      of AC spectral energy inside peak±3 bins (a byte-swap, channel
      smear, or sign error scatters energy broadband), and the pure-
      sine rms/peak ratio 1/sqrt(2) to three decimals.
    - CPython 3.7's ``audiotest.au`` is the classic Sun µ-law voice
      clip: header geometry (mono, 8012 Hz, 28110 frames) plus a peak
      of EXACTLY 32124 — the µ-law table maximum, so the clip's
      clipped syllable pins the table's top rung — and voice-level rms.
    """
    import os

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _aiff_samples,
        decode_aiff,
        decode_au,
    )

    sine_path = (
        "/root/.pyenv/versions/2.7.18/lib/python2.7/test/Sine-1000Hz-300ms.aif"
    )
    au_path = "/root/.pyenv/versions/3.7.16/lib/python3.7/test/audiotest.au"
    if not (os.path.exists(sine_path) and os.path.exists(au_path)):
        pytest.skip("CPython non-silent audio fixtures not on this box")

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

    a = open(au_path, "rb").read()
    da = decode_au(a)
    assert (da["n_channels"], da["sample_rate"], da["n_frames"]) == (1, 8012, 28110)
    assert da["peak"] == 32124.0  # the µ-law expansion-table maximum
    assert 1000 < da["rms"] < 10000
