"""The mapInPandas decode/feature layer (decode_media, decode_features,
resize/sample ops), AVI (Motion-JPEG), and the deterministic fixture
synthesizers that back the oracle contract.

Split out of the r12 single-module multimodal.py (r12 verdict item:
52% of the package in one file); facade in ``__init__``. See the
package docstring for the decode status of each format.

Two private helpers carry the Arrow-batch plumbing; each stage keeps
only its per-row logic. ``_synthesize`` runs every ``synthesize_*``
fixture stage: ``make(doc_id, text_utf8) -> (payload, mime)`` per row,
and any exception fails the job. ``_payload_rows`` runs
``extract_features``, ``sample_frames``, ``sample_audio_frames``,
``image_ahash``, ``video_frame_hashes`` and ``audio_energy_hash``:
``rows(payload)`` gives a document's rows, a ``ValueError`` or
``NotImplementedError`` drops the document, and any other exception
fails the job. ``decode_features`` keeps its own loop to turn ANY
decode failure into an ``ok=false`` row; ``resize_bmp`` raises on an
undecodable payload.
"""

from __future__ import annotations

from collections.abc import Iterator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
import io
import numpy as np
import pandas as pd
import struct
import wave
from .audio import (
    FEATURE_SCHEMA, _WAVE_EXT_GUID_SUFFIX, _f80_encode, _pcm16_samples,
    _wav_samples_f64, decode_aiff, decode_flac, decode_wav, encode_flac,
)
from .image import (
    _PNG_MAGIC, _bmp_pixels, _jpeg_pixels, _png_chunk, decode_bmp,
    decode_gif, decode_jpeg, decode_png, encode_gif, encode_jpeg, encode_png,
)
from .containers import (
    _image_pixels, _mp4_mjpeg_frames, _mp4_video_stats, _mp4_video_track,
    decode_mp4_mjpeg,
)

def _synthesize(df: DataFrame, id_col: str, text_col: str, make) -> DataFrame:
    """One fixture stage over (id, text): ``make(doc_id, text_utf8)``
    returns the row's ``(payload, mime)``."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [
                    (d, *make(int(d), t.encode("utf-8")))
                    for d, t in zip(pdf[id_col], pdf[text_col])
                ],
                columns=["doc_id", "payload", "mime"],
            )

    return df.select(id_col, text_col).mapInPandas(
        _batches, "doc_id long, payload binary, mime string"
    )


def _payload_rows(df: DataFrame, id_col: str, schema: str, rows) -> DataFrame:
    """One 1→N stage over (id, payload): ``rows(payload)`` returns a
    document's output rows without the id; a ``ValueError`` or
    ``NotImplementedError`` drops the document (undecodable → no rows)."""
    cols = [field.split()[0] for field in schema.split(",")]

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    got = rows(bytes(payload))
                except (ValueError, NotImplementedError):
                    continue
                out.extend((doc_id, *r) for r in got)
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, "payload").mapInPandas(_batches, schema)


def decode_media(payload: bytes, mime: str) -> dict:
    """Decode entry point, routed by mime: WAV, AIFF/AIFC, FLAC, BMP,
    PNG, GIF and baseline JPEG decode for real (stdlib + numpy); AVI
    and MP4 decode Motion-JPEG frames and give container stats for
    any other video codec. Every other mime raises
    NotImplementedError naming it."""
    if mime in ("audio/wav", "audio/x-wav", "audio/wave"):
        return decode_wav(payload)
    if mime in ("audio/aiff", "audio/x-aiff"):
        return decode_aiff(payload)
    if mime in ("audio/flac", "audio/x-flac"):
        return decode_flac(payload)
    if mime in ("image/bmp", "image/x-bmp"):
        return decode_bmp(payload)
    if mime == "image/png":
        return decode_png(payload)
    if mime == "image/gif":
        return decode_gif(payload)
    if mime in ("image/jpeg", "image/jpg"):
        return decode_jpeg(payload)
    if mime in ("video/x-msvideo", "video/avi"):
        # MJPEG decodes frames for real; other codecs (xvid, h264,
        # ...) get header-level stats — the same metadata-before-
        # decode routing as the MP4 arm below
        return decode_avi(payload)
    if mime in ("video/mp4", "video/quicktime"):
        # MJPEG samples decode for real through the sample tables +
        # the JPEG codec; any other codec gets the container-level
        # stats (full metadata, no pixel means). One box walk serves
        # routing, stats, and frame resolution.
        trk = _mp4_video_track(payload)
        if trk["codec"] == "jpeg":
            return decode_mp4_mjpeg(payload, trk)
        return _mp4_video_stats(payload, trk)
    raise NotImplementedError(
        f"media decode for {mime!r} requires codec libraries not present; "
        "extract_features uses the deterministic byte-level fallback"
    )


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    Per batch (pandas DataFrame in/out — the real decode would replace
    the byte-level stats with codec output): n_bytes, first byte, and a
    mod-256 checksum. Deterministic, so the SQL oracle can verify the
    full mapInPandas plumbing."""
    return _payload_rows(
        df, id_col, FEATURE_SCHEMA,
        lambda b: [(len(b), b[0] if len(b) else -1, sum(b) % 256)],
    )


DECODE_SCHEMA = (
    "doc_id long, mime string, kind string, ok boolean, err string, "
    "width int, height int, mean_r double, mean_g double, mean_b double, "
    "n_channels int, sample_rate int, n_frames int, duration_s double, "
    "rms double, peak double, codec string"
)

_DECODE_NULLS = {
    "kind": None, "width": None, "height": None,
    "mean_r": None, "mean_g": None, "mean_b": None,
    "n_channels": None, "sample_rate": None, "n_frames": None,
    "duration_s": None, "rms": None, "peak": None, "codec": None,
}


def decode_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL media decode over (payload, mime) columns through
    Arrow-batched ``mapInPandas``: WAV → audio stats, BMP → image
    stats; undecodable payloads (bad bytes or unsupported codec) become
    quarantine rows (``ok=false`` + the error) instead of failing the
    job — one poison blob must not kill a 100 TB pass."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload, mime in zip(pdf[id_col], pdf["payload"], pdf["mime"]):
                row = {"doc_id": doc_id, "mime": mime, **_DECODE_NULLS}
                try:
                    d = decode_media(bytes(payload), mime)
                    # keep only schema keys: an extra key would add a
                    # column and fail the WHOLE Arrow batch against
                    # DECODE_SCHEMA (r10 review) — a decoder drifting
                    # must degrade to a null column, not kill the pass
                    row.update({k: v for k, v in d.items() if k in row})
                    row["ok"], row["err"] = True, None
                except Exception as exc:  # noqa: BLE001 — quarantine, don't kill
                    row["ok"], row["err"] = False, f"{type(exc).__name__}: {exc}"
                out.append(row)
            yield pd.DataFrame(out)

    return df.select(id_col, "payload", "mime").mapInPandas(_batches, DECODE_SCHEMA)


RESIZE_SCHEMA = "doc_id long, thumb binary, thumb_w int, thumb_h int"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_byte int"
AUDIO_FRAME_SCHEMA = "doc_id long, frame_idx int, sample double"


def resize_bmp(df: DataFrame, width: int = 8, height: int = 8, id_col: str = "doc_id") -> DataFrame:
    """REAL image resize for BMP payloads: nearest-neighbor downsample
    of the decoded pixel array; the thumbnail is raw RGB bytes
    (h×w×3). Binary in, binary out, partition-preserving, no shuffle."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            thumbs = []
            for payload in pdf["payload"]:
                px = _image_pixels(bytes(payload))  # (h, w, 3) RGB, BMP or PNG
                ys = (np.arange(height) * px.shape[0] // height).clip(0, px.shape[0] - 1)
                xs = (np.arange(width) * px.shape[1] // width).clip(0, px.shape[1] - 1)
                thumb = px[np.ix_(ys, xs)]
                thumbs.append(thumb.tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "thumb": thumbs,
                    "thumb_w": width,
                    "thumb_h": height,
                }
            )

    return df.select(id_col, "payload").mapInPandas(_batches, RESIZE_SCHEMA)


def sample_audio_frames(df: DataFrame, every_n: int = 1000, id_col: str = "doc_id") -> DataFrame:
    """REAL audio frame sampling for WAV payloads: decode, then emit
    every Nth sample as a row (1→N through mapInPandas)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    return _payload_rows(
        df, id_col, AUDIO_FRAME_SCHEMA,
        lambda b: enumerate(_wav_samples_f64(b)[0][::every_n]),
    )


def sample_frames(df: DataFrame, every_n: int = 50, id_col: str = "doc_id") -> DataFrame:
    """Frame-sampling stage (video analog): emit every Nth payload byte
    as a "frame" row — a 1→N batch output through mapInPandas, the shape
    a real frame extractor uses. Deterministic, so SQL-verifiable."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    return _payload_rows(
        df, id_col, FRAME_SCHEMA,
        lambda b: [(i, b[pos]) for i, pos in enumerate(range(0, len(b), every_n))],
    )


def synthesize_wav_from_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", rate: int = 8000
) -> DataFrame:
    """Deterministic synthetic-media generator: each UTF-8 byte of the
    text becomes one 16-bit PCM sample. Exists so the REAL WAV decoder
    can be exercised (and SQL-oracled) against corpus-scale data in an
    environment with no media files. r11: doc_id % 6 == 5 ships the
    SAME samples under the RF64 header (EBU >4 GB WAV — 0xFFFFFFFF
    data size, real size in ds64), driver-gating the 64-bit walk
    under the unchanged n_frames/rms/peak oracle."""

    def make(d: int, raw: bytes) -> tuple[bytes, str]:
        wav = _rf64_payload if d % 6 == 5 else _wav_payload
        return wav(raw, rate), "audio/wav"

    return _synthesize(df, id_col, text_col, make)


def _rf64_payload(raw: bytes, rate: int = 8000) -> bytes:
    """The SAME sample contract as ``_wav_payload`` under an RF64
    header: 'ds64' carries the real 64-bit riff/data sizes, the
    32-bit data size field holds the spec's 0xFFFFFFFF sentinel."""
    samples = np.frombuffer(raw, dtype=np.uint8).astype("<i2")
    body = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    ds64 = struct.pack("<QQQI", 0, len(body), len(samples), 0)
    out = bytearray(b"RF64" + b"\xff\xff\xff\xff" + b"WAVE")
    out += b"ds64" + struct.pack("<I", len(ds64)) + ds64
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + b"\xff\xff\xff\xff" + body
    if len(body) & 1:
        out += b"\x00"
    struct.pack_into("<Q", out, 20, len(out) - 8)  # ds64 riffSize
    return bytes(out)


def _wav_payload(raw: bytes, rate: int = 8000) -> bytes:
    """The audio fixture contract: each byte of ``raw`` becomes one
    16-bit PCM sample (value 0-255), mono."""
    samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _wave_ext_fmt(subtag: int, n_ch: int, rate: int, bits: int) -> bytes:
    """A spec-correct WAVE_FORMAT_EXTENSIBLE fmt chunk body wrapping
    ``subtag``: cbSize 22, wValidBitsPerSample = container bits, the
    trivial channel mask, KSDATAFORMAT SubFormat GUID."""
    ba = n_ch * bits // 8
    return (
        struct.pack("<HHIIHH", 0xFFFE, n_ch, rate, rate * ba, ba, bits)
        + struct.pack("<HHI", 22, bits, (1 << n_ch) - 1)
        + struct.pack("<H", subtag)
        + _WAVE_EXT_GUID_SUFFIX
    )


def _riff_wrap(fmt: bytes, body: bytes) -> bytes:
    out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        out += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out


def _float_wav_payload(raw: bytes, rate: int = 8000, double: bool = False) -> bytes:
    """The SAME decoded-sample contract as ``_wav_payload`` through
    the IEEE-float decode path (fmt tag 3): byte k ships as k/32767
    in float32 (or float64), which ``_float_wav_expand`` rounds back
    to exactly k on the int16 grid — |float32(k/32767)·32767 − k| ≤
    k·2⁻²⁴ < 2·10⁻⁵, far inside the 0.5 rounding margin. Same decoded
    values, same SQL oracles, new decode path. The float64 variant
    ships wrapped in WAVE_FORMAT_EXTENSIBLE (the modern Windows
    header), driver-gating the SubFormat GUID unwrap."""
    v = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) / 32767.0
    bits = 64 if double else 32
    body = v.astype("<f8" if double else "<f4").tobytes()
    if double:
        fmt = _wave_ext_fmt(3, 1, rate, bits)
    else:
        fmt = struct.pack(
            "<HHIIHH", 3, 1, rate, rate * (bits // 8), bits // 8, bits
        )
    return _riff_wrap(fmt, body)


def _pcm32_wav_payload(raw: bytes, rate: int = 8000) -> bytes:
    """The fixture contract through the 32-bit PCM path: byte k ships
    as int32 value k — already on the int16 grid, so the native-domain
    stats AND the exact-grid fingerprint both see the byte contract
    (a 32-bit container carrying 16-bit-grid values). Emitted as
    WAVE_FORMAT_EXTENSIBLE because the spec REQUIRES the extensible
    header for >16-bit audio — which also driver-gates the probe-side
    PCM decode (the stdlib module can't read this header)."""
    samples = np.frombuffer(raw, dtype=np.uint8).astype("<i4")
    return _riff_wrap(_wave_ext_fmt(1, 1, rate, 32), samples.tobytes())


def _aiff_payload(raw: bytes, rate: int = 8000) -> bytes:
    """The SAME sample contract as ``_wav_payload`` in a real AIFF
    container (big-endian PCM, COMM 80-bit extended-float rate) — so
    mixing containers changes the DECODE PATH, never the decoded
    values, and the SQL oracles hold unchanged."""
    samples = np.frombuffer(raw, dtype=np.uint8).astype(">i2")
    comm = b"COMM" + struct.pack(">IhIh", 18, 1, len(samples), 16) + _f80_encode(rate)
    body = struct.pack(">II", 0, 0) + samples.tobytes()
    ssnd = b"SSND" + struct.pack(">I", len(body)) + body
    if len(body) & 1:
        ssnd += b"\x00"
    form = b"AIFF" + comm + ssnd
    return b"FORM" + struct.pack(">I", len(form)) + form


def _aifc_payload(
    raw: bytes, rate: int = 8000, compression: bytes = b"sowt"
) -> bytes:
    """The SAME sample contract as ``_aiff_payload`` in an AIFC form:
    FVER (the spec's AIFC version timestamp), COMM extended with the
    compressionType + pstring name, SSND in the layout the type
    dictates ('sowt' little-endian PCM, 'NONE'/'twos' big-endian PCM,
    'fl32'/'fl64' big-endian floats carrying k/32767 so the int16-grid
    expansion rounds back to exactly k — the float WAV trick)."""
    if compression in (b"fl32", b"fl64"):
        v = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) / 32767.0
        samples = v.astype(">f4" if compression == b"fl32" else ">f8")
        samp_size = 32 if compression == b"fl32" else 64
    else:
        le = compression == b"sowt"
        samples = np.frombuffer(raw, dtype=np.uint8).astype(
            "<i2" if le else ">i2"
        )
        samp_size = 16
    fver = b"FVER" + struct.pack(">II", 4, 0xA2805140)
    comm = (
        b"COMM"
        + struct.pack(">IhIh", 24, 1, len(samples), samp_size)
        + _f80_encode(rate)
        + compression
        + b"\x00\x00"  # empty pstring name, even-padded
    )
    body = struct.pack(">II", 0, 0) + samples.tobytes()
    ssnd = b"SSND" + struct.pack(">I", len(body)) + body
    if len(body) & 1:
        ssnd += b"\x00"
    form = b"AIFC" + fver + comm + ssnd
    return b"FORM" + struct.pack(">I", len(form)) + form


def _flac_payload(raw: bytes, rate: int = 8000, stereo: bool = False) -> bytes:
    """The SAME sample contract as ``_wav_payload`` through the real
    FLAC encoder (fixed predictors + rice) — lossless, so decoded
    values and every oracle built on them are identical.

    ``stereo`` de-interleaves the byte stream into L = even bytes,
    R = odd bytes (even-length payloads only — stereo frames need
    equal channel lengths), so the DECODED interleaved stream is
    byte-identical to the mono contract while the decode path runs
    the r9 stereo-decorrelation machinery (the encoder's four-way
    channel-assignment competition sees two genuinely different
    channel streams)."""
    samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int16)
    if stereo and len(samples) >= 2 and len(samples) % 2 == 0:
        samples = samples.reshape(-1, 2)
    return encode_flac(samples, rate)


def synthesize_mixed_audio_from_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", rate: int = 8000
) -> DataFrame:
    """Container-diverse audio fixture: doc_id % 3 picks RIFF WAV (0),
    big-endian AIFF (1), or FLAC (2, real rice + fixed/LPC
    compression) around the identical byte→sample contract, so all
    three decode paths run under one unchanged oracle gate. Inside
    each container the rotation runs the decoder's variants on the
    same samples:

    - WAV: IEEE-float at doc_id % 12 == 6 (float32, or float64 in a
      WAVE_FORMAT_EXTENSIBLE header at % 24 == 18) carrying k/32767,
      which the tag-3 expansion rounds back to exactly k; 32-bit
      extensible PCM at % 24 == 12 carrying k; classic 16-bit PCM
      otherwise.
    - AIFF: AIFC at % 6 == 4 ('sowt' little-endian at % 12 == 4,
      'fl32' float at % 24 == 22, 'NONE' big-endian otherwise);
      classic AIFF otherwise.
    - FLAC: stereo at % 6 == 5 when the byte length is even (even/odd
      bytes as L/R, so the decoded interleaved stream is unchanged and
      the stereo-decorrelation decode runs); mono otherwise."""

    def make(d: int, raw: bytes) -> tuple[bytes, str]:
        if d % 3 == 1:
            if d % 6 != 4:
                return _aiff_payload(raw, rate), "audio/aiff"
            comp = b"sowt" if d % 12 == 4 else b"fl32" if d % 24 == 22 else b"NONE"
            return _aifc_payload(raw, rate, comp), "audio/aiff"
        if d % 3 == 2:
            return _flac_payload(raw, rate, stereo=d % 6 == 5), "audio/flac"
        if d % 12 == 6:
            return _float_wav_payload(raw, rate, double=d % 24 == 18), "audio/wav"
        if d % 24 == 12:
            return _pcm32_wav_payload(raw, rate), "audio/wav"
        return _wav_payload(raw, rate), "audio/wav"

    return _synthesize(df, id_col, text_col, make)


def synthesize_bmp_from_text(
    df: DataFrame,
    width: int = 8,
    height: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic synthetic-image generator: the decoded pixel at
    row-major index k gets BGR bytes ``text_bytes[(3k + c) % n]`` —
    so the REAL 24-bit BMP encoder/decoder round-trip can be exercised
    (and SQL-oracled) with no media files in the environment. Rows are
    serialized bottom-up per the BMP spec; width 8 → 24-byte rows, no
    padding."""
    return _synthesize(
        df, id_col, text_col,
        lambda d, raw: (_bmp_payload(raw, width, height), "image/bmp"),
    )


def _fixture_bgr(raw: bytes, width: int, height: int) -> np.ndarray:
    """The image fixture contract, as stored-BGR: pixel k channel c =
    ``raw[(3k + c) % n]``."""
    n = len(raw)
    idx = np.arange(height * width * 3) % max(n, 1)
    px = (
        np.frombuffer(raw, dtype=np.uint8)[idx]
        if n
        else np.zeros(height * width * 3, dtype=np.uint8)
    )
    return px.reshape(height, width, 3)


def _bmp_payload(raw: bytes, width: int = 8, height: int = 8) -> bytes:
    bgr = _fixture_bgr(raw, width, height)
    row_size = (width * 3 + 3) // 4 * 4
    rows = np.zeros((height, row_size), dtype=np.uint8)
    rows[:, : width * 3] = np.flipud(bgr).reshape(height, width * 3)
    body = rows.tobytes()
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )


def synthesize_mixed_image_from_text(
    df: DataFrame,
    width: int = 8,
    height: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Container-diverse image fixture: doc_id % 3 picks 24-bit BMP
    (0), GIF89a (1, LZW, local color table) or PNG (2, ``encode_png``:
    adaptive filters + zlib), all carrying the SAME decoded-RGB pixels
    — pixel k = (raw[(3k+2)%n], raw[(3k+1)%n], raw[(3k)%n]) — so the
    three lossless decode paths run under one unchanged text-byte
    oracle. 8×8 fixtures have ≤64 distinct colors, comfortably
    in-palette."""

    def make(d: int, raw: bytes) -> tuple[bytes, str]:
        if d % 3 == 0:
            return _bmp_payload(raw, width, height), "image/bmp"
        rgb = _fixture_bgr(raw, width, height)[:, :, ::-1]
        if d % 3 == 1:
            return encode_gif(rgb), "image/gif"
        return encode_png(rgb), "image/png"

    return _synthesize(df, id_col, text_col, make)


def synthesize_png_from_text(
    df: DataFrame,
    width: int = 8,
    height: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic synthetic-PNG generator: the decoded pixel at
    row-major index k gets RGB bytes ``text_bytes[(3k + c) % n]`` — the
    SAME mapping as the BMP synthesizer, so the aHash oracle is shared
    verbatim. Scanline y is encoded with filter type ``y % 5``, so a
    corpus-scale decode exercises ALL five PNG filters (None, Sub, Up,
    Average, Paeth), zlib stream included — a REAL compressed-codec
    round trip with zero external libraries. Half the docs (r10,
    doc_id % 6 ∈ {1, 3, 5}) route through ``encode_png`` instead —
    adaptive filter selection, and Adam7 interlacing at % 6 == 3 —
    so the encoder twin and the interlaced decode run at driver scale
    under the same pixel contract and unchanged oracles."""
    import zlib

    def make(d: int, raw: bytes) -> tuple[bytes, str]:
        # the BMP fixture's byte indexing, read as RGB
        rgb = _fixture_bgr(raw, width, height)
        if d % 2 == 1:
            return encode_png(rgb, interlace=d % 6 == 3), "image/png"
        stride = width * 3
        px = rgb.reshape(height, stride).astype(np.int64)
        lines = []
        prev = np.zeros(stride, dtype=np.int64)
        for y in range(height):
            f = y % 5
            cur = px[y]
            filt = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = int(cur[x - 3]) if x >= 3 else 0
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
                    c = int(prev[x - 3]) if x >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (int(cur[x]) - pred) & 0xFF
            lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
            prev = cur
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        idat = zlib.compress(b"".join(lines))
        png = (
            _PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b"")
        )
        return png, "image/png"

    return _synthesize(df, id_col, text_col, make)


def synthesize_jpeg_from_text(
    df: DataFrame,
    n_blocks: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic synthetic-JPEG generator: a 64×8 GRAYSCALE
    baseline JPEG of ``n_blocks`` constant 8×8 blocks, block b's value
    = ``text_bytes[b % n]``, encoded with restart interval 2 (the
    DRI/RSTn path). A constant block has only a DC coefficient
    (8·(v−128)), and the quant table's DC divisor 8 divides it
    exactly — so the LOSSY codec is exactly lossless on these
    fixtures and the aHash oracle stays a pure function of the text
    bytes, while the full huffman/DCT machinery runs for real."""
    return _synthesize(
        df, id_col, text_col,
        lambda d, raw: (
            _mjpeg_frames_for_text(raw, 1, n_blocks, restart_interval=2)[0],
            "image/jpeg",
        ),
    )


AHASH_BITS = 60


def image_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Average-hash perceptual image signature over REAL decoded pixels
    (BMP or PNG, sniffed by magic): bit k is set iff pixel k's
    brightness exceeds the image mean. Computed in EXACT integer
    arithmetic (``60·gray3_k > Σgray3`` with gray3 = r+g+b, channel-
    order independent) so no float mean sits on a threshold tie —
    engine-identical by construction. 60 bits (first 60 row-major
    pixels) keeps the signature sign-safe in a BIGINT, matching the
    SimHash convention so the same pigeonhole block join applies.
    Undecodable payloads quarantine per-payload (no row), matching
    the video_frame_hashes discipline (r9 review)."""
    return _payload_rows(
        df, id_col, "doc_id long, ahash long",
        lambda b: [(_pixel_ahash(_image_pixels(b)),)],
    )


def _threshold_bits(values: np.ndarray) -> int:
    """Pack bit k = "value k above the mean", compared in exact integer
    arithmetic as ``60·v_k > Σv`` so no float mean sits on a tie; 60
    bits keep the signature sign-safe in a BIGINT."""
    bits = (AHASH_BITS * values > int(values.sum())).astype(np.int64)
    return int((bits << np.arange(AHASH_BITS)).sum())


def _pixel_ahash(px: np.ndarray) -> int:
    """aHash of an (h, w, 3) pixel array over its first 60 row-major
    pixels, brightness gray3 = r+g+b (channel-order independent)."""
    return _threshold_bits(px.reshape(-1, 3).sum(axis=1).astype(np.int64)[:AHASH_BITS])


def image_ahash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Perceptual near-duplicate image pairs: aHash signatures joined by
    the generic pigeonhole Hamming block search (exact recall, never
    all-pairs — the image twin of SimHash text dedup)."""
    from ..dedup import hamming_block_pairs

    sigs = image_ahash(df, id_col)
    return hamming_block_pairs(sigs, AHASH_BITS, id_col, "ahash", max_hamming)


_VIDEO_MAGIC = b"VID0"
_FRAME_BYTES = 54 + 8 * 8 * 3  # one 8×8 24-bit BMP, headers included


def synthesize_video_from_text(
    df: DataFrame,
    n_frames: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic synthetic-video generator: a trivial container
    (magic + frame count + concatenated 8×8 BMP frames) where frame f's
    decoded pixel byte k is ``text_bytes[(192·f + k) % n]`` — so the
    REAL container parse + per-frame BMP decode runs at corpus scale
    with no media files."""
    return _synthesize(
        df, id_col, text_col,
        lambda d, raw: (_vid0_payload(raw, n_frames), "video/x-frames"),
    )


def _vid0_payload(raw: bytes, n_frames: int) -> bytes:
    """The VID0 fixture contract: frame f's decoded pixel byte k is
    ``raw[(192·f + k) % n]`` over 8×8 24-bit BMP frames."""
    n = max(len(raw), 1)
    # frame f is the BMP fixture of raw rotated left by 192·f bytes
    shifts = [192 * f % n for f in range(n_frames)]
    frames = [_bmp_payload(raw[s:] + raw[:s], 8, 8) for s in shifts]
    return _VIDEO_MAGIC + struct.pack("<I", n_frames) + b"".join(frames)


def _avi_mjpeg_frames(payload: bytes) -> list[bytes]:
    """JPEG frame payloads of a Motion-JPEG AVI — a REAL RIFF
    container walk (the WAV discipline applied to video): verify
    RIFF/'AVI ', find the 'movi' LIST, collect '00dc'/'00db' chunk
    data honoring RIFF's even-byte padding. Each returned frame is a
    complete baseline JPEG for ``_jpeg_pixels``."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    try:
        return _avi_mjpeg_frames_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt AVI container ({exc})") from exc


def _avi_mjpeg_frames_impl(payload: bytes) -> list[bytes]:
    frames: list[bytes] = []
    pos = 12
    end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    while pos + 8 <= end:
        ckid = payload[pos : pos + 4]
        (cksz,) = struct.unpack_from("<I", payload, pos + 4)
        if ckid == b"LIST" and payload[pos + 8 : pos + 12] == b"movi":
            sub = pos + 12
            subend = pos + 8 + cksz
            while sub + 8 <= subend:
                sid = payload[sub : sub + 4]
                (ssz,) = struct.unpack_from("<I", payload, sub + 4)
                if sid[2:4] in (b"dc", b"db"):
                    # Single-stream contract (r7 advice): only stream
                    # 00 frames form ONE ordered sequence; a second
                    # video/aux stream interleaving '01dc' chunks would
                    # corrupt frame_id order + n_frames, so quarantine
                    # instead of silently merging streams.
                    if sid[:2] != b"00":
                        raise ValueError(
                            "multi-stream AVI (stream %r) unsupported"
                            % sid[:2].decode("ascii", "replace")
                        )
                    frames.append(payload[sub + 8 : sub + 8 + ssz])
                sub += 8 + ssz + (ssz & 1)  # RIFF pads chunks to even
        pos += 8 + cksz + (cksz & 1)
    if not frames:
        raise ValueError("AVI has no video frames")
    return frames


def synthesize_avi_mjpeg_from_text(
    df: DataFrame,
    n_frames: int = 4,
    n_blocks: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic Motion-JPEG AVI generator: a real RIFF/AVI
    container (avih + strl headers, 'movi' LIST of '00dc' chunks)
    whose frames are 64×8 block-constant grayscale JPEGs — frame f
    block b = ``text_bytes[(n_blocks·f + b) % n]``, the exactly-
    lossless fixture contract of ``synthesize_jpeg_from_text`` — so a
    STANDARD video container round-trips through the real JPEG codec
    with no media libraries."""
    return _synthesize(
        df, id_col, text_col,
        lambda d, raw: (
            _avi_mjpeg_container(_mjpeg_frames_for_text(raw, n_frames, n_blocks)),
            "video/x-msvideo",
        ),
    )


def _avi_mjpeg_container(frames: list[bytes], width: int = 64, height: int = 8) -> bytes:
    """A real RIFF/AVI container (avih + strl headers, 'movi' LIST of
    '00dc' chunks) around MJPEG frames."""

    def ck(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(ltype: bytes, data: bytes) -> bytes:
        return ck(b"LIST", ltype + data)

    avih = struct.pack(
        "<14I", 100_000, 0, 0, 0, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0
    )
    strh = b"vids" + b"MJPG" + struct.pack(
        "<12I", 0, 0, 0, 1, 10, 0, len(frames), 0, 0, 0, 0, 0
    )
    strf = struct.pack(
        "<3I2H6I", 40, width, height, 1, 24, 0x47504A4D, width * height * 3, 0, 0, 0, 0
    )
    hdrl = lst(b"hdrl", ck(b"avih", avih) + lst(b"strl", ck(b"strh", strh) + ck(b"strf", strf)))
    movi = lst(b"movi", b"".join(ck(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mjpeg_frames_for_text(
    raw: bytes, n_frames: int, n_blocks: int = 8, restart_interval: int = 0
) -> list[bytes]:
    """The shared block-constant MJPEG fixture contract (JPEG, AVI and
    MP4 synthesizers): frame f is a 8×(8·n_blocks) grayscale JPEG whose
    block b is solid ``raw[(n_blocks·f + b) % n]`` — exactly lossless
    through the real JPEG codec (DC divisor 8, block-constant)."""
    n = len(raw)
    frames = []
    for f in range(n_frames):
        vals = (
            np.frombuffer(raw, dtype=np.uint8)[(n_blocks * f + np.arange(n_blocks)) % n]
            if n
            else np.zeros(n_blocks, dtype=np.uint8)
        )
        px = np.tile(np.repeat(vals, 8), (8, 1)).astype(np.uint8)
        frames.append(encode_jpeg(px, restart_interval=restart_interval))
    return frames


def _mp4_mjpeg_container(
    frames: list[bytes],
    width: int = 64,
    height: int = 8,
    samples_per_chunk: int = 0,
) -> bytes:
    """A REAL minimal ISO-BMFF container around MJPEG frames: ftyp +
    mdat(samples) + moov/trak/mdia/minf/stbl with full sample tables
    (stsd 'jpeg' entry, stts, stsc, stsz, stco). ``samples_per_chunk``
    0 puts every sample in ONE chunk; a positive value splits chunks
    to exercise the decoder's stsc run expansion."""

    def box(btype: bytes, data: bytes) -> bytes:
        return struct.pack(">I", 8 + len(data)) + btype + data

    ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isommp42")
    mdat_body = b"".join(frames)
    # absolute sample offsets: ftyp + mdat header precede the samples
    base = len(ftyp) + 8
    spc = samples_per_chunk or max(len(frames), 1)
    chunk_offsets = []
    pos = base
    for i, f in enumerate(frames):
        if i % spc == 0:
            chunk_offsets.append(pos)
        pos += len(f)
    n = len(frames)
    tkhd = box(
        b"tkhd", bytes(4) + bytes(80) + struct.pack(">II", width << 16, height << 16)
    )
    mdhd = box(b"mdhd", bytes(4) + bytes(8) + struct.pack(">II", 600, 60 * n) + bytes(4))
    hdlr = box(b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(12))
    entry = struct.pack(">I", 16) + b"jpeg" + bytes(8)
    stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
    stts = box(b"stts", bytes(4) + struct.pack(">III", 1, n, 60))
    # spec-exact stsc runs: a trailing partial chunk gets its own run
    runs = [(1, min(spc, n) or 1)]
    if len(chunk_offsets) > 1 and n % spc:
        runs.append((len(chunk_offsets), n % spc))
    stsc = box(
        b"stsc",
        bytes(4)
        + struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", fc, s, 1) for fc, s in runs),
    )
    stsz = box(
        b"stsz",
        bytes(4) + struct.pack(">II", 0, n) + struct.pack(f">{n}I", *map(len, frames)),
    )
    stco = box(
        b"stco",
        bytes(4)
        + struct.pack(">I", len(chunk_offsets))
        + struct.pack(f">{len(chunk_offsets)}I", *chunk_offsets),
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", trak)
    return ftyp + box(b"mdat", mdat_body) + moov


def synthesize_mp4_mjpeg_from_text(
    df: DataFrame,
    n_frames: int = 4,
    n_blocks: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic MJPEG-in-MP4 generator — the ISO-BMFF twin of
    ``synthesize_avi_mjpeg_from_text`` with the SAME frame contract
    (frame f block b = ``text_bytes[(n_blocks·f + b) % n]``), so a
    STANDARD MP4 container round-trips through the real sample-table
    walk + JPEG codec with no media libraries."""
    return _synthesize(
        df, id_col, text_col,
        lambda d, raw: (
            _mp4_mjpeg_container(
                _mjpeg_frames_for_text(raw, n_frames, n_blocks), width=8 * n_blocks
            ),
            "video/mp4",
        ),
    )


def synthesize_mixed_video_from_text(
    df: DataFrame,
    n_frames: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Container-diverse video fixture for the driver queries: doc_id
    % 3 picks VID0 (0, raw BMP frames), Motion-JPEG AVI (1), or MJPEG
    MP4 (2, two samples per chunk, so the multi-run stsc walk runs) —
    so all three real container walks (and the JPEG codec behind two
    of them) run under one oracle gate. One mapInPandas, one scan."""

    def make(d: int, raw: bytes) -> tuple[bytes, str]:
        if d % 3 == 0:
            return _vid0_payload(raw, n_frames), "video/x-frames"
        frames = _mjpeg_frames_for_text(raw, n_frames)
        if d % 3 == 1:
            return _avi_mjpeg_container(frames), "video/x-msvideo"
        return _mp4_mjpeg_container(frames, samples_per_chunk=2), "video/mp4"

    return _synthesize(df, id_col, text_col, make)


def _avi_video_header(payload: bytes) -> dict:
    """Metadata of the first 'vids' stream from the hdrl headers —
    the AVI twin of ``_mp4_video_track``'s metadata-before-decode
    routing: codec fourcc (strf biCompression, falling back to the
    strh handler), dimensions, declared frame count, fps. Raises
    ValueError when the headers are missing or corrupt."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    try:
        return _avi_video_header_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt AVI container ({exc})") from exc


def _avi_video_header_impl(payload: bytes) -> dict:
    end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    pos = 12
    hdrl = None
    while pos + 8 <= end:
        ckid = payload[pos : pos + 4]
        (cksz,) = struct.unpack_from("<I", payload, pos + 4)
        if ckid == b"LIST" and payload[pos + 8 : pos + 12] == b"hdrl":
            hdrl = (pos + 12, min(pos + 8 + cksz, end))
            break
        pos += 8 + cksz + (cksz & 1)
    if hdrl is None:
        raise ValueError("AVI missing hdrl headers")
    pos, hend = hdrl
    while pos + 8 <= hend:
        ckid = payload[pos : pos + 4]
        (cksz,) = struct.unpack_from("<I", payload, pos + 4)
        if ckid == b"LIST" and payload[pos + 8 : pos + 12] == b"strl":
            info = _avi_strl_video(payload, pos + 12, min(pos + 8 + cksz, hend))
            if info is not None:
                return info
        pos += 8 + cksz + (cksz & 1)
    raise ValueError("AVI has no video stream headers")


def _avi_strl_video(payload: bytes, pos: int, end: int) -> dict | None:
    """Parse one strl LIST; dict for a 'vids' stream, None otherwise
    (audio/text streams — the caller keeps scanning)."""
    strh = strf = None
    while pos + 8 <= end:
        ckid = payload[pos : pos + 4]
        (cksz,) = struct.unpack_from("<I", payload, pos + 4)
        if ckid == b"strh":
            strh = (pos + 8, cksz)
        elif ckid == b"strf":
            strf = (pos + 8, cksz)
        pos += 8 + cksz + (cksz & 1)
    if strh is None:
        # degenerate/auxiliary strl (strn/strd only): not this walk's
        # problem — keep scanning for the real video stream (r10
        # review: raising here quarantined files the movi-only decode
        # path used to read fine)
        return None
    off, ssz = strh
    if payload[off : off + 4] != b"vids":
        return None
    if ssz < 36:
        raise ValueError("AVI strh truncated")
    codec = payload[off + 4 : off + 8]
    scale, rate = struct.unpack_from("<II", payload, off + 20)
    (length,) = struct.unpack_from("<I", payload, off + 32)
    width = height = 0
    if strf is not None and strf[1] >= 20:
        _sz, width, height = struct.unpack_from("<Iii", payload, strf[0])
        comp = payload[strf[0] + 16 : strf[0] + 20]
        if comp.strip(b"\x00"):
            codec = comp  # biCompression wins over the strh handler
    return {
        "codec": codec.decode("ascii", "replace").strip("\x00 ").lower(),
        "width": abs(int(width)),
        "height": abs(int(height)),
        "n_frames": int(length),
        "fps": rate / scale if scale else 0.0,
    }


def decode_avi(payload: bytes) -> dict:
    """AVI entry with metadata-before-decode routing (the MP4 arm's
    shape): MJPEG streams decode frames for real; any other codec
    (xvid, h264, ...) returns the header stats — full metadata, no
    pixel means — instead of quarantining with nothing."""
    trk = _avi_video_header(payload)
    if trk["codec"] in ("mjpg", "mjpeg", "jpeg", "dmb1"):
        return decode_avi_mjpeg(payload)
    return {
        "kind": "video",
        "codec": trk["codec"],
        "n_frames": trk["n_frames"],
        "width": trk["width"],
        "height": trk["height"],
        "duration_s": trk["n_frames"] / trk["fps"] if trk["fps"] else 0.0,
    }


def decode_avi_mjpeg(payload: bytes) -> dict:
    """Video stats via the real container+codec walk: frame count and
    first-frame dimensions + mean RGB (consistent with the image
    decode dicts; ``kind: video`` so decode_features rows type)."""
    frames = _avi_mjpeg_frames(payload)
    px = _jpeg_pixels(frames[0])
    mean_rgb = px.reshape(-1, 3).mean(axis=0) if px.size else np.zeros(3)
    return {
        "kind": "video",
        "n_frames": len(frames),
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_r": float(mean_rgb[0]),
        "mean_g": float(mean_rgb[1]),
        "mean_b": float(mean_rgb[2]),
    }


def video_frame_hashes(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse the video container (REAL offset walk — VID0, Motion-JPEG
    AVI, or MJPEG-in-MP4, sniffed by magic), decode every frame (REAL
    BMP or baseline-JPEG parse), and emit one aHash row per frame —
    the 1→N frame fingerprint table video dedup joins on.

    Corrupt or codec-unsupported payloads quarantine per-payload (the
    doc simply emits no frame rows — an unfingerprintable video can't
    participate in frame-join dedup anyway) instead of killing the
    whole pass; ``decode_features`` is the surface that reports WHY a
    payload failed."""

    def _frame_pixels(buf: bytes) -> list[np.ndarray]:
        if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
            return [_jpeg_pixels(f) for f in _avi_mjpeg_frames(buf)]
        if buf[4:8] == b"ftyp":
            return [_jpeg_pixels(f) for f in _mp4_mjpeg_frames(buf)]
        if buf[:4] != _VIDEO_MAGIC:
            raise ValueError("not a VID0, AVI, or MP4 container")
        (nf,) = struct.unpack_from("<I", buf, 4)
        pos = 8
        out = []
        for _ in range(nf):
            out.append(_bmp_pixels(buf[pos : pos + _FRAME_BYTES]))
            pos += _FRAME_BYTES
        return out

    return _payload_rows(
        df, id_col, "doc_id long, frame_id int, fhash long",
        lambda b: [(f, _pixel_ahash(px)) for f, px in enumerate(_frame_pixels(b))],
    )


def video_near_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", min_shared: int = 2
) -> DataFrame:
    """Video near-dup by frame fingerprints (the production shape:
    sample frames → perceptual hash → candidates share hashed frames):
    an equi-join on the EXACT frame hash — never pairwise video
    comparison — then a per-pair distinct-shared-hash count with a
    ``min_shared`` floor.

    The frame-hash relation is pinned (lazy localCheckpoint): the
    self-join references it twice and broadcast planning defeats
    ReusedExchange, so without the pin every video payload is decoded
    twice (r13 before-plan showed the MapInPandas decode duplicated).
    Frame hashes are a few longs per video — the pin is tiny."""
    fh = (
        video_frame_hashes(df, id_col)
        .select(id_col, "fhash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = fh.select(F.col(id_col).alias("doc_a"), "fhash")
    b = fh.select(F.col(id_col).alias("doc_b"), "fhash")
    return (
        a.join(b, "fhash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_frames"))
        .filter(F.col("n_shared_frames") >= min_shared)
    )


def audio_energy_hash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual audio signature over REAL decoded WAV samples: the
    stream splits into 60 even windows (first ``n % 60`` windows one
    sample longer) and bit k is set iff window k's energy (sum of
    squared samples — exact int64) exceeds the stream mean, compared as
    ``60·E_k > ΣE`` so no float mean sits on a tie. The audio member of
    the cross-modality dedup triad (SimHash text / aHash image / this),
    all sharing the same pigeonhole Hamming block join. Undecodable
    payloads quarantine per-payload (no row — an unfingerprintable
    doc can't join; ``decode_features`` reports why), matching the
    video_frame_hashes discipline (r9 review)."""

    def rows(b: bytes) -> list[tuple[int]]:
        s = _pcm16_samples(b).astype(np.int64)
        base, extra = divmod(len(s), AHASH_BITS)
        energies = np.zeros(AHASH_BITS, dtype=np.int64)
        pos = 0
        for k in range(AHASH_BITS):
            ln = base + (1 if k < extra else 0)
            energies[k] = int((s[pos : pos + ln] ** 2).sum())
            pos += ln
        return [(_threshold_bits(energies),)]

    return _payload_rows(df, id_col, "doc_id long, ehash long", rows)


def audio_near_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    from ..dedup import hamming_block_pairs

    sigs = audio_energy_hash(df, id_col)
    return hamming_block_pairs(sigs, AHASH_BITS, id_col, "ehash", max_hamming)

