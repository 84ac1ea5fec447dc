"""Audio codecs: the WAV/RIFF matrix (PCM widths, G.711, float,
extensible, RF64), AIFF/AIFC and FLAC (+ encoder twin), plus the
container-agnostic int16 sample entry (``_pcm16_samples``) the audio
fingerprint uses.

Split out of the r12 single-module multimodal.py (r12 verdict item:
52% of the package in one file); facade in ``__init__``. See the
package docstring for the decode status of each format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
import io
import math
import numpy as np
import struct
import wave

FEATURE_SCHEMA = "doc_id long, n_bytes int, first_byte int, checksum int"


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: encode the text as a binary payload
    plus a typed metadata struct — the schema shape real media columns
    use."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(payload).alias("n_bytes"),
        ),
    )


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """(µ-law, A-law) byte→int16 expansion tables — the canonical
    CCITT G.711 decode (the classic Sun reference formulas): µ-law
    ±32124 max via BIAS-132 segments, A-law ±32256 with the sign bit
    meaning POSITIVE after the 0x55 toggle. Computed once at import,
    pure integer; silence bytes pin the orientation (µ-law 0xFF → 0,
    A-law 0x55 → -8 / 0xD5 → +8)."""
    ulaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
        ulaw[b] = (0x84 - t) if u & 0x80 else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = b ^ 0x55
        seg = (u >> 4) & 7
        t = (u & 0x0F) << 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if u & 0x80 else -t
    return ulaw, alaw


_G711_ULAW, _G711_ALAW = _g711_tables()

def _riff_chunk(payload: bytes, want: bytes) -> tuple[int, int] | None:
    """(payload offset, declared size) of the first ``want`` chunk in
    a RIFF stream, or None — the ONE chunk walk the fmt-extension and
    fact readers share (r10 review, twice: hand-rolled copies of the
    same loop silently diverge on the next bounds fix)."""
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + csz > len(payload):
            # externally truncated final chunk: clamp its extent
            # instead of aborting, so metadata chunks BEFORE the cut
            # are still honored (r10 advice — _riff_fmt_and_data
            # already clamps, and the two walks must agree on which
            # chunks exist)
            return (pos + 8, len(payload) - pos - 8) if cid == want else None
        if cid == want:
            return pos + 8, csz
        pos += 8 + csz + (csz & 1)
    return None


# GUID bytes 2-15 of every KSDATAFORMAT_SUBTYPE_* media subtype: the
# first two bytes are the wrapped format tag, the rest is this fixed
# suffix (xxxx xxxx-0000-0010-8000-00AA00389B71).
_WAVE_EXT_GUID_SUFFIX = bytes.fromhex("0000" "0000" "1000" "8000" "00aa" "0038" "9b71")


def _riff_fmt_and_data(payload: bytes) -> tuple[tuple, bytes] | None:
    """((fmt_tag, n_ch, rate, bits, block_align, extensible), data
    bytes) from a raw RIFF/WAVE walk, or None when the container isn't
    parseable this way — used to route the format tags the stdlib
    ``wave`` module rejects (G.711's 6/7, IEEE
    float's 3). WAVE_FORMAT_EXTENSIBLE (0xFFFE — the modern Windows
    default, REQUIRED by the spec for >16-bit audio) unwraps to the
    tag in the SubFormat GUID's first two bytes when the rest of the
    GUID is the KSDATAFORMAT suffix; a foreign GUID keeps tag 0xFFFE
    and quarantines downstream as unsupported. RF64/BW64 (r11 — the
    EBU >4 GB WAV standard, THE wav shape a 100 TB media pass meets):
    the 32-bit 'data' size is 0xFFFFFFFF and the real 64-bit size
    comes from the 'ds64' chunk that must precede it (clamped to the
    payload, the truncation rule)."""
    magic = payload[:4]
    if magic not in (b"RIFF", b"RF64", b"BW64") or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    ds64_data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        if (
            csz == 0xFFFFFFFF
            and cid == b"data"
            and magic in (b"RF64", b"BW64")
        ):
            if ds64_data is None:
                return None  # the spec requires ds64 before data
            csz = min(ds64_data, len(payload) - pos - 8)
        if pos + 8 + csz > len(payload):
            return None
        if cid == b"ds64" and csz >= 16:
            (ds64_data,) = struct.unpack_from("<Q", payload, pos + 16)
        elif cid == b"fmt " and csz >= 16:
            tag, n_ch, rate = struct.unpack_from("<HHI", payload, pos + 8)
            block_align, bits = struct.unpack_from("<HH", payload, pos + 20)
            extensible = False
            if tag == 0xFFFE and csz >= 40:
                (cb,) = struct.unpack_from("<H", payload, pos + 24)
                guid = payload[pos + 32 : pos + 48]
                if cb >= 22 and guid[2:] == _WAVE_EXT_GUID_SUFFIX:
                    tag = guid[0] | (guid[1] << 8)
                    extensible = True
            fmt = (tag, n_ch, rate, bits, block_align, extensible)
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + csz]
        pos += 8 + csz + (csz & 1)
    if fmt is None or data is None:
        return None
    return fmt, data


def _riff_fact_frames(payload: bytes) -> int:
    """dwSampleLength (frames per channel) from a RIFF fact chunk, 0
    when absent or short. The spec requires fact for every non-PCM
    format; external encoders use it to mark how much of the final
    block is real audio."""
    loc = _riff_chunk(payload, b"fact")
    if loc is None or loc[1] < 4:
        return 0
    return struct.unpack_from("<I", payload, loc[0])[0]


def _apply_fact(
    payload: bytes, samples: np.ndarray, n_ch: int, n_frames: int
) -> tuple[np.ndarray, int]:
    """Truncate decoded interleaved samples to the fact chunk's frame
    count when one is present and SMALLER than what the blocks decode
    to (final-block padding); a larger/absent/zero fact is ignored —
    it can't conjure samples the data doesn't hold."""
    fact = _riff_fact_frames(payload)
    if 0 < fact < n_frames:
        return samples[: fact * n_ch], fact
    return samples, n_frames


def _wav_samples_f64(payload: bytes) -> tuple[np.ndarray, int, int, int]:
    """(float64 samples, n_channels, rate, n_frames) of any PCM WAV
    width the stdlib container can carry — 8-bit (unsigned, centered),
    16/32-bit, and 24-bit (no numpy dtype: little-endian byte assembly
    + sign extension). Shared by ``decode_wav`` and
    ``sample_audio_frames`` so their support matrices can't drift
    (r9 review: the sampler KeyError'd on a width the stats path had
    just learned). G.711 µ-law/A-law WAVs (format tags 7/6 — the
    telephony-corpus staple the stdlib module rejects) expand through
    the public spec tables to 16-bit; IEEE-float WAVs (tag 3, also
    stdlib-rejected) expand to the int16 grid via
    ``_float_wav_expand``. Corrupt containers raise ValueError."""
    probed = _riff_fmt_and_data(payload)
    if probed is not None and probed[0][0] == 3:
        samples, n_ch, rate, n_frames = _float_wav_expand(probed)
        samples, n_frames = _apply_fact(payload, samples, n_ch, n_frames)
        return samples, n_ch, rate, n_frames
    if probed is not None and probed[0][0] == 1 and (
        probed[0][5] or payload[:4] != b"RIFF"
    ):
        # integer PCM wrapped in WAVE_FORMAT_EXTENSIBLE — or under an
        # RF64/BW64 magic (r11) — which the stdlib module rejects, so
        # the probe decodes it: SAME width semantics as the stdlib
        # branch
        samples, n_ch, rate, n_frames = _pcm_wav_expand(probed)
        # fact is optional for PCM but when present it marks real
        # frames, same as every compressed arm (r10 advice: one rule
        # across arms, not header-dependent n_frames)
        samples, n_frames = _apply_fact(payload, samples, n_ch, n_frames)
        return samples, n_ch, rate, n_frames
    if probed is not None and probed[0][0] in (6, 7):
        (tag, n_ch, rate, bits, _ba), data = probed[0][:5], probed[1]
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
        if n_ch < 1:
            raise ValueError(f"invalid WAV channel count {n_ch}")
        table = _G711_ULAW if tag == 7 else _G711_ALAW
        n_frames = len(data) // n_ch
        # whole frames only — the stdlib PCM arm never returns a
        # ragged tail, so the two container arms must agree (r9 review)
        data = data[: n_frames * n_ch]
        samples = table[np.frombuffer(data, dtype=np.uint8)].astype(np.float64)
        samples, n_frames = _apply_fact(payload, samples, n_ch, n_frames)
        return samples, n_ch, rate, n_frames
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_ch = w.getnchannels()
            sampwidth = w.getsampwidth()
            rate = w.getframerate()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
        raise ValueError(f"corrupt WAV container ({exc})") from exc
    samples = _pcm_width_expand(raw, sampwidth * 8)
    samples, n_frames = _apply_fact(payload, samples, n_ch, n_frames)
    return samples, n_ch, rate, n_frames


def _pcm_width_expand(raw: bytes, bits: int) -> np.ndarray:
    """float64 samples of little-endian integer PCM bytes — THE width
    semantics of every WAV PCM arm (stdlib-parsed or probe-parsed, r10
    review: two hand-synced copies diverge): 8-bit unsigned centered,
    16/32-bit native, 24-bit assembled with sign extension."""
    if bits == 24:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        return np.where(v >= 1 << 23, v - (1 << 24), v).astype(np.float64)
    dt = {8: np.uint8, 16: "<i2", 32: "<i4"}.get(bits)
    if dt is None:
        raise ValueError(f"unsupported WAV sample width {bits // 8}")
    samples = np.frombuffer(raw, dtype=dt).astype(np.float64)
    if bits == 8:
        samples -= 128.0
    return samples


def _pcm_wav_expand(probed: tuple) -> tuple[np.ndarray, int, int, int]:
    """Integer-PCM decode from the RIFF probe, for containers the
    stdlib module can't parse (extensible headers); whole frames
    only."""
    (_tag, n_ch, rate, bits, _ba), data = probed[0][:5], probed[1]
    if bits not in (8, 16, 24, 32):
        raise ValueError(f"unsupported WAV sample width {bits // 8}")
    if n_ch < 1:
        raise ValueError(f"invalid WAV channel count {n_ch}")
    width = bits // 8
    n_frames = len(data) // (width * n_ch)
    return (
        _pcm_width_expand(data[: n_frames * width * n_ch], bits),
        n_ch,
        rate,
        n_frames,
    )


def _float_wav_expand(probed: tuple) -> tuple[np.ndarray, int, int, int]:
    """IEEE-float WAV (format tag 3 — the common DAW-export layout the
    stdlib module rejects) expanded to the int16 sample grid, the same
    discipline as the G.711 arm: float is a NORMALIZED encoding
    (full scale ±1.0) whose canonical integerization is
    ``round(clip(v, -1, 1) · 32767)``, so stats, sampler, and
    fingerprint share one grid (and the fixture oracles hold
    unchanged). Out-of-range values clip exactly like every integer
    renderer; non-finite values raise — they would poison rms and
    rounding them is undefined."""
    (_tag, n_ch, rate, bits, _ba), data = probed[0][:5], probed[1]
    if bits not in (32, 64):
        raise ValueError(f"float WAV must be 32- or 64-bit, got {bits}")
    if n_ch < 1:
        raise ValueError(f"invalid WAV channel count {n_ch}")
    width = bits // 8
    n_frames = len(data) // (width * n_ch)
    # whole frames only — same ragged-tail rule as the G.711 arm
    data = data[: n_frames * width * n_ch]
    with np.errstate(invalid="ignore"):  # sNaN f4->f64 cast signals
        v = np.frombuffer(data, dtype="<f4" if bits == 32 else "<f8").astype(
            np.float64
        )
    if v.size and not np.isfinite(v).all():
        raise ValueError("float WAV contains non-finite samples")
    samples = np.rint(np.clip(v, -1.0, 1.0) * 32767.0)
    return samples, n_ch, rate, n_frames


def decode_wav(payload: bytes) -> dict:
    """Decode RIFF PCM audio with the stdlib ``wave`` module: stream
    properties + amplitude stats. No external codec required. Corrupt
    containers surface as ValueError (the module-wide quarantine
    contract) rather than leaking ``wave.Error``/``EOFError``; so do
    format tags no arm decodes (ADPCM, MPEG-in-WAV, ...), through the
    stdlib fallback."""
    samples, n_ch, rate, n_frames = _wav_samples_f64(payload)
    rms = float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0
    peak = float(np.max(np.abs(samples))) if samples.size else 0.0
    return {
        "kind": "audio",
        "n_channels": n_ch,
        "sample_rate": rate,
        "n_frames": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
        "rms": rms,
        "peak": peak,
    }


def _f80_encode(x: int) -> bytes:
    """80-bit IEEE extended float (AIFF sample-rate encoding) of a
    positive integer: 15-bit exponent biased 16383, 64-bit mantissa
    with the integer bit EXPLICIT (no hidden bit, unlike float64)."""
    if x <= 0:
        raise ValueError("AIFF sample rate must be positive")
    e = x.bit_length() - 1
    return struct.pack(">HQ", 16383 + e, x << (63 - e))


def _f80_decode(b: bytes) -> float:
    se, mant = struct.unpack(">HQ", b[:10])
    if se == 0 and mant == 0:
        return 0.0
    exp = (se & 0x7FFF) - 16383
    # 0x7FFF exponent encodes inf/NaN, and anything past float64's
    # range overflows 2.0**exp — no real sample rate is near either.
    # exp == 1023 with a near-2.0 mantissa still reaches inf, so the
    # result is checked too (int(round(inf)) would leak OverflowError).
    if exp > 1023:
        raise ValueError(f"AIFF extended-float exponent out of range ({exp})")
    val = mant / (1 << 63) * 2.0**exp
    if not math.isfinite(val):
        raise ValueError("AIFF extended-float value out of range")
    return -val if se & 0x8000 else val


def _aiff_samples(payload: bytes) -> tuple[np.ndarray, int, int]:
    """(int16 samples, rate, n_channels) of a 16-bit PCM AIFF — a real
    IFF container walk (big-endian twin of the WAV path, stdlib-free
    since ``aifc`` left the stdlib): FORM/AIFF check, COMM chunk
    (channels, frame count, sample size, 80-bit extended-float rate),
    SSND chunk (offset/blockSize header, big-endian PCM), even-byte
    chunk padding honored. AIFC forms (r10, the common Mac-export
    shape) carry a compressionType after the 18 COMM base bytes:
    'NONE'/'twos' are big-endian PCM, 'sowt' is little-endian PCM
    (the QuickTime byte-swap staple), 'fl32'/'fl64' are big-endian
    IEEE floats expanded to the int16 grid (the float WAV rule),
    'ulaw'/'alaw' expand through the G.711 tables; every other codec
    (ADPCM 'ima4', AAC, MACE, QDesign) quarantines as
    NotImplementedError — undecodable without codec libraries, same
    contract as the mp4a/AAC arm."""
    if payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF container")
    try:
        return _aiff_samples_impl(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"corrupt AIFF container ({exc})") from exc


def _aiff_samples_impl(payload: bytes) -> tuple[np.ndarray, int, int]:
    aifc = payload[8:12] == b"AIFC"
    pos = 12
    end = min(len(payload), 8 + struct.unpack_from(">I", payload, 4)[0])
    comm = ssnd = None
    while pos + 8 <= end:
        ckid = payload[pos : pos + 4]
        (cksz,) = struct.unpack_from(">I", payload, pos + 4)
        if pos + 8 + cksz > end:
            raise ValueError(f"AIFF chunk {ckid!r} overruns the form")
        if ckid == b"COMM":
            comm = (pos + 8, pos + 8 + cksz)
        elif ckid == b"SSND":
            ssnd = (pos + 8, pos + 8 + cksz)
        pos += 8 + cksz + (cksz & 1)  # IFF pads chunks to even
    if comm is None or ssnd is None:
        raise ValueError("AIFF missing COMM/SSND")
    # A lying small cksz would make the fixed-field unpacks below read
    # the NEXT chunk's bytes (garbage-in-garbage-out with ok=True), so
    # validate the declared sizes before touching the fields.
    if comm[1] - comm[0] < (22 if aifc else 18):
        raise ValueError("AIFF COMM chunk truncated")
    if ssnd[1] - ssnd[0] < 8:
        raise ValueError("AIFF SSND chunk truncated")
    n_ch, n_frames, samp_size = struct.unpack_from(">hIh", payload, comm[0])
    rate = int(round(_f80_decode(payload[comm[0] + 8 : comm[0] + 18])))
    dtype = ">i2"
    float_width = 0
    g711_table = None
    if aifc:
        ctype = payload[comm[0] + 18 : comm[0] + 22]
        lc = ctype.lower()
        if ctype == b"sowt":
            dtype = "<i2"
        elif lc == b"fl32":
            float_width = 4
        elif lc == b"fl64":
            float_width = 8
        elif lc == b"ulaw":
            g711_table = _G711_ULAW
        elif lc == b"alaw":
            g711_table = _G711_ALAW
        elif ctype not in (b"NONE", b"twos"):
            raise NotImplementedError(
                f"AIFC compression {ctype!r} needs a codec library"
            )
    if n_ch < 1:
        # numChannels is signed in the spec; <1 would make the frombuffer
        # count negative (= read-to-end) and return garbage with ok=True.
        raise ValueError(f"invalid AIFF channel count {n_ch}")
    if g711_table is not None:
        # G.711-in-AIFC ('ulaw'/'alaw' — what the stdlib aifc module
        # used to write): 1 byte per sample through the same expansion
        # tables as the WAV tag-7/6 and MP4 arms; COMM sampleSize
        # declares the DECODED width, so it doesn't size the data.
        offset, _blocksize = struct.unpack_from(">II", payload, ssnd[0])
        start = ssnd[0] + 8 + offset
        count = n_frames * n_ch
        if start + count > ssnd[1]:
            raise ValueError("AIFF sample data truncated")
        u = np.frombuffer(payload, dtype=np.uint8, offset=start, count=count)
        return g711_table[u].astype(np.int16), rate, n_ch
    if float_width:
        if samp_size != float_width * 8:
            raise ValueError(
                f"AIFC float sample size {samp_size} contradicts the "
                f"compression type"
            )
    elif samp_size not in (8, 16, 24, 32):
        raise ValueError(f"unsupported AIFF sample size {samp_size}")
    elif samp_size != 16 and dtype == "<i2":
        # 'sowt' is by definition 16-bit little-endian PCM
        raise ValueError(f"AIFC sowt must be 16-bit, got {samp_size}")
    offset, _blocksize = struct.unpack_from(">II", payload, ssnd[0])
    start = ssnd[0] + 8 + offset
    count = n_frames * n_ch
    width = float_width or samp_size // 8
    if start + width * count > ssnd[1]:
        raise ValueError("AIFF sample data truncated")
    if float_width:
        # IEEE-float AIFC ('fl32'/'fl64'): big-endian normalized
        # floats, expanded to the int16 grid exactly like the float
        # WAV arm — round(clip(v)·32767), non-finite raises
        v = np.frombuffer(
            payload,
            dtype=">f4" if float_width == 4 else ">f8",
            offset=start,
            count=count,
        ).astype(np.float64)
        if v.size and not np.isfinite(v).all():
            raise ValueError("AIFC float samples non-finite")
        return (
            np.rint(np.clip(v, -1.0, 1.0) * 32767.0).astype(np.int16),
            rate,
            n_ch,
        )
    # integer widths (r10, parity with the WAV matrix): 8-bit AIFF is
    # SIGNED (unlike WAV's unsigned 8-bit) so it sits on the int16
    # grid verbatim; 24-bit assembles big-endian with sign extension;
    # 24/32-bit return int32 (native domain, like the FLAC 24 arm)
    if samp_size == 8:
        s8 = np.frombuffer(payload, dtype=np.int8, count=count, offset=start)
        return s8.astype(np.int16), rate, n_ch
    if samp_size == 24:
        b = np.frombuffer(
            payload, dtype=np.uint8, count=3 * count, offset=start
        ).reshape(-1, 3).astype(np.int64)
        v = (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        return v.astype(np.int32), rate, n_ch
    if samp_size == 32:
        s32 = np.frombuffer(payload, dtype=">i4", count=count, offset=start)
        return s32.astype(np.int32), rate, n_ch
    samples = np.frombuffer(payload, dtype=dtype, offset=start, count=count)
    return samples.astype(np.int16), rate, n_ch


def decode_aiff(payload: bytes) -> dict:
    """AIFF twin of ``decode_wav`` — same stats dict off the real
    big-endian IFF parse."""
    samples, rate, n_ch = _aiff_samples(payload)
    s = samples.astype(np.float64)
    n_frames = len(samples) // n_ch if n_ch else 0
    return {
        "kind": "audio",
        "n_channels": n_ch,
        "sample_rate": rate,
        "n_frames": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
        "rms": float(np.sqrt(np.mean(s**2))) if s.size else 0.0,
        "peak": float(np.max(np.abs(s))) if s.size else 0.0,
    }


def _pcm16_samples(payload: bytes) -> np.ndarray:
    """int16 PCM samples of a WAV, AIFF, or FLAC payload, sniffed by
    magic — the container-agnostic entry the audio fingerprint family
    uses, so fixtures can mix containers while the sample CONTRACT
    (and every SQL oracle built on it) stays identical."""
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        samples = _aiff_samples(payload)[0]
        if samples.dtype != np.int16:
            # 24/32-bit AIFF: downshifting discards real bits — the
            # int16-grid exactness rule (8-bit AIFF passes: signed
            # samples sit on the grid verbatim, no conversion choice)
            raise ValueError("unsupported AIFF sample width")
        return samples
    if payload[:4] == b"fLaC":
        samples = _flac_samples(payload)[0]
        if samples.dtype != np.int16:
            # 24-bit FLAC: downshifting discards real bits — the same
            # exactness rule as the 24/32-bit WAV rejections
            raise ValueError("unsupported FLAC sample width 3")
        return samples
    probed = _riff_fmt_and_data(payload)
    if probed is not None and probed[0][0] in (3, 6, 7):
        # G.711 and IEEE-float WAVs both expand to the
        # exact int16 grid — the fingerprint contract — so the stats
        # and fingerprint families share one support matrix (r9
        # review: drift is the sampler-KeyError bug class). The probe
        # already unwrapped extensible headers to these tags.
        return _wav_samples_f64(payload)[0].astype(np.int16)
    if probed is not None and probed[0][0] == 1 and (
        probed[0][5] or payload[:4] != b"RIFF"
    ):
        # extensible integer PCM — or RF64/BW64 (r11) — whose header
        # the stdlib can't parse: same width contract as the stdlib
        # arm below — 16-bit exact, 32-bit only when already on the
        # int16 grid, 8/24 rejected
        bits = probed[0][3]
        if bits not in (16, 32):
            raise ValueError(f"unsupported WAV sample width {bits // 8}")
        v = _pcm_wav_expand(probed)[0]
        if bits == 32 and v.size and (v.max() > 32767 or v.min() < -32768):
            raise ValueError("32-bit WAV samples exceed the int16 grid")
        return v.astype(np.int16)
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            sw = w.getsampwidth()
            if sw not in (2, 4):
                # 24-bit discards real bits on any int16 mapping, and
                # WAV 8-bit is UNSIGNED so mapping it to the int16
                # grid means choosing a centering — both quarantine.
                # (The AIFF arm differs deliberately: AIFF 8-bit is
                # SIGNED and sits on the grid verbatim, so it passes.)
                raise ValueError(f"unsupported WAV sample width {sw}")
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
        raise ValueError(f"corrupt WAV container ({exc})") from exc
    if sw == 4:
        # 32-bit PCM fingerprints only when every sample already sits
        # on the int16 grid (a 32-bit container carrying 16-bit
        # values): downshifting would DISCARD real bits, and the
        # family's contract is exact samples — the same rule that
        # pins the 8/24-bit rejections above. Full-scale 32-bit
        # audio quarantines; stats/sampler still decode it natively.
        v = np.frombuffer(raw, dtype="<i4")
        if v.size and (v.max() > 32767 or v.min() < -32768):
            raise ValueError("32-bit WAV samples exceed the int16 grid")
        return v.astype(np.int16)
    return np.frombuffer(raw, dtype=np.int16)


# --- FLAC: rice coding + fixed linear predictors (r8) -----------------
#
# The fourth real compression family in this module (DEFLATE via zlib,
# huffman+DCT JPEG, LZW GIF, rice+LPC here), implemented from the FLAC
# format spec: MSB-first bitstream, STREAMINFO metadata, frame headers
# with UTF-8-coded frame numbers and CRC-8, subframes with CONSTANT /
# VERBATIM / FIXED(0-4) / LPC(1-32) predictors, partitioned rice
# residuals with escape codes, frame CRC-16. Scope is honest: 16-bit
# mono and stereo (r9: all four channel assignments — independent,
# left/side, side/right, mid/side — with the spec's 17-bit side
# channel, encoder cost-competing the four per frame).
# LPC subframes (r8, second pass): the encoder fits coefficients
# by autocorrelation + Levinson-Durbin, quantizes them with
# error-feedback rounding (precision 12), and cost-competes LPC
# against FIXED 0-2 on actual residual bit counts — on text-byte
# fixture audio LPC genuinely wins (fractional lag-1 correlation that
# FIXED's integer coefficients can't express), so the driver-gated
# FLAC third of the audio fixtures exercises the LPC decode path
# through real compression choices, not a forced flag.


def _check_pixels(px: np.ndarray, who: str, maxval: int = 255) -> None:
    """Reject pixel arrays that cannot be cast to a uint grid without
    surprises: NaN/inf casts to an UNDEFINED value, finite values
    outside [0, maxval] silently wrap, fractional floats silently
    truncate — any of which makes the encoder emit a garbage-but-valid
    stream with ok=True (r9 fuzz + review). ``maxval`` parameterizes
    the grid: 255 for the uint8 encoders, 2^depth - 1 or the palette
    size for PNG (r10 review: one contract, not hand-synced copies)."""
    if np.issubdtype(px.dtype, np.floating) and not np.isfinite(px).all():
        raise ValueError(f"{who}: non-finite pixel values")
    # the uint8 short-circuit is only sound when the grid covers the
    # whole dtype: a uint8 palette index must still honor a smaller
    # maxval (r10 encoder fuzz: index 200 with a 4-color palette)
    if (px.dtype != np.uint8 or maxval < 255) and px.size and (
        px.min() < 0 or px.max() > maxval
    ):
        raise ValueError(f"{who}: pixel values outside [0, {maxval}]")
    if np.issubdtype(px.dtype, np.floating) and px.size and (
        px != np.floor(px)
    ).any():
        # astype would silently truncate 3.7 -> 3: a lossy encode
        # with ok=True on hash-checked-lossless encoders (the
        # FLAC encoder already rejects this; r9 ADVICE aligned
        # the image encoders)
        raise ValueError(f"{who}: non-integral pixel values")


def _check_u8_pixels(px: np.ndarray, who: str) -> None:
    _check_pixels(px, who, 255)


def _crc_table(poly: int, width: int) -> tuple[int, ...]:
    """256-entry table for the MSB-first CRC the two functions below
    compute bytewise — profiling showed the bit-at-a-time form was 37%
    of FLAC decode time (r9), all of it table-foldable."""
    mask, top = (1 << width) - 1, 1 << (width - 1)
    out = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        out.append(crc)
    return tuple(out)


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC16_TABLE[(crc >> 8) ^ b] ^ ((crc << 8) & 0xFFFF)
    return crc


class _BitReader:
    """MSB-first bit reader (FLAC convention; the JPEG reader in this
    module is also MSB-first but carries marker/stuffing logic this
    format doesn't have). Accumulator-based: each read() is O(1)
    amortized, not per-bit — the per-payload decode loop is the hot
    path under mapInPandas."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # next byte to pull into the accumulator
        self.acc = 0
        self.bits = 0

    def read(self, n: int) -> int:
        while self.bits < n:
            if self.pos >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.bits += 8
        self.bits -= n
        out = self.acc >> self.bits
        self.acc &= (1 << self.bits) - 1
        return out

    def read_unary(self) -> int:
        n = 0
        while True:
            if self.bits == 0:
                if self.pos >= len(self.data):
                    raise ValueError("FLAC bitstream truncated")
                self.acc = self.data[self.pos]
                self.pos += 1
                self.bits = 8
            if self.acc == 0:  # whole residue is zeros
                n += self.bits
                self.bits = 0
                if n > 1 << 20:
                    raise ValueError("runaway unary code")
                continue
            top = self.acc.bit_length()
            n += self.bits - top
            self.bits = top - 1  # consume the terminating 1 bit
            self.acc &= (1 << self.bits) - 1
            return n

    @property
    def byte(self) -> int:
        """Index of the next unconsumed byte when bit-aligned."""
        return self.pos - self.bits // 8

    @property
    def bit(self) -> int:
        return (8 - self.bits % 8) % 8

    def align(self) -> None:
        self.bits -= self.bits % 8
        self.acc &= (1 << self.bits) - 1


_FIXED_COEFS = {  # prediction[i] = sum(c * s[i-1-j]) for j, c in enumerate(...)
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_samples(payload: bytes) -> tuple[np.ndarray, int, int]:
    """(int16 samples — int32 for 24-bit streams (r10, the hi-res
    staple) — rate, n_channels) of a mono or stereo FLAC — real
    bitstream decode per the format spec, CRCs verified.
    Stereo frames decode all four channel assignments (independent,
    left/side, side/right, mid/side — the side channel at 17 bits)
    and return interleaved L,R like the AIFF/WAV multichannel paths."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    try:
        return _flac_samples_impl(payload)
    except (struct.error, IndexError, OverflowError) as exc:
        # OverflowError: corrupt LPC coefficients/shifts can grow the
        # exact-int recurrence past what np.asarray accepts
        raise ValueError(f"corrupt FLAC stream ({type(exc).__name__}: {exc})") from exc


def _flac_samples_impl(payload: bytes) -> tuple[np.ndarray, int, int]:
    pos = 4
    rate = n_ch = bps = None
    total = 0
    while True:  # metadata blocks
        header = payload[pos]
        (length,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = pos + 4
        if header & 0x7F == 0:  # STREAMINFO
            r = _BitReader(payload, body)
            r.read(16)  # min blocksize
            r.read(16)  # max blocksize
            r.read(24)
            r.read(24)  # min/max framesize
            rate = r.read(20)
            n_ch = r.read(3) + 1
            bps = r.read(5) + 1
            total = r.read(36)
        pos = body + length
        if header & 0x80:
            break
    if rate is None:
        raise ValueError("FLAC missing STREAMINFO")
    if n_ch not in (1, 2) or bps not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"unsupported FLAC layout ({n_ch} ch, {bps}-bit)")
    chunks: list[np.ndarray] = []
    done = 0  # inter-channel (per-channel) samples decoded so far
    # STREAMINFO total_samples=0 means "unknown" per the spec (streaming
    # encoders can't know it up front) — decode frames to end-of-payload
    # instead of treating it as an empty stream.
    unknown_total = total == 0
    while pos < len(payload) if unknown_total else done < total:
        frame_start = pos
        r = _BitReader(payload, pos)
        if r.read(14) != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        r.read(2)  # reserved + blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        ch_code = r.read(4)
        bps_code = r.read(3)
        r.read(1)
        first = r.read(8)  # UTF-8 coded frame number (our frames: <2^31)
        extra = 0
        if first >= 0xC0:
            n = 1
            while first & (0x40 >> n):
                n += 1
            extra = n
        for _ in range(extra):
            r.read(8)
        if bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        elif bs_code == 1:
            blocksize = 192
        elif 2 <= bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code >= 8:
            blocksize = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved FLAC blocksize code")
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        # channel assignment: 0-7 = that many+1 independent channels,
        # 8/9/10 = the spec's stereo decorrelation modes where the SIDE
        # (difference) channel carries one extra bit of depth
        if ch_code not in _FLAC_CH_DEPTHS:
            raise ValueError("unsupported FLAC channel layout")
        depths = tuple(bps + d for d in _FLAC_CH_DEPTHS[ch_code])
        if len(depths) != n_ch:
            raise ValueError("FLAC frame channel count disagrees with STREAMINFO")
        frame_bps = _FLAC_BPS_CODES.get(bps_code, -1)
        if frame_bps == -1 or (frame_bps is not None and frame_bps != bps):
            raise ValueError("unsupported FLAC frame bit depth")
        if r.bit:  # header fields are whole bytes by construction
            raise ValueError("misaligned FLAC frame header")
        if _crc8(payload[frame_start : r.byte]) != payload[r.byte]:
            raise ValueError("FLAC frame header CRC mismatch")
        r.read(8)  # consume crc8
        subframes = [_flac_subframe(r, blocksize, d) for d in depths]
        r.align()
        (frame_crc,) = struct.unpack_from(">H", payload, r.byte)
        if _crc16(payload[frame_start : r.byte]) != frame_crc:
            raise ValueError("FLAC frame CRC mismatch")
        pos = r.byte + 2
        n = blocksize if unknown_total else min(blocksize, total - done)
        if ch_code == 0:
            frame_samples = subframes[0]
        else:
            # stereo reconstruction — exact int identities of the
            # spec's decorrelation: side = L - R, mid = (L + R) >> 1;
            # (L+R) and side share parity, so (mid << 1) | (side & 1)
            # recovers L+R losslessly
            ch0, ch1 = subframes
            if ch_code == 8:  # left/side
                left, right = ch0, ch0 - ch1
            elif ch_code == 9:  # side/right
                left, right = ch1 + ch0, ch1
            elif ch_code == 10:  # mid/side
                total_lr = (ch0 << 1) | (ch1 & 1)
                left = (total_lr + ch1) >> 1
                right = (total_lr - ch1) >> 1
            else:  # 1: two independent channels
                left, right = ch0, ch1
            frame_samples = np.stack([left, right], axis=1).reshape(-1)
        chunks.append(frame_samples[: n * n_ch])
        done += n
    arr = (
        np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int64)
    )
    full = 1 << (bps - 1)
    if arr.size and ((arr >= full).any() or (arr < -full).any()):
        raise ValueError(f"FLAC sample out of {bps}-bit range")
    return arr.astype(np.int16 if bps <= 16 else np.int32), rate, n_ch


# frame-header channel-assignment code -> per-subframe bit-depth
# OFFSETS from the stream bps (side channels are bps+1 per the spec;
# r10: offsets rather than absolute depths so 16- and 24-bit streams
# share one table)
_FLAC_CH_DEPTHS = {
    0: (0,),  # mono
    1: (0, 0),  # independent stereo
    8: (0, 1),  # left/side
    9: (1, 0),  # side/right
    10: (0, 1),  # mid/side
}
# frame-header sample-size code -> bits (0 = from STREAMINFO) — the
# full RFC 9639 matrix (late r11; 32-bit entered the spec with the
# RFC, 011 stays reserved)
_FLAC_BPS_CODES = {0: None, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_subframe(r: "_BitReader", blocksize: int, bps: int) -> np.ndarray:
    """One decoded subframe at the given bit depth (int64 array of
    ``blocksize`` samples) — CONSTANT / VERBATIM / FIXED / LPC, shared
    by the mono path and every stereo channel (the side channel calls
    it at ``bps + 1``). Wasted bits (r9): a set flag is followed by
    k-1 in unary; the subframe stores ``bps - k``-bit samples that
    shift left by k on output — the spec's optimization for content
    whose low bits are uniformly zero (e.g. 8-bit audio stored as
    16-bit)."""
    if r.read(1):
        raise ValueError("bad subframe padding bit")
    sf_type = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        if wasted >= bps:
            raise ValueError("FLAC wasted bits exceed the sample depth")
    out = _flac_subframe_body(r, blocksize, sf_type, bps - wasted)
    return out << wasted if wasted else out


def _flac_subframe_body(
    r: "_BitReader", blocksize: int, sf_type: int, bps: int
) -> np.ndarray:
    if sf_type == 0:  # CONSTANT
        val = _sign_extend(r.read(bps), bps)
        return np.full(blocksize, val, dtype=np.int64)
    if sf_type == 1:  # VERBATIM
        return np.asarray(
            [_sign_extend(r.read(bps), bps) for _ in range(blocksize)],
            dtype=np.int64,
        )
    if 8 <= sf_type <= 12:  # FIXED order 0-4
        order = sf_type - 8
        warm = [_sign_extend(r.read(bps), bps) for _ in range(order)]
        resid = _flac_read_residual(r, blocksize, order)
        # FIXED prediction of order k is the k-th finite difference:
        # integrate the residual k times (cumsum), seeding each
        # level with the warmup's j-th difference — exact in int64
        # and vectorized (the per-sample recurrence was the decode
        # hot spot)
        x = np.asarray(resid, dtype=np.int64)
        w_arr = np.asarray(warm, dtype=np.int64)
        diffs = [w_arr]
        for _ in range(order):
            diffs.append(np.diff(diffs[-1]))
        for j in range(order - 1, -1, -1):
            x = diffs[j][-1] + np.cumsum(x)
        return np.concatenate([w_arr, x])
    if 32 <= sf_type <= 63:  # LPC order 1-32
        order = sf_type - 31
        warm = [_sign_extend(r.read(bps), bps) for _ in range(order)]
        prec_code = r.read(4)
        if prec_code == 0xF:
            raise ValueError("invalid FLAC LPC precision code")
        prec = prec_code + 1
        shift = _sign_extend(r.read(5), 5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [_sign_extend(r.read(prec), prec) for _ in range(order)]
        resid = _flac_read_residual(r, blocksize, order)
        # the LPC recurrence feeds each prediction from RECONSTRUCTED
        # samples — a true IIR, inherently serial like the rice
        # symbol loop (same entropy-stage shape as the JPEG/PNG
        # notes); O(order) int ops per sample, Python ints so the
        # >> is the arithmetic shift the spec requires
        hist = [int(v) for v in warm]
        for e in resid:
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * hist[-1 - j]
            hist.append(e + (acc >> shift))
        return np.asarray(hist, dtype=np.int64)
    raise ValueError(f"reserved FLAC subframe type {sf_type}")


def _sign_extend(v: int, bits: int) -> int:
    return v - (1 << bits) if v & (1 << (bits - 1)) else v


def _flac_read_residual(r: _BitReader, blocksize: int, order: int) -> list[int]:
    if order >= blocksize:
        raise ValueError("FLAC predictor order exceeds blocksize")
    method = r.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual method")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts or (blocksize >> porder) <= order and nparts > 1:
        raise ValueError("invalid FLAC rice partition order")
    out: list[int] = []
    for p in range(nparts):
        count = (blocksize >> porder) - (order if p == 0 else 0)
        param = r.read(plen)
        if param == escape:
            raw_bits = r.read(5)
            vals = [_sign_extend(r.read(raw_bits), raw_bits) if raw_bits else 0 for _ in range(count)]
            out.extend(vals)
            continue
        for _ in range(count):
            q = r.read_unary()
            u = (q << param) | r.read(param)
            out.append((u >> 1) ^ -(u & 1))  # zigzag
    return out


class _BitWriter:
    """MSB-first bit writer (the FLAC encoder twin's half of
    ``_BitReader``). Accumulator-based: O(1) per write call."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.bits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.bits += n
        while self.bits >= 8:
            self.bits -= 8
            self.out.append((self.acc >> self.bits) & 0xFF)
        self.acc &= (1 << self.bits) - 1

    def write_unary(self, q: int) -> None:
        self.write(1, q + 1)  # q zeros then the terminating 1

    def align(self) -> None:
        if self.bits:
            self.write(0, 8 - self.bits)

    def bytes(self) -> bytes:
        assert self.bits == 0
        return bytes(self.out)


def encode_flac(
    samples: np.ndarray,
    rate: int = 8000,
    blocksize: int = 4096,
    bits: int = 16,
    lpc_order: int | None = 8,
    max_porder: int = 4,
    stereo_mode: str = "auto",
) -> bytes:
    """FLAC encoder twin for fixtures: 16-bit mono (1-D) or stereo
    ((n, 2)), per-frame predictor chosen by actual residual bit cost
    among CONSTANT, FIXED orders 0-2, and a Levinson-Durbin LPC fit up
    to ``lpc_order`` (None disables LPC), partitioned rice residuals
    with per-partition parameters chosen over partition orders
    0..``max_porder`` (escape to raw where rice would lose), real
    CRC-8/CRC-16. Stereo frames cost-compete the spec's four channel
    assignments (independent / left-side / side-right / mid-side);
    ``stereo_mode`` pins one for tests. Lossless by construction — LPC
    predicts from prior ORIGINAL samples, which equal the decoder's
    reconstructed ones — so the text-byte oracles hash-check the full
    round trip through ``_flac_samples``."""
    s = np.asarray(samples)
    # r9 encoder fuzz + review: NaN/inf would cast to INT64_MIN with a
    # silent RuntimeWarning, and fractional floats would silently
    # TRUNCATE (lossy encode with ok=True) — reject both before the
    # integer cast.
    if np.issubdtype(s.dtype, np.floating):
        if not np.isfinite(s).all():
            raise ValueError("encode_flac: non-finite sample values")
        if (s != np.floor(s)).any():
            raise ValueError("encode_flac: non-integral sample values")
    if stereo_mode not in ("auto", "independent", "left_side", "side_right", "mid_side"):
        raise ValueError(f"unknown FLAC stereo mode {stereo_mode!r}")
    s = s.astype(np.int64)
    if s.ndim == 2 and s.shape[1] == 1:
        s = s[:, 0]
    if s.ndim not in (1, 2) or (s.ndim == 2 and s.shape[1] != 2):
        raise ValueError("encode_flac takes 1-D mono or (n, 2) stereo samples")
    if bits not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"unsupported FLAC bit depth {bits}")
    full = 1 << (bits - 1)
    if s.size and (s.max() >= full or s.min() < -full):
        raise ValueError(f"samples out of {bits}-bit range")
    n_ch = 1 if s.ndim == 1 else 2
    total = len(s)  # inter-channel (per-channel) sample count
    out = bytearray(b"fLaC")
    info = _BitWriter()
    info.write(blocksize, 16)
    info.write(blocksize, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(rate, 20)
    info.write(n_ch - 1, 3)
    info.write(bits - 1, 5)
    info.write(total, 36)
    body = info.bytes() + bytes(16)  # md5 0 = unknown, per spec
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body
    for fi, start in enumerate(range(0, total, blocksize)):
        frame = s[start : start + blocksize]
        out += _flac_frame(
            frame, fi, blocksize, lpc_order, max_porder, stereo_mode, bits
        )
    return bytes(out)


def _flac_utf8_frame_number(fi: int) -> bytes:
    """UTF-8-style coding of the frame number per the FLAC spec: k
    continuation bytes of 6 bits each, lead byte with a (k+1)-ones
    prefix holding the top 6-k bits."""
    if fi < 0x80:
        return bytes([fi])
    k = 1
    while (fi >> (6 * k)) >= (1 << (6 - k)):
        k += 1
    tails = [0x80 | ((fi >> (6 * i)) & 0x3F) for i in range(k)]
    lead = ((0xFE << (6 - k)) & 0xFF) | (fi >> (6 * k))
    return bytes([lead, *reversed(tails)])


def _flac_plan_subframe(
    chan: np.ndarray, bps: int, lpc_order: int | None, max_porder: int
) -> tuple:
    """(bits, sf_type_code, order, plan, lpc_extras) minimizing one
    channel's subframe body cost at the given bit depth — CONSTANT for
    flat channels (a zero side channel is one bps-bit field), FIXED
    orders 0-2 (integer difference predictors) vs one Levinson-Durbin
    LPC fit, the same competition a production encoder runs, so LPC is
    chosen exactly where its fractional coefficients pay for their
    header. Wasted bits (r9): when every sample shares k low zero
    bits, the subframe plans at ``bps - k`` and spends k unary header
    bits — the returned tuple carries (wasted, shifted channel) for
    the writer."""
    n = len(chan)
    wasted = 0
    nz = chan[chan != 0]
    if len(nz):
        ors = int(np.bitwise_or.reduce(nz))
        wasted = min((ors & -ors).bit_length() - 1, bps - 1)
    if wasted:
        chan = chan >> wasted
        bps -= wasted
    candidates = []  # (bits, sf_type_code, order, plan, lpc_extras)
    if n and int(chan.min()) == int(chan.max()):
        candidates.append((bps, 0, 0, None, None))
    for order in range(0, 3):
        if n <= order:
            continue
        resid = chan[order:].copy()
        for j, c in enumerate(_FIXED_COEFS[order]):
            resid = resid - c * chan[order - 1 - j : n - 1 - j]
        plan = _plan_residual(resid, n, order, max_porder)
        candidates.append((bps * order + plan[3], 8 + order, order, plan, None))
    fit = _fit_lpc(chan, lpc_order) if lpc_order else None
    if fit is not None:
        qc, shift, prec = fit
        m = len(qc)
        pred = np.zeros(n - m, dtype=np.int64)
        for j, c in enumerate(qc):
            pred += c * chan[m - 1 - j : n - 1 - j]
        # floor_divide == the spec's arithmetic shift, and is
        # well-defined for negatives where numpy's >> is C-inherited
        pred = np.floor_divide(pred, 1 << shift)
        resid = chan[m:] - pred
        plan = _plan_residual(resid, n, m, max_porder)
        bits = bps * m + 4 + 5 + prec * m + plan[3]
        candidates.append((bits, 32 + m - 1, m, plan, (qc, shift, prec)))
    best = min(candidates, key=lambda t: t[0])
    # +wasted = the unary suffix's cost (the flag bit is mode-invariant)
    return (best[0] + wasted, best[1], best[2], best[3], best[4], wasted, chan)


def _flac_write_subframe(
    w: "_BitWriter", chan: np.ndarray, bps: int, sel: tuple
) -> None:
    _, sf_code, order, plan, lpc, wasted, shifted = sel
    w.write(0, 1)
    w.write(sf_code, 6)
    if wasted:
        # flag, then wasted-1 in unary (that many zeros and a 1)
        w.write(1, 1)
        w.write(1, wasted)
        chan = shifted
        bps -= wasted
    else:
        w.write(0, 1)  # no wasted bits
    mask_bps = (1 << bps) - 1
    if sf_code == 0:  # CONSTANT: the value is the whole body
        w.write(int(chan[0]) & mask_bps, bps)
        return
    for v in chan[:order]:
        w.write(int(v) & mask_bps, bps)
    if lpc is not None:
        qc, shift, prec = lpc
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in qc:
            w.write(c & ((1 << prec) - 1), prec)
    # residual: planned method (0 = 4-bit rice params, 1 = rice2
    # 5-bit params for wide depths), partitioned
    u, porder, parts, _, method = plan
    field = 4 if method == 0 else 5
    w.write(method, 2)
    w.write(porder, 4)
    for kind, val, off, cnt in parts:
        if kind == "esc":
            w.write((1 << field) - 1, field)  # escape: raw residuals
            w.write(val, 5)
            if val:
                for v in u[off : off + cnt]:
                    # un-zigzag back to signed, then two's complement
                    s = (int(v) >> 1) ^ -(int(v) & 1)
                    w.write(s & ((1 << val) - 1), val)
        else:
            w.write(val, field)
            # one write per symbol: q implicit leading zeros + the
            # terminating 1 + the param-bit remainder, as one value
            mask = (1 << val) - 1
            pu = u[off : off + cnt]
            for q, rem in zip((pu >> val).tolist(), (pu & mask).tolist()):
                w.write((1 << val) | rem, q + 1 + val)


def _flac_frame(
    frame: np.ndarray,
    fi: int,
    nominal_bs: int,
    lpc_order: int | None = 8,
    max_porder: int = 4,
    stereo_mode: str = "auto",
    bits: int = 16,
) -> bytes:
    n = len(frame)
    stereo = frame.ndim == 2
    if stereo:
        # the format's stereo decorrelation: plan all four channel
        # streams once, then pick the assignment (independent /
        # left-side / side-right / mid-side) whose two subframes cost
        # the fewest ACTUAL bits — correlated channels compress via
        # the 17-bit side stream, uncorrelated ones stay independent
        left = frame[:, 0]
        right = frame[:, 1]
        side = left - right
        mid = (left + right) >> 1  # numpy >> on signed = arithmetic
        p_l = _flac_plan_subframe(left, bits, lpc_order, max_porder)
        p_r = _flac_plan_subframe(right, bits, lpc_order, max_porder)
        p_s = _flac_plan_subframe(side, bits + 1, lpc_order, max_porder)
        p_m = _flac_plan_subframe(mid, bits, lpc_order, max_porder)
        modes = {
            "independent": (1, ((left, bits, p_l), (right, bits, p_r))),
            "left_side": (8, ((left, bits, p_l), (side, bits + 1, p_s))),
            "side_right": (9, ((side, bits + 1, p_s), (right, bits, p_r))),
            "mid_side": (10, ((mid, bits, p_m), (side, bits + 1, p_s))),
        }
        if stereo_mode == "auto":
            pick = min(
                modes, key=lambda k: sum(sel[0] for _, _, sel in modes[k][1])
            )
        elif stereo_mode in modes:
            pick = stereo_mode
        else:
            raise ValueError(f"unknown FLAC stereo mode {stereo_mode!r}")
        ch_field, chan_sel = modes[pick]
    else:
        ch_field = 0
        chan_sel = (
            (frame, bits, _flac_plan_subframe(frame, bits, lpc_order, max_porder)),
        )
    w = _BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)  # reserved + fixed blocking
    w.write(0b0111 if n != nominal_bs else 0b1100, 4)  # 16-bit follows / 4096
    if nominal_bs != 4096 and n == nominal_bs:
        raise ValueError("encoder nominal blocksize must be 4096")
    w.write(0, 4)  # rate: from STREAMINFO
    w.write(ch_field, 4)  # channel assignment
    w.write(
        {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110, 32: 0b111}[bits],
        3,
    )  # sample-size code
    w.write(0, 1)
    for b in _flac_utf8_frame_number(fi):
        w.write(b, 8)
    if n != nominal_bs:
        w.write(n - 1, 16)
    header = w.out[:]
    assert w.bits == 0
    w.write(_crc8(bytes(header)), 8)
    for chan, bps, sel in chan_sel:
        _flac_write_subframe(w, chan, bps, sel)
    w.align()
    data = w.bytes()
    return data + struct.pack(">H", _crc16(data))


def _rice_param_bits(u: np.ndarray, pmax: int = 14) -> tuple[int, int]:
    """(best rice param, payload bits) for one partition: mean-based
    seed, then neighbor probe — the mean picks within 1 of optimal for
    geometric-ish residuals but drifts on heavy tails. ``pmax`` is 14
    under residual method 0 and 30 under method 1 (rice2 — the wide
    params 32-bit audio needs; 15/31 are the escape codes)."""
    mean = int(u.mean()) if len(u) else 0
    param = max(0, min(pmax, mean.bit_length() - 1)) if mean else 0
    bits = int((u >> param).sum()) + len(u) * (1 + param)
    for cand in (param - 1, param + 1, param + 2):
        if 0 <= cand <= pmax:
            b = int((u >> cand).sum()) + len(u) * (1 + cand)
            if b < bits:
                param, bits = cand, b
    return param, bits


def _plan_residual(resid: np.ndarray, blocksize: int, order: int, max_porder: int = 4):
    """(zigzag, porder, parts, total_bits) minimizing the residual
    section's cost over partition orders 0..max_porder — per-partition
    rice parameters are the format's main compression lever (a quiet
    half and a loud half each get their own param instead of one
    compromise). parts entries are ('rice', param, off, cnt) or
    ('esc', raw_width, off, cnt) with offsets into the zigzag array;
    one shared plan drives both subframe selection and the write, so
    costing and emission can never drift. The plan carries its
    residual METHOD: 0 (4-bit params) when every partition fits a
    param <= 14, else 1 (rice2, 5-bit params — what 32-bit audio
    needs; late r11). The raw-escape width field is 5 bits, so
    escapes are only planned at widths <= 31 — wider residuals stay
    rice-coded (unary absorbs them; rice2's k<=30 keeps that sane)."""
    u = (resid << 1) ^ (resid >> 63)  # zigzag via arithmetic shift
    best = None
    for porder in range(0, max_porder + 1):
        nparts = 1 << porder
        # partition counts must divide the blocksize and leave the
        # first partition non-empty; both constraints are monotone in
        # porder, so the first failure ends the search
        if blocksize % nparts or (blocksize >> porder) <= order:
            break
        plen = blocksize >> porder
        parts = []
        payload_bits = []
        max_param = 0
        off = 0
        for p in range(nparts):
            cnt = plen - (order if p == 0 else 0)
            pu = u[off : off + cnt]
            param, rice_bits = _rice_param_bits(pu, 30)
            maxu = int(pu.max()) if len(pu) else 0
            raw_bits = max(maxu.bit_length() + 1, 1)  # signed raw width
            if raw_bits <= 31 and 5 + cnt * raw_bits < rice_bits:
                parts.append(("esc", raw_bits, off, cnt))
                payload_bits.append(5 + cnt * raw_bits)
            else:
                parts.append(("rice", param, off, cnt))
                payload_bits.append(rice_bits)
                max_param = max(max_param, param)
            off += cnt
        method = 0 if max_param <= 14 else 1
        field = 4 if method == 0 else 5
        total = 4 + sum(field + b for b in payload_bits)
        if best is None or total < best[3]:
            best = (u, porder, parts, total, method)
    return best


def _fit_lpc(frame: np.ndarray, max_order: int, precision: int = 12):
    """Quantized LPC coefficients for one frame, or None when LPC can't
    apply (too short, silent, or the fit degenerates): autocorrelation
    → Levinson-Durbin recursion → error-feedback quantization at the
    given precision with a power-of-two shift, the classic lossless-
    audio design the FLAC format encodes. Returns (coefs, shift,
    precision) with prediction s[i] ≈ (Σ c_j·s[i-1-j]) >> shift."""
    n = len(frame)
    order = min(max_order, n - 1, 32)
    if order < 1:
        return None
    x = frame.astype(np.float64)
    autoc = np.array([np.dot(x[: n - k], x[k:]) for k in range(order + 1)])
    if autoc[0] <= 0:
        return None  # digital silence: CONSTANT/FIXED handle it
    a = np.zeros(order)
    err = autoc[0]
    m_used = 0
    for m in range(order):
        if err <= 0:
            break  # perfectly predicted at a lower order
        k = (autoc[m + 1] - np.dot(a[:m], autoc[m:0:-1])) / err
        if not np.isfinite(k):
            break
        a[: m + 1] = np.concatenate([a[:m] - k * a[:m][::-1], [k]])
        err *= 1 - k * k
        m_used = m + 1
    if m_used < 1:
        return None
    coefs = a[:m_used]
    cmax = float(np.max(np.abs(coefs)))
    if not np.isfinite(cmax) or cmax == 0:
        return None
    shift = precision - 1 - int(np.frexp(cmax)[1])
    shift = max(0, min(15, shift))
    qmax = (1 << (precision - 1)) - 1
    e = 0.0
    q = []
    for c in coefs:
        v = c * (1 << shift) + e
        qi = max(-qmax - 1, min(qmax, int(round(v))))
        e = v - qi
        q.append(qi)
    if not any(q):
        return None
    return q, shift, precision


def decode_flac(payload: bytes) -> dict:
    """FLAC twin of ``decode_wav`` — same stats dict off the real
    bitstream decode."""
    samples, rate, n_ch = _flac_samples(payload)
    sf = samples.astype(np.float64)
    n_frames = len(samples) // n_ch if n_ch else 0
    return {
        "kind": "audio",
        "n_channels": n_ch,
        "sample_rate": rate,
        "n_frames": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
        "rms": float(np.sqrt(np.mean(sf**2))) if sf.size else 0.0,
        "peak": float(np.max(np.abs(sf))) if sf.size else 0.0,
    }
