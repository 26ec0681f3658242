"""Multimodal column plumbing (SURVEY §2.3): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` operators.

ALL THREE MODALITIES have a REAL, certified codec lane built on
uncompressed containers that need no external library:

- AUDIO: ``synth_wav``/``decode_wav_features`` — spec-correct RIFF/WAVE
  PCM16 + DSP features (RMS, peak, ZCR, rfft dominant frequency);
  oracle predicts the FFT bin arithmetically.
- IMAGE: ``synth_bmp``/``decode_bmp_features`` — 24-bit BMP with
  bottom-up rows, BGR order, 4-byte row padding; oracle predicts
  channel means + a flip-sensitive probe pixel.
- VIDEO: ``synth_y4m``/``decode_y4m_features`` — YUV4MPEG2 (C444)
  streams; oracle predicts clip luma mean, inter-frame |ΔY| motion,
  and a plane-offset-sensitive probe sample.

COMPRESSED formats (JPEG/PNG/H.264/MP3) remain gated: the ``FAKE1``
stub path documents the plumbing, and any compressed blob raises
``NotImplementedError`` naming the library a real deployment would plug
in. Schema, Arrow batch shape, partitioning, and UDF signatures are
identical between the real and gated lanes, so adding PIL/ffmpeg is a
local change inside one function.

Scale: media rows are wide (MBs per row); the operators keep binary
columns out of shuffles (derive features first, then drop/aggregate) and
use ``maxPartitionBytes``-sized input splits so one task never holds more
than a bounded number of blobs.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media binary, media_format string, media_kind string, "
    "width int, height int, n_frames int, sample_rate int"
)

_MAGIC = b"FAKE1"


def attach_fake_media(df: DataFrame, id_col: str, kind: str = "image") -> DataFrame:
    """Deterministically synthesize a media blob per row (test fixture).

    Layout: FAKE1 | kind byte | width u16 | height u16 | payload. Width /
    height derive from the id so assertions are computable.
    """
    i = F.col(id_col).cast("long")
    w = (F.pmod(i, 64) + 16).cast("int")
    h = (F.pmod(i * 7, 64) + 16).cast("int")
    kind_byte = {"image": 0, "audio": 1, "video": 2}[kind]
    blob = F.concat(
        F.lit(_MAGIC),
        F.unhex(F.lpad(F.hex(F.lit(kind_byte)), 2, "0")),
        F.unhex(F.lpad(F.hex(w), 4, "0")),
        F.unhex(F.lpad(F.hex(h), 4, "0")),
        F.encode(F.concat(F.lit("payload-"), i.cast("string")), "UTF-8"),
    )
    return df.withColumn("media", blob).withColumn("media_format", F.lit("fake1")).withColumn(
        "media_kind", F.lit(kind)
    )


def _decode_blob(blob: bytes) -> dict:
    """The stub decode. A real deployment replaces this body with
    PIL.Image.open / soundfile.read / av.open — signature stays."""
    if blob[:5] != _MAGIC:
        raise NotImplementedError(
            "non-FAKE1 media decode requires an image/audio library "
            "(PIL / soundfile / pyav) not present in this environment"
        )
    kind = blob[5]
    w, h = struct.unpack(">HH", blob[6:10])
    payload = blob[10:]
    return {
        "width": int(w),
        "height": int(h),
        "kind": ("image", "audio", "video")[kind],
        "payload_bytes": len(payload),
        "checksum": sum(payload) % 65536,
    }


def decode_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """mapInPandas decode → per-row feature struct; binary column dropped
    after decoding so downstream shuffles never carry blobs."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + ", width int, height int, payload_bytes bigint, checksum bigint"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[media_col].map(_decode_blob)
            pdf = pdf.drop(columns=[media_col])
            pdf["width"] = [f["width"] for f in feats]
            pdf["height"] = [f["height"] for f in feats]
            pdf["payload_bytes"] = [f["payload_bytes"] for f in feats]
            pdf["checksum"] = [f["checksum"] for f in feats]
            yield pdf

    return df.mapInPandas(op, out_schema)


def frame_sample_stub(df: DataFrame, media_col: str, every_n: int = 10) -> DataFrame:
    """Video frame sampling plumbing: one row in → k frame rows out
    (mapInPandas is the right shape for row-expanding media ops)."""
    out_schema = "doc_id bigint, frame_idx int, width int, height int"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                meta = _decode_blob(row[media_col])
                n_frames = max(meta["payload_bytes"] // 4, 1)  # fake frame count
                for idx in range(0, n_frames, every_n):
                    rows.append(
                        {"doc_id": row["doc_id"], "frame_idx": idx,
                         "width": meta["width"], "height": meta["height"]}
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "width", "height"])

    return df.mapInPandas(op, out_schema)


# --- real audio: RIFF/WAVE PCM16 encode + decode + DSP features ------------

_WAV_SR = 8000
_WAV_N = 2000  # 0.25 s


def synth_wav(df: DataFrame, id_col: str, amp: float = 0.5) -> DataFrame:
    """Synthesize a REAL mono PCM16 WAV blob per row: a pure sine whose
    frequency derives from the id as f = 100 + (id % 25)·8 Hz — an exact
    FFT bin at N=2000/sr=8000 (bin width 4 Hz), so the dominant-frequency
    feature is arithmetically predictable downstream. The container is a
    spec-correct RIFF/WAVE file any audio tool can open."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        t = np.arange(_WAV_N, dtype=np.float64) / _WAV_SR
        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                f = 100.0 + (int(i) % 25) * 8.0
                pcm = (amp * np.sin(2 * np.pi * f * t) * 32767.0).astype("<i2").tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(pcm))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, _WAV_SR, _WAV_SR * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(pcm))
                )
                blobs.append(hdr + pcm)
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    # build the schema string without StructType.add — .add MUTATES the
    # DataFrame's cached schema object, desyncing df.columns from the plan
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def synth_wav_chord(
    df: DataFrame, id_col: str = "clip_id", drop_col: str = "drop_j"
) -> DataFrame:
    """Chord synthesizer for the audio near-dup lane (r13): a REAL mono
    PCM16 WAV per row holding FOUR equal-amplitude partials, each an
    EXACT FFT bin — partial j of clip b sits at bin 50·band_j(b) + 25
    with band_j(b) = (b·3^j + 7j + ⌊b/16⌋·5^j) mod 16 (the ⌊b/16⌋ term
    breaks the mod-16 period so ids 16 apart get distinct chords), i.e. frequency (200·band+100)
    Hz at N=2000/sr=8000. ``drop_col`` ≥ 0 omits that partial — the
    planted near-duplicate edit (a missing stem). Exact-bin sines leak
    ZERO energy into other bins, so the 16-band spectral fingerprint
    downstream is arithmetically predictable from (id, drop) alone —
    the multimodal_audio_features oracle discipline."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        t = np.arange(_WAV_N, dtype=np.float64) / _WAV_SR
        for pdf in batches:
            blobs = []
            for b, dj in zip(pdf[id_col], pdf[drop_col]):
                b, dj = int(b), int(dj)
                x = np.zeros(_WAV_N, dtype=np.float64)
                for j in range(4):
                    if j == dj:
                        continue
                    band = (b * 3**j + 7 * j + (b // 16) * 5**j) % 16
                    f = (50 * band + 25) * (_WAV_SR / _WAV_N)
                    x += 0.15 * np.sin(2 * np.pi * f * t)
                pcm = (x * 32767.0).astype("<i2")
                blobs.append(_encode_wav(_WAV_SR, pcm))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def fingerprint_wav_bands(df: DataFrame, media_col: str = "media") -> DataFrame:
    """16-band spectral fingerprint over REAL decoded WAV (the
    Haitsma–Kalker shape collapsed to one frame — band-energy threshold
    bits): rfft, energy per 50-bin band (bins 0..799), bit b set iff
    band energy exceeds 1e12 — far above int16 quantization noise
    (~2.5e4 per band) and far below a single 0.15-amplitude exact-bin
    partial ((0.15·32767·N/2)² ≈ 2.4e13). Blobs are dropped before the
    return (wide-row rule); only the 16-bit integer shuffles."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + ", fingerprint bigint"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            fps = []
            for blob in pdf[media_col]:
                _sr, raw = _parse_wav(bytes(blob))
                spec2 = np.abs(np.fft.rfft(raw.astype(np.float64))) ** 2
                bits = 0
                for band in range(16):
                    if float(spec2[50 * band : 50 * (band + 1)].sum()) > 1e12:
                        bits |= 1 << band
                fps.append(bits)
            pdf = pdf.drop(columns=[media_col]).copy()
            pdf["fingerprint"] = fps
            yield pdf

    return df.mapInPandas(op, out_schema)


def _parse_wav(b: bytes):
    """Parse a PCM16 mono RIFF/WAVE blob → (sample_rate, int16 ndarray).
    Shared by the feature decoder and the resampler; anything non-PCM16
    raises with the codec a deployment would add."""
    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError(
            "non-WAV audio decode requires soundfile/pyav, "
            "not present in this environment"
        )
    (fmt_size, fmt, ch, sr, _br, _ba, bits) = struct.unpack("<IHHIIHH", b[16:36])
    if fmt != 1 or ch != 1 or bits != 16:
        raise NotImplementedError("only PCM16 mono WAV is decoded here")
    data_off = 20 + fmt_size
    while b[data_off : data_off + 4] != b"data":
        if data_off + 8 > len(b):
            raise ValueError("malformed WAV: no data chunk")
        sz = struct.unpack("<I", b[data_off + 4 : data_off + 8])[0]
        data_off += 8 + max(sz, 1)
    n_bytes = struct.unpack("<I", b[data_off + 4 : data_off + 8])[0]
    return sr, np.frombuffer(b[data_off + 8 : data_off + 8 + n_bytes], dtype="<i2")


def _encode_wav(sr: int, pcm16) -> bytes:
    pcm = pcm16.astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def resample_wav(df: DataFrame, media_col: str = "media", factor: int = 2) -> DataFrame:
    """Integer-factor downsample of PCM16 WAV blobs: keep every
    ``factor``-th sample and rewrite the header at rate/factor — the
    decimation stage of any audio-rate normalization pipeline (a real
    deployment would low-pass first; for band-limited content below the
    new Nyquist, plain decimation is exact, which is what the oracle
    certifies). Scan-stage mapInPandas: blobs in, blobs out, no shuffle.
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for blob in pdf[media_col]:
                sr, x = _parse_wav(bytes(blob))
                if sr % factor:
                    raise ValueError(f"rate {sr} not divisible by {factor}")
                out.append(_encode_wav(sr // factor, x[::factor]))
            pdf = pdf.copy()
            pdf[media_col] = out
            yield pdf

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(op, out_schema)


def decode_wav_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """REAL audio decode: parse the RIFF/WAVE header (PCM16 mono only —
    anything else raises with the codec a deployment would add), then
    numpy DSP over the samples: RMS, peak, zero-crossing rate, dominant
    frequency via rfft. Blobs are dropped before the return so downstream
    shuffles never carry audio bytes (the wide-row rule in the module
    docstring)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + (
        ", sample_rate int, n_samples int, rms double, peak double,"
        " zero_cross_rate double, dominant_freq_hz double"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for blob in pdf[media_col]:
                sr, raw = _parse_wav(bytes(blob))
                x = raw.astype(np.float64) / 32768.0
                spec = np.abs(np.fft.rfft(x))
                spec[0] = 0.0  # ignore DC
                k = int(np.argmax(spec))
                feats.append(
                    {
                        "sample_rate": sr,
                        "n_samples": len(x),
                        "rms": float(np.sqrt(np.mean(x * x))),
                        "peak": float(np.max(np.abs(x))),
                        "zero_cross_rate": float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))),
                        "dominant_freq_hz": float(k * sr / len(x)),
                    }
                )
            pdf = pdf.drop(columns=[media_col]).copy()
            for key in (
                "sample_rate", "n_samples", "rms", "peak", "zero_cross_rate",
                "dominant_freq_hz",
            ):
                pdf[key] = [f[key] for f in feats]
            yield pdf

    return df.mapInPandas(op, out_schema)


def _encode_bmp(img_bgr) -> bytes:
    """Top-down BGR (h, w, 3) uint8 array → spec-correct 24-bit BMP bytes
    (bottom-up rows, 4-byte row padding). Single encoder shared by the
    synthesizer and the resizer so container-layout rules live once."""
    import numpy as np

    h, w = img_bgr.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    rows[:, :row_bytes] = img_bgr.reshape(h, row_bytes)
    pixels = rows[::-1].tobytes()  # bottom-up
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    )
    return hdr + pixels


def _parse_bmp(bb: bytes):
    """BMP bytes → (w, h, top-down BGR uint8 array). Validates magic,
    header size, 24-bit uncompressed, positive (bottom-up) height —
    the single parser shared by decode and resize so no copy can drop a
    validation."""
    import numpy as np

    if bb[:2] != b"BM":
        raise NotImplementedError(
            "non-BMP image decode requires PIL/opencv, not present in this environment"
        )
    off = struct.unpack("<I", bb[10:14])[0]
    hsz, w, h, _planes, bits, comp = struct.unpack("<IiiHHI", bb[14:34])
    if hsz < 40 or bits != 24 or comp != 0 or h <= 0:
        raise NotImplementedError("only 24-bit uncompressed bottom-up BMP is decoded here")
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    rows = np.frombuffer(bb[off : off + stride * h], dtype=np.uint8)
    return w, h, rows.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)[::-1]


def synth_bmp(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL 24-bit uncompressed BMP per row (pure bytes —
    BMP needs no codec library, which is what makes a certified image
    lane possible in this container). Dimensions and every pixel derive
    from the id: w = 16 + id%16, h = 8 + (id·3)%16, and pixel (x, y)
    (y = 0 at the TOP) is R = (7x + id) % 256, G = (11y + id) % 256,
    B = (x + y) % 256 — so every downstream feature is arithmetically
    predictable. The container is spec-correct: BITMAPFILEHEADER +
    BITMAPINFOHEADER(40), positive height ⇒ bottom-up row order, BGR
    byte order, rows padded to 4-byte boundaries — the three classic
    BMP decode traps, all of which the oracle would catch."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 16 + i % 16, 8 + (i * 3) % 16
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                r = np.broadcast_to((7 * xs + i) % 256, (h, w))
                g = np.broadcast_to(((11 * ys + i) % 256)[:, None], (h, w))
                b = (xs[None, :] + ys[:, None]) % 256
                img = np.stack([b, g, r], axis=-1).astype(np.uint8)  # BGR
                blobs.append(_encode_bmp(img))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def synth_bmp_variants(
    df: DataFrame,
    id_col: str = "img_id",
    base_col: str = "base_id",
    bump_col: str = "bump",
) -> DataFrame:
    """Near-duplicate twin generator for the image lane (r13): a
    spec-correct 24-bit BMP whose dimensions and G/B channels come from
    ``base_col`` as in ``synth_bmp``, while R carries a TEXTURED
    pattern — R = ((37b+3)x + (59b+7)y + x·y + b) % 256 — plus a
    brightness bump of ``bump_col`` on source columns x ≡ base
    (mod 11). synth_bmp's separable linear gradients are pHash-
    DEGENERATE (measured: 13 distinct hashes across 64 ids, 339 pairs
    at Hamming 0), so this generator adds the x·y cross term and
    id-dependent gradients, which give 64/64 distinct hashes with every
    base pair ≥ 12 bits apart; a bump of 4 then lands ~40/64 twins
    within Hamming ≤ 3 and leaves the rest outside — the controlled
    near/far mix the Hamming-ball operators need (measurement table in
    the r13 SCALE.md entry). Every pixel stays closed-form arithmetic,
    so a DuckDB oracle replays the exact luma grid including mod-256
    wraps."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for b, bump in zip(pdf[base_col], pdf[bump_col]):
                b, bump = int(b), int(bump)
                w, h = 16 + b % 16, 8 + (b * 3) % 16
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                r0 = (
                    (37 * b + 3) * xs[None, :]
                    + (59 * b + 7) * ys[:, None]
                    + xs[None, :] * ys[:, None]
                    + b
                ) % 256
                r = (r0 + np.where(xs % 11 == b % 11, bump, 0)[None, :]) % 256
                g = np.broadcast_to(((11 * ys + b) % 256)[:, None], (h, w))
                bb = (xs[None, :] + ys[:, None]) % 256
                img = np.stack([bb, g, r], axis=-1).astype(np.uint8)  # BGR
                blobs.append(_encode_bmp(img))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def decode_bmp_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """REAL image decode: parse the BMP container (24-bit uncompressed
    only — anything else raises with the codec a deployment would add),
    undo bottom-up row order, strip row padding, swap BGR→RGB, then
    compute per-channel means and a positional probe pixel. The probe —
    G at (x=1, y=2) in TOP-left coordinates — is what certifies the
    vertical flip: a decoder that forgot it reads row h−3 instead.
    Blobs are dropped before the return (wide-row rule)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + (
        ", width int, height int, mean_r double, mean_g double,"
        " mean_b double, probe_g12 int"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for blob in pdf[media_col]:
                w, h, bgr = _parse_bmp(bytes(blob))
                img = bgr[:, :, ::-1].astype(np.int64)  # BGR→RGB, top-down
                feats.append(
                    {
                        "width": w,
                        "height": h,
                        "mean_r": float(img[:, :, 0].mean()),
                        "mean_g": float(img[:, :, 1].mean()),
                        "mean_b": float(img[:, :, 2].mean()),
                        # probe clamped so tiny-but-valid images don't crash
                        "probe_g12": int(img[min(2, h - 1), min(1, w - 1), 1]),
                    }
                )
            pdf = pdf.drop(columns=[media_col]).copy()
            for key in ("width", "height", "mean_r", "mean_g", "mean_b", "probe_g12"):
                pdf[key] = [f[key] for f in feats]
            yield pdf

    return df.mapInPandas(op, out_schema)


def _parse_y4m(bb: bytes):
    """y4m bytes → (w, h, [top-down Y planes as (h, w) uint8 arrays]).
    Validates the YUV4MPEG2 magic, C444 sampling, and every FRAME
    marker — the single parser shared by decode and frame sampling so
    no copy can drop a validation."""
    import numpy as np

    nl = bb.index(b"\n")
    header = bb[:nl].decode("ascii", "replace").split(" ")
    if header[0] != "YUV4MPEG2":
        raise NotImplementedError(
            "non-y4m video decode requires ffmpeg/pyav, not present in this environment"
        )
    params = {p[0]: p[1:] for p in header[1:] if p}
    w, h = int(params["W"]), int(params["H"])
    if params.get("C", "420") != "444":
        raise NotImplementedError("only C444 y4m is decoded here")
    plane, pos, frames = w * h, nl + 1, []
    while pos < len(bb):
        fnl = bb.index(b"\n", pos)
        if bb[pos:fnl].split(b" ")[0] != b"FRAME":
            raise ValueError("malformed y4m: missing FRAME marker")
        y = np.frombuffer(bb[fnl + 1 : fnl + 1 + plane], dtype=np.uint8)
        frames.append(y.reshape(h, w))
        pos = fnl + 1 + 3 * plane
    return w, h, frames


def synth_y4m(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL video per row: a YUV4MPEG2 (.y4m) stream — the
    uncompressed interchange format every video toolchain accepts (ffmpeg,
    mpv, x264 all read it), and like BMP/WAV it needs no codec library.
    Geometry and every sample derive from the id: W = 16 + (id%8)·2,
    H = 8 + (id%6)·2, frames = 3 + id%4, and plane samples are
    Y(x,y,t) = (5x + 3y + 17t + id) % 256, U = (x + t) % 256,
    V = (y + 2t) % 256 (C444: full-resolution chroma, no subsampling
    ambiguity). Container: ``YUV4MPEG2 W.. H.. F25:1 Ip A1:1 C444\\n``
    then per frame a ``FRAME\\n`` marker + raw Y, U, V planes."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                i = int(i)
                w, h, nf = 16 + (i % 8) * 2, 8 + (i % 6) * 2, 3 + i % 4
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
                for t in range(nf):
                    y = (5 * xs + 3 * ys + 17 * t + i) % 256
                    u = np.broadcast_to((xs + t) % 256, (h, w))
                    v = np.broadcast_to((ys + 2 * t) % 256, (h, w))
                    parts.append(b"FRAME\n")
                    parts.append(y.astype(np.uint8).tobytes())
                    parts.append(u.astype(np.uint8).tobytes())
                    parts.append(v.astype(np.uint8).tobytes())
                blobs.append(b"".join(parts))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def decode_y4m_features(df: DataFrame, media_col: str = "media") -> DataFrame:
    """REAL video decode: parse the YUV4MPEG2 stream header (C444 only —
    subsampled variants raise with the tool a deployment would add), walk
    the FRAME markers, and compute temporal features: frame count, luma
    mean over the whole clip, mean inter-frame |ΔY| motion, and a probe
    sample Y(x=1, y=2) of frame 1 — the probe catches a decoder that
    miscounts plane offsets and reads chroma as luma. Blobs dropped
    before return (wide-row rule)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + (
        ", width int, height int, n_frames int, mean_y double,"
        " motion double, probe_y int"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for blob in pdf[media_col]:
                w, h, frames = _parse_y4m(bytes(blob))
                clip = np.stack(frames).astype(np.int64)
                motion = (
                    float(np.mean(np.abs(clip[1:] - clip[:-1])))
                    if len(frames) > 1
                    else 0.0
                )
                feats.append(
                    {
                        "width": w,
                        "height": h,
                        "n_frames": len(frames),
                        "mean_y": float(clip.mean()),
                        "motion": motion,
                        # probe clamped so 1-frame / tiny-but-valid clips
                        # don't crash the task
                        "probe_y": int(
                            clip[min(1, len(frames) - 1), min(2, h - 1), min(1, w - 1)]
                        ),
                    }
                )
            pdf = pdf.drop(columns=[media_col]).copy()
            for key in ("width", "height", "n_frames", "mean_y", "motion", "probe_y"):
                pdf[key] = [f[key] for f in feats]
            yield pdf

    return df.mapInPandas(op, out_schema)


def synth_y4m_scenes(df: DataFrame, id_col: str) -> DataFrame:
    """Like ``synth_y4m`` but with a SCENE CHANGE at frame tc = nf//2:
    frames t < tc use the scene-A formula Y=(5x+3y+17t+id)%256, frames
    t ≥ tc switch to scene B Y=(3x+5y+17t+id+100)%256 — the within-scene
    motion stays small and arithmetically known while the A→B transition
    jumps, giving cut detection a ground truth the oracle can replay
    pixel-by-pixel."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                i = int(i)
                w, h, nf = 16 + (i % 8) * 2, 8 + (i % 6) * 2, 3 + i % 4
                tc = nf // 2
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
                for t in range(nf):
                    if t < tc:
                        y = (5 * xs + 3 * ys + 17 * t + i) % 256
                    else:
                        y = (3 * xs + 5 * ys + 17 * t + i + 100) % 256
                    u = np.broadcast_to((xs + t) % 256, (h, w))
                    v = np.broadcast_to((ys + 2 * t) % 256, (h, w))
                    parts.append(b"FRAME\n")
                    parts.append(y.astype(np.uint8).tobytes())
                    parts.append(u.astype(np.uint8).tobytes())
                    parts.append(v.astype(np.uint8).tobytes())
                blobs.append(b"".join(parts))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def synth_y4m_variants(
    df: DataFrame,
    id_col: str = "clip_id",
    base_col: str = "base_id",
    shift_col: str = "shift",
) -> DataFrame:
    """Near-duplicate twin generator for the video lane (r13): the
    synth_y4m_scenes stream of ``base_col`` (same dimensions, same
    scene-A/scene-B formulas, same U/V planes) with the Y plane
    brightness-shifted by ``shift_col`` (mod 256) — the re-encode/
    brightness-grade edit a video near-dup detector must catch. All
    pixels stay closed-form arithmetic including wraps, so a DuckDB
    oracle can replay every frame's luma census."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for b, sh in zip(pdf[base_col], pdf[shift_col]):
                b, sh = int(b), int(sh)
                w, h, nf = 16 + (b % 8) * 2, 8 + (b % 6) * 2, 3 + b % 4
                tc = nf // 2
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
                for t in range(nf):
                    if t < tc:
                        y = (5 * xs + 3 * ys + 17 * t + b + sh) % 256
                    else:
                        y = (3 * xs + 5 * ys + 17 * t + b + 100 + sh) % 256
                    u = np.broadcast_to((xs + t) % 256, (h, w))
                    v = np.broadcast_to((ys + 2 * t) % 256, (h, w))
                    parts.append(b"FRAME\n")
                    parts.append(y.astype(np.uint8).tobytes())
                    parts.append(u.astype(np.uint8).tobytes())
                    parts.append(v.astype(np.uint8).tobytes())
                blobs.append(b"".join(parts))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def y4m_luma_signature(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Temporal luma signature over REAL decoded y4m: per frame the
    EXACT integer (ΣY, ΣY²) census of the decoded Y plane — the
    signature sequence video near-dup detectors compare along time.
    Emits (width, height, n_frames, sum_y array, sum_y2 array); blobs
    dropped in-operator (wide-row rule), only slim arrays shuffle."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + (
        ", width int, height int, n_frames int,"
        " sum_y array<bigint>, sum_y2 array<bigint>"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for blob in pdf[media_col]:
                w, h, frames = _parse_y4m(bytes(blob))
                clip = np.stack(frames).astype(np.int64)
                feats.append(
                    {
                        "width": w,
                        "height": h,
                        "n_frames": len(frames),
                        "sum_y": [int(f.sum()) for f in clip],
                        "sum_y2": [int((f * f).sum()) for f in clip],
                    }
                )
            pdf = pdf.drop(columns=[media_col]).copy()
            for key in ("width", "height", "n_frames", "sum_y", "sum_y2"):
                pdf[key] = [f[key] for f in feats]
            yield pdf

    return df.mapInPandas(op, out_schema)


def detect_y4m_cuts(
    df: DataFrame, media_col: str = "media", threshold: float = 60.0
) -> DataFrame:
    """Scene-cut detection on decoded y4m streams: per frame transition,
    mean |ΔY|; a transition is a CUT when it exceeds ``threshold``
    (within-scene pan/drift motion sits well below, hard scene changes
    well above — the standard shot-boundary heuristic before ML-based
    detectors). Emits per clip: frame count, cut count, the first cut's
    index (-1 if none) and its motion value. Blobs dropped in-operator
    (wide-row rule); integer sums stay below 2^53 so numpy's float mean
    equals the exact-rational mean the oracle computes."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + ", n_frames int, n_cuts int, cut_at int, cut_motion double"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for blob in pdf[media_col]:
                _w, _h, frames = _parse_y4m(bytes(blob))
                clip = np.stack(frames).astype(np.int64)
                motions = [
                    float(np.mean(np.abs(clip[t] - clip[t - 1])))
                    for t in range(1, len(frames))
                ]
                cuts = [t for t, m in zip(range(1, len(frames)), motions) if m > threshold]
                feats.append(
                    {
                        "n_frames": len(frames),
                        "n_cuts": len(cuts),
                        "cut_at": cuts[0] if cuts else -1,
                        "cut_motion": motions[cuts[0] - 1] if cuts else 0.0,
                    }
                )
            pdf = pdf.drop(columns=[media_col]).copy()
            for key in ("n_frames", "n_cuts", "cut_at", "cut_motion"):
                pdf[key] = [f[key] for f in feats]
            yield pdf

    return df.mapInPandas(op, out_schema)


def sample_y4m_frames(
    df: DataFrame, media_col: str = "media", every_n: int = 2
) -> DataFrame:
    """REAL row-expanding frame sampling: decode the y4m stream and emit
    one row per KEPT frame (every ``every_n``-th, frame 0 always) with
    that frame's luma mean — the extract-frames-for-training shape,
    where one media row becomes k training rows. mapInPandas is the
    right operator because the fan-out ratio is data-dependent (frame
    count varies per clip); blobs never leave the operator."""
    out_schema = "doc_id bigint, frame_idx int, width int, height int, frame_mean_y double"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf[media_col]):
                w, h, frames = _parse_y4m(bytes(blob))
                for t, y in enumerate(frames):
                    if t % every_n == 0:
                        rows.append(
                            {
                                "doc_id": int(doc_id),
                                "frame_idx": t,
                                "width": w,
                                "height": h,
                                "frame_mean_y": float(y.astype(np.int64).mean()),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height", "frame_mean_y"],
            )

    return df.mapInPandas(op, out_schema)


def resize_bmp(df: DataFrame, media_col: str = "media", out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL image resize over the BMP lane: decode, nearest-neighbor
    resample (source pixel = floor(dst · src_dim / dst_dim) — the
    index map every NN resizer uses), and RE-ENCODE a spec-correct BMP,
    exercising the writer path a second time. Blob-in → blob-out, so it
    composes with decode_bmp_features downstream exactly like a PIL
    resize would."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            blobs = []
            for blob in pdf[media_col]:
                bb = bytes(blob)
                w, h, img = _parse_bmp(bb)  # top-down BGR
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                blobs.append(_encode_bmp(img[np.ix_(ys, xs)]))
            pdf = pdf.copy()
            pdf[media_col] = blobs
            yield pdf

    return df.mapInPandas(
        op,
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields),
    )


def ahash_bmp(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Perceptual average-hash (aHash) over the REAL BMP lane: decode,
    nearest-neighbor sample an 8×8 grid (sy = i·h div 8, sx = j·w div 8
    in TOP-left coordinates), take integer luma 299R+587G+114B (×1000
    scale, never divided — exactness), threshold each cell against the
    64-cell mean WITHOUT dividing (bit = 64·lum > total), and pack the
    64 bits row-major into TWO 32-bit halves carried as BIGINTs —
    Hamming distance downstream is bit_count(hi⊕hi')+bit_count(lo⊕lo'),
    pure JVM-side integer ops that DuckDB mirrors exactly (a single
    64-bit key would overflow signed BIGINT construction at bit 63).
    Blobs are dropped before the return (wide-row rule)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + ", h_hi bigint, h_lo bigint"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            his, los = [], []
            for blob in pdf[media_col]:
                w, h, bgr = _parse_bmp(bytes(blob))
                img = bgr[:, :, ::-1].astype(np.int64)  # RGB, top-down
                ii = np.arange(8, dtype=np.int64)
                sy = (ii * h) // 8
                sx = (ii * w) // 8
                cells = img[np.ix_(sy, sx)]  # (8, 8, 3)
                lum = (
                    299 * cells[:, :, 0]
                    + 587 * cells[:, :, 1]
                    + 114 * cells[:, :, 2]
                )
                tot = int(lum.sum())
                bits = (64 * lum.reshape(-1) > tot).astype(np.int64)
                hi = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
                lo = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
                his.append(hi)
                los.append(lo)
            pdf = pdf.drop(columns=[media_col]).copy()
            pdf["h_hi"] = his
            pdf["h_lo"] = los
            yield pdf

    return df.mapInPandas(op, out_schema)


def synth_wav_gated(df: DataFrame, id_col: str, amp: float = 0.5) -> DataFrame:
    """Synthesize a REAL PCM16 WAV whose signal is GATED into speech/
    silence blocks: the 2000 samples split into 10 blocks of 200, and
    block b carries the sine (f = 100 + id%25·8 Hz, like synth_wav)
    only when (id + b) % 3 != 0 — every third block is digital silence
    (exact zeros). The activity pattern is pure id arithmetic, so a
    VAD stage downstream is fully oracle-predictable per document."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        t = np.arange(_WAV_N, dtype=np.float64) / _WAV_SR
        block = _WAV_N // 10
        for pdf in batches:
            blobs = []
            for i in pdf[id_col]:
                i = int(i)
                f = 100.0 + (i % 25) * 8.0
                x = amp * np.sin(2 * np.pi * f * t)
                gate = np.repeat(
                    np.array([(i + b) % 3 != 0 for b in range(10)]), block
                )
                pcm = (x * gate * 32767.0).astype("<i2")
                blobs.append(_encode_wav(_WAV_SR, pcm))
            pdf = pdf.copy()
            pdf["media"] = blobs
            yield pdf

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", media binary"
    )
    return df.mapInPandas(op, out_schema)


def vad_wav(
    df: DataFrame,
    media_col: str = "media",
    frame: int = 200,
    energy_threshold: int = 1_000_000,
) -> DataFrame:
    """Energy-based voice-activity detection over PCM16 WAV blobs:
    frame the signal, score each frame by EXACT integer energy
    (Σ sample² in int64 — 200·32767² ≈ 2.1e11, far under the clamp),
    threshold, then reduce the frame booleans to segment statistics
    (count, longest run, first active frame) with a linear scan inside
    the same Arrow batch. A digital-silence frame scores exactly 0 and
    any ≥2-cycle sine frame scores ~amp²/2·32767²·frame ≈ 2.7e10, so
    the threshold sits 4 orders of magnitude from both classes — no
    boundary flake. Blobs are dropped before the return (wide-row
    rule)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + (
        ", n_frames int, n_active int, n_segments int,"
        " longest_run int, first_active int"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for blob in pdf[media_col]:
                _sr, x = _parse_wav(bytes(blob))
                n = (len(x) // frame) * frame
                e = (
                    x[:n].astype(np.int64).reshape(-1, frame) ** 2
                ).sum(axis=1)
                act = e > energy_threshold
                n_seg, longest, run, first = 0, 0, 0, -1
                for k, a in enumerate(act):
                    if a:
                        if run == 0:
                            n_seg += 1
                        run += 1
                        longest = max(longest, run)
                        if first < 0:
                            first = k
                    else:
                        run = 0
                rows.append(
                    {
                        "n_frames": len(act),
                        "n_active": int(act.sum()),
                        "n_segments": n_seg,
                        "longest_run": longest,
                        "first_active": first,
                    }
                )
            out = pdf.drop(columns=[media_col]).copy()
            for k in (
                "n_frames",
                "n_active",
                "n_segments",
                "longest_run",
                "first_active",
            ):
                out[k] = [r[k] for r in rows]
            yield out

    return df.mapInPandas(op, out_schema)


def _luma32_from_bmp(blob: bytes):
    """Decode a BMP to its 32x32 INTEGER luma grid — the shared
    alignment-normalization front half of `phash_dct` and
    `luma_grid32`: BGR->RGB, luma = 299R+587G+114B at the x1000 scale
    (no division), nearest-neighbor resample by integer floor-scaling
    sx = (x*w)//32. One implementation so the hash-domain banding and
    the exact-verify kernel can never desynchronize."""
    import numpy as np

    w, h, bgr = _parse_bmp(blob)
    rgb = bgr[:, :, ::-1].astype(np.int64)
    lum = 299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]
    sx = (np.arange(32, dtype=np.int64) * w) // 32
    sy = (np.arange(32, dtype=np.int64) * h) // 32
    return lum[np.ix_(sy, sx)]  # (y, x) 32x32


def phash_dct(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Perceptual hash (pHash) over REAL decoded BMPs, integer-exact:
    luma ← 299R+587G+114B (kept at the ×1000 scale, no division),
    nearest-neighbor resample to 32×32 (sx = ⌊x·w/32⌋ — pure integer),
    2-D DCT-II restricted to the 8×8 low-frequency block via a
    QUANTIZED cosine basis qc(u,x) = ⌊cos(π(2x+1)u/64)·10⁴ + 0.5⌋ —
    every product/sum is then BIGINT arithmetic (max |Σ| ≈ 2.6e16,
    comfortably inside int64), so the coefficients are bit-identical
    across engines and partitionings; the nearest cos·10⁴ value sits
    0.011 from a floor boundary, so a last-ulp libm difference cannot
    flip a single quantized basis entry. Hash = 63 bits, one per AC
    coefficient (u,v)≠(0,0) at position u·8+v−1, set when the
    coefficient exceeds the LOWER MEDIAN (32nd smallest) of the 63 —
    median-threshold bits are what makes pHash robust to global
    brightness/contrast shifts, which move the DC term the bits ignore.

    100 TB: embarrassingly parallel scan-stage kernel (two 8×32 integer
    GEMMs per image); blobs never reach a shuffle — the hash (8 bytes)
    does. Near-duplicate banding then treats the hash like SimHash
    (hamming-band join, operators/dedup.py).
    """
    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + ", phash bigint, dc_coeff bigint, ac_median bigint"

    # quantized 8×32 DCT basis — rebuilt per task from the closed form
    qc = np.floor(
        np.cos(
            np.pi
            * (2 * np.arange(32, dtype=np.float64)[None, :] + 1)
            * np.arange(8, dtype=np.float64)[:, None]
            / 64.0
        )
        * 10000.0
        + 0.5
    ).astype(np.int64)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, dcs, meds = [], [], []
            for blob in pdf[media_col]:
                g32 = _luma32_from_bmp(bytes(blob))  # (y, x) 32x32
                # D[u,v] = Σ_x qc[u,x] Σ_y qc[v,y] g[y,x] — two int GEMMs
                d = qc @ g32 @ qc.T  # rows: v over y-basis? see below
                # qc @ g32 contracts over y (rows of g32) → index v;
                # then @ qc.T contracts over x → index u. So d[v, u].
                ac = np.delete(d.T.reshape(-1), 0)  # u-major, drop DC
                med = np.sort(ac)[31]
                bits = 0
                for pos, val in enumerate(ac):
                    if val > med:
                        bits |= 1 << pos
                hashes.append(bits)
                dcs.append(int(d[0, 0]))
                meds.append(int(med))
            out = pdf.drop(columns=[media_col]).copy()
            out["phash"] = hashes
            out["dc_coeff"] = dcs
            out["ac_median"] = meds
            yield out

    return df.mapInPandas(op, out_schema)


def luma_grid32(df: DataFrame, media_col: str = "media") -> DataFrame:
    """REAL decode → 32×32 nearest-neighbor INTEGER luma grid (the pHash
    front half without the transform): luma = 299R+587G+114B at the
    ×1000 scale, resample sx = ⌊x·w/32⌋ — one array<bigint>(1024,
    row-major y·32+x) per image, the alignment-normalized feature for
    pairwise pixel-domain comparison (correlation, MAD, SSIM-style
    moments). Blobs are dropped here (wide-row rule): downstream joins
    carry the 8 KB grid, never the image."""
    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != media_col
    ) + ", luma array<bigint>"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids = []
            for blob in pdf[media_col]:
                grids.append(_luma32_from_bmp(bytes(blob)).reshape(-1).tolist())
            out = pdf.drop(columns=[media_col]).copy()
            out["luma"] = grids
            yield out

    return df.mapInPandas(op, out_schema)
