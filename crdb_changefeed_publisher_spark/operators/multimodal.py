"""Multimodal column plumbing: image/audio/video as opaque `binary` columns
with typed metadata, processed through Arrow-batched mapInPandas.

Decoding tiers:

- **Real decoders, no codec library needed**: uncompressed formats are a
  header parse + ``np.frombuffer`` — ``decode_image`` reads binary PPM
  (P6, RGB), PGM (P5, grayscale), and uncompressed 24-bit BMP (BI_RGB:
  BGR pixel order, 4-byte row padding, bottom-up or top-down);
  ``decode_audio`` reads RIFF/WAVE PCM (8/16-bit, any channel count).
  ``encode_image``/``encode_image_bmp``/``encode_audio`` are the exact
  inverses (fixture payloads are generated through them, so the decode
  path is exercised on real container bytes end to end).
- **Compressed formats** (JPEG/PNG/MP3/H.264 ...) require codec libraries
  (Pillow/ffmpeg) that are not available in this container;
  ``decode_compressed`` documents that boundary and raises.

Scale notes (100 TB of media):
- binary payloads ride the parquet scan; metadata columns are pruned
  independently so metadata-only queries never read the bytes.
- mapInPandas streams Arrow record batches: peak executor memory is
  ~maxRecordsPerBatch * avg_blob_size, tuned via
  spark.sql.execution.arrow.maxRecordsPerBatch (set small for video).
- feature extraction is embarrassingly parallel: no shuffle until the
  (tiny) feature output is aggregated or joined.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for plumbing tests: payload bytes are a
    seeded function of media_id (stands in for real image/audio blobs)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("id") % 3 + 1).cast("int")).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.col("id") * 100).alias("duration_ms"),
    )


def _read_pnm_header(payload: bytes) -> tuple[bytes, int, int, int, int]:
    """Parse a binary PNM header: magic, then 3 ASCII integers (width,
    height, maxval) separated by whitespace, with ``#`` comment lines
    allowed anywhere between tokens, then ONE whitespace byte before the
    raster. Returns (magic, width, height, maxval, raster_offset)."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PGM/PPM payload (magic {magic!r})")
    toks: list[int] = []
    i = 2
    while len(toks) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            nl = payload.find(b"\n", i)
            if nl < 0:
                raise ValueError("unterminated PNM comment")
            i = nl + 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PNM header")
        toks.append(int(payload[i:j]))
        i = j
    # exactly one whitespace byte separates maxval from the raster
    if i >= len(payload) or not payload[i : i + 1].isspace():
        raise ValueError("missing raster separator")
    width, height, maxval = toks
    return magic, width, height, maxval, i + 1


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BI_RGB): BITMAPFILEHEADER (14 B) +
    BITMAPINFOHEADER (>= 40 B), rows padded to 4 bytes, stored BGR and
    bottom-up (negative biHeight = top-down). Returns uint8 (H, W, 3) RGB.
    Palette/16/32-bit/RLE variants are out of scope — this is the decoder
    for the format BMPs are overwhelmingly written in."""
    if len(payload) < 54:
        raise ValueError("BMP payload shorter than its fixed headers")
    pix_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp}, compression={compression})")
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if len(payload) - pix_off < stride * h:
        raise ValueError("BMP raster shorter than header promises")
    raster = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pix_off)
    rows = raster.reshape(h, stride)[:, : width * 3].reshape(h, width, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_image_bmp(arr: np.ndarray) -> bytes:
    """Inverse of the BMP branch of `decode_image`: uint8 (H, W, 3) RGB ->
    uncompressed bottom-up 24-bit BI_RGB BMP bytes (rows padded to 4)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) uint8, got shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    raster = rows.tobytes()
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(raster).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 DPI
        + (0).to_bytes(4, "little") * 2
    )
    file_hdr = (
        b"BM"
        + (14 + len(info) + len(raster)).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (14 + len(info)).to_bytes(4, "little")
    )
    return file_hdr + info + raster


def decode_image(payload: bytes) -> np.ndarray:
    """REAL image decode for uncompressed formats — a pure-numpy header
    parse, no codec library: binary PPM (P6) and uncompressed 24-bit BMP
    return uint8 (H, W, 3) RGB, binary PGM (P5) returns uint8 (H, W).
    16-bit (maxval > 255) and ASCII (P1-P3) PNM variants are out of scope;
    compressed formats go through `decode_compressed` (unavailable here)."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    magic, width, height, maxval, off = _read_pnm_header(payload)
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported PNM maxval {maxval}")
    n = width * height * (3 if magic == b"P6" else 1)
    if len(payload) - off < n:
        raise ValueError("PNM raster shorter than header promises")
    data = np.frombuffer(payload, dtype=np.uint8, count=n, offset=off)
    return data.reshape((height, width, 3)) if magic == b"P6" else data.reshape((height, width))


def encode_image(arr: np.ndarray) -> bytes:
    """Inverse of `decode_image`: uint8 (H, W) -> binary PGM (P5); uint8
    (H, W, 3) -> binary PPM (P6)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        magic = b"P5"
    elif a.ndim == 3 and a.shape[2] == 3:
        magic = b"P6"
    else:
        raise ValueError(f"expected (H, W) or (H, W, 3) uint8, got shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode for RIFF/WAVE PCM — a pure-numpy chunk walk, no
    codec library: returns (int16 samples shaped (frames, channels),
    sample_rate). Accepts 16-bit and 8-bit PCM (8-bit is unsigned in WAV;
    recentred to signed int16), walks past extra chunks (LIST, fact, ...)
    honoring word alignment. Compressed codecs (MP3/AAC/...) are the
    `decode_compressed` boundary."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt: bytes | None = None
    data: bytes | None = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("WAVE payload missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise ValueError(f"only PCM supported (audio format {audio_format})")
    if channels < 1:
        raise ValueError("WAVE payload declares zero channels")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int16)
    elif bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) * 256
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    frames = len(samples) // channels
    return samples[: frames * channels].reshape(frames, channels), rate


def encode_audio(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Inverse of `decode_audio`: int16 (frames,) or (frames, channels) ->
    16-bit PCM RIFF/WAVE bytes."""
    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a.reshape(-1, 1)
    frames, channels = a.shape
    data = a.tobytes()
    byte_rate = rate * channels * 2
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        chunks += b"\x00"
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def decode_compressed(payload: bytes, mime: str) -> "object":  # pragma: no cover
    """Compressed-media boundary — JPEG/PNG/MP3/H.264 decode requires codec
    libraries (Pillow/ffmpeg) that are not available in this container."""
    raise NotImplementedError(f"no codec library available for {mime}")


# Deterministic real-media fixture parameters — shared by media_payloads,
# real_feature_stats, AND the SQL oracle of `multimodal_real_features`
# (plans/llm.py), which re-derives every pixel/sample from the same closed
# forms: the payload side proves the codecs on real container bytes, the
# oracle side proves the decoded values are the generated values.
IMG_W, IMG_H = 16, 12
WAV_FRAMES = 480
WAV_RATE = 16000


def _gen_payload(m: int) -> tuple[str, str, bytes]:
    """media_id -> (kind, fmt, REAL encoded bytes). Pixel/sample closed
    forms (all int64 then cast): PPM (m%8==0, RGB interleaved):
    v_i = (m*7 + i*13) % 256; BMP (m%8==4, RGB raster order before the
    encoder's BGR/bottom-up/padded layout): v_i = (m*3 + i*7) % 256;
    PGM (m%4==2): v_i = (m*5 + i*3) % 256; WAV 16-bit mono (m odd):
    s_t = ((m*11 + t*17) % 65536) - 32768."""
    if m % 2 == 1:
        t = np.arange(WAV_FRAMES, dtype=np.int64)
        s = ((m * 11 + t * 17) % 65536 - 32768).astype(np.int16)
        return "audio", "wav", encode_audio(s, WAV_RATE)
    if m % 8 == 0:
        i = np.arange(IMG_W * IMG_H * 3, dtype=np.int64)
        v = ((m * 7 + i * 13) % 256).astype(np.uint8).reshape(IMG_H, IMG_W, 3)
        return "image", "ppm", encode_image(v)
    if m % 8 == 4:
        i = np.arange(IMG_W * IMG_H * 3, dtype=np.int64)
        v = ((m * 3 + i * 7) % 256).astype(np.uint8).reshape(IMG_H, IMG_W, 3)
        return "image", "bmp", encode_image_bmp(v)
    i = np.arange(IMG_W * IMG_H, dtype=np.int64)
    v = ((m * 5 + i * 3) % 256).astype(np.uint8).reshape(IMG_H, IMG_W)
    return "image", "pgm", encode_image(v)


def media_payloads(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(id) -> (media_id, kind, fmt, payload): a REAL media table whose
    binary payloads are produced by the actual encoders (PPM/PGM headers,
    RIFF chunk layout) — the container format round-trips through
    `decode_image`/`decode_audio` byte-for-byte. Arrow-batched; per-row
    work is numpy vector generation + a header append."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # r13 per-task-work pass: the four fixture classes are generated as
        # whole-batch int64 broadcast expressions (identical closed forms to
        # _gen_payload, which remains the per-id spec), leaving only the
        # encoder header append per row.
        for pdf in batches:
            ms = pdf[id_col].to_numpy().astype(np.int64)
            recs: list[tuple[int, str, str, bytes]] = []
            wav_m = ms[ms % 2 == 1]
            if wav_m.size:
                t = np.arange(WAV_FRAMES, dtype=np.int64)
                s = ((wav_m[:, None] * 11 + t[None, :] * 17) % 65536 - 32768).astype(np.int16)
                for r in range(wav_m.size):
                    recs.append((int(wav_m[r]), "audio", "wav", encode_audio(s[r], WAV_RATE)))
            ppm_m = ms[ms % 8 == 0]
            if ppm_m.size:
                i = np.arange(IMG_W * IMG_H * 3, dtype=np.int64)
                v = ((ppm_m[:, None] * 7 + i[None, :] * 13) % 256).astype(np.uint8)
                for r in range(ppm_m.size):
                    recs.append((int(ppm_m[r]), "image", "ppm",
                                 encode_image(v[r].reshape(IMG_H, IMG_W, 3))))
            bmp_m = ms[ms % 8 == 4]
            if bmp_m.size:
                i = np.arange(IMG_W * IMG_H * 3, dtype=np.int64)
                v = ((bmp_m[:, None] * 3 + i[None, :] * 7) % 256).astype(np.uint8)
                for r in range(bmp_m.size):
                    recs.append((int(bmp_m[r]), "image", "bmp",
                                 encode_image_bmp(v[r].reshape(IMG_H, IMG_W, 3))))
            pgm_m = ms[ms % 4 == 2]
            if pgm_m.size:
                i = np.arange(IMG_W * IMG_H, dtype=np.int64)
                v = ((pgm_m[:, None] * 5 + i[None, :] * 3) % 256).astype(np.uint8)
                for r in range(pgm_m.size):
                    recs.append((int(pgm_m[r]), "image", "pgm",
                                 encode_image(v[r].reshape(IMG_H, IMG_W))))
            yield pd.DataFrame(
                recs, columns=["media_id", "kind", "fmt", "payload"]
            )

    # The id frame usually arrives as 1-2 parquet splits; the expensive
    # stage is the Python decode/encode downstream, so spread the BARE IDS
    # across the cluster first — an ids-only shuffle (8 bytes/row) buys
    # full-width parallelism for every per-payload stage after it.
    return (
        ids.select(F.col(id_col).alias(id_col))
        .repartition(ids.sparkSession.sparkContext.defaultParallelism, id_col)
        .mapInPandas(run, "media_id long, kind string, fmt string, payload binary")
    )


def real_feature_stats(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """ACTUAL decode -> per-channel statistics: every payload goes through
    the real container parsers (`decode_image` / `decode_audio`) and the
    features (count, mean, population std per channel) are computed from
    the decoded pixels/samples. Output: one row per (media, channel).

    Arithmetic contract (what makes this oracle-verifiable): sums of
    integer pixel/sample values are exact in float64, mean = sum/n,
    std = sqrt(sumsq/n - mean^2) — the same expression shapes DuckDB's
    avg()/sqrt() produce, so values agree bit-for-bit before the round-6.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "kind": [], "fmt": [], "channel": [],
                "n_values": [], "mean_v": [], "std_v": [],
            }
            for mid, kind, fmt, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["fmt"], pdf[payload_col]
            ):
                payload = bytes(payload)
                if kind == "audio":
                    arr, _rate = decode_audio(payload)
                    chans = [arr[:, c].astype(np.float64) for c in range(arr.shape[1])]
                else:
                    img = decode_image(payload)
                    if img.ndim == 3:
                        chans = [img[:, :, c].ravel().astype(np.float64) for c in range(3)]
                    else:
                        chans = [img.ravel().astype(np.float64)]
                for c, vals in enumerate(chans):
                    n = int(vals.size)
                    mean = float(vals.sum() / n)
                    msq = float((vals * vals).sum() / n)
                    out["media_id"].append(int(mid))
                    out["kind"].append(kind)
                    out["fmt"].append(fmt)
                    out["channel"].append(c)
                    out["n_values"].append(n)
                    out["mean_v"].append(mean)
                    out["std_v"].append(float(np.sqrt(msq - mean * mean)))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run,
        "media_id long, kind string, fmt string, channel int, "
        "n_values long, mean_v double, std_v double",
    )


def image_quality_features(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Image-quality gates from ACTUALLY-DECODED pixels: per image —
    Shannon entropy (bits) of the exact 256-bin value histogram (flat/
    synthetic images score low; natural images high), mean absolute
    difference between consecutive raster values (sharpness/noise proxy),
    and (max-min)/255 contrast. The value stream is the decoded raster in
    storage order (interleaved RGB for color), so the metrics double as a
    decode-correctness check — one swapped byte moves the gradient.

    Same Arrow shape as the other passes: payload bytes in, a handful of
    doubles out, nothing image-sized survives past the map. Oracle
    re-derives every pixel from the fixture's closed-form formulas, so all
    three metrics are value-verified without a codec in SQL."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "fmt": [], "n_values": [],
                "entropy": [], "grad_mean": [], "contrast": [],
            }
            for mid, kind, fmt, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["fmt"], pdf[payload_col]
            ):
                if kind != "image":
                    continue
                img = decode_image(bytes(payload))
                flat = img.ravel()  # C-order: rows, cols, channels interleaved
                n = int(flat.size)
                counts = np.bincount(flat, minlength=256)
                p = counts[counts > 0].astype(np.float64) / n
                vals = flat.astype(np.float64)
                out["media_id"].append(int(mid))
                out["fmt"].append(fmt)
                out["n_values"].append(n)
                out["entropy"].append(float(round(-(p * np.log2(p)).sum(), 4)))
                out["grad_mean"].append(float(round(np.abs(np.diff(vals)).mean(), 4)))
                out["contrast"].append(float(round((vals.max() - vals.min()) / 255.0, 4)))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run,
        "media_id long, fmt string, n_values long, "
        "entropy double, grad_mean double, contrast double",
    )


def audio_spectrogram(
    media: DataFrame, n_fft: int = 256, payload_col: str = "payload"
) -> DataFrame:
    """REAL signal processing over decoded audio: WAV payloads decode to
    PCM, channels mix to mono (float64 mean), the stream splits into
    non-overlapping `n_fft`-sample windows, and each window gets a power
    spectrum via numpy's rfft (pure numpy — no DSP library). Output: one
    row per (media, frame) with total in-window power (Parseval-checked in
    tests), the dominant frequency bin and its Hz, and the spectral
    centroid in Hz — the feature row an audio curation pipeline filters on
    (silence/tone/bandwidth gates).

    Scale shape: identical to the other multimodal passes — payloads
    stream through Arrow batches, each row's work is numpy-vectorized
    (one rfft per window, batched as a (frames, n_fft) matrix), output is
    a few doubles per frame so the shuffle never carries audio. No oracle:
    SQL engines have no FFT; verification is the closed-form sine test +
    Parseval identity (tests/test_multimodal_codecs.py)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "total_power": [],
                "dominant_bin": [], "dominant_hz": [], "centroid_hz": [],
            }
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf[payload_col]):
                if kind != "audio":
                    continue
                samples, rate = decode_audio(bytes(payload))
                mono = samples.astype(np.float64).mean(axis=1)
                n_frames = len(mono) // n_fft
                if n_frames == 0:
                    continue
                X = mono[: n_frames * n_fft].reshape(n_frames, n_fft)
                spec = np.abs(np.fft.rfft(X, axis=1)) ** 2
                freqs = np.fft.rfftfreq(n_fft, d=1.0 / rate)
                dom = spec.argmax(axis=1)
                denom = spec.sum(axis=1)
                centroid = np.where(denom > 0, (spec * freqs).sum(axis=1) / np.where(denom > 0, denom, 1.0), 0.0)
                out["media_id"] += [int(mid)] * n_frames
                out["frame_idx"] += list(range(n_frames))
                # Parseval: sum|rfft|^2 (with conjugate-half doubling) equals
                # n_fft * sum(x^2); total_power reports the time-domain sum
                out["total_power"] += [float(round(v, 4)) for v in (X * X).sum(axis=1)]
                out["dominant_bin"] += [int(b) for b in dom]
                out["dominant_hz"] += [float(round(freqs[b], 4)) for b in dom]
                out["centroid_hz"] += [float(round(c, 4)) for c in centroid]
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run,
        "media_id long, frame_idx int, total_power double, "
        "dominant_bin int, dominant_hz double, centroid_hz double",
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: computes the frame timestamps to decode
    per video (pure column math — real decoding is the stubbed part). This
    is the shape of the operator at scale: plan rows explode to (video,
    frame_ts) work units that partition evenly across executors."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual near-dup fingerprints (r6 verdict #4): DCT pHash over decoded
# pixels, Haitsma-Kalker-style band-energy fingerprints over decoded PCM.
# Both produce a 64-bit signature column that feeds the SAME hamming-band
# LSH blocking the SimHash family uses (operators/dedup.py::
# _explode_sig_chunks) — signature tables are ids+8 bytes, the pair join
# is a band equi-join, and the decode cost is one Arrow-batched pass.
# ---------------------------------------------------------------------------

PHASH_SIZE = 16  # DCT input side (gray image is area-resized to this)
PHASH_LOW = 8    # low-frequency block kept (8x8 - DC = 63 signature bits)


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (float64): D @ x applies the transform
    along the first axis; D @ g @ D.T is the 2-D DCT. Pure numpy — no
    scipy in the container."""
    k = np.arange(n, dtype=np.float64)
    D = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    D *= np.sqrt(2.0 / n)
    D[0, :] *= np.sqrt(0.5)
    return D


_DCT16 = _dct_matrix(PHASH_SIZE)


def _resize_area(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-average resize: output cell (r, c) averages the
    input index range [floor(r*H/out_h), floor((r+1)*H/out_h)) — at least
    one source row/col per cell so upsampling degrades to nearest.

    Vectorized via 2-D prefix sums (the r13 per-task-work pass): cell sum =
    4-corner difference of the cumulative image, one division by the cell
    area. For integer-valued input (every real decoder emits uint8/int16)
    float64 prefix sums are EXACT, so each cell's numerator and denominator
    — hence the mean — are bit-identical to the per-cell loop this
    replaces, at ~256x fewer interpreter iterations per image."""
    h, w = gray.shape
    gray = gray.astype(np.float64, copy=False)
    r_lo = (np.arange(out_h) * h) // out_h
    r_hi = np.maximum(((np.arange(out_h) + 1) * h) // out_h, r_lo + 1)
    c_lo = (np.arange(out_w) * w) // out_w
    c_hi = np.maximum(((np.arange(out_w) + 1) * w) // out_w, c_lo + 1)
    cs = np.zeros((h + 1, w), dtype=np.float64)
    np.cumsum(gray, axis=0, out=cs[1:])
    rows = cs[r_hi] - cs[r_lo]  # (out_h, w) row-band sums
    cs2 = np.zeros((out_h, w + 1), dtype=np.float64)
    np.cumsum(rows, axis=1, out=cs2[:, 1:])
    cells = cs2[:, c_hi] - cs2[:, c_lo]  # (out_h, out_w) block sums
    counts = (r_hi - r_lo)[:, None] * (c_hi - c_lo)[None, :]
    return cells / counts


def image_phash(img: np.ndarray) -> int:
    """64-bit perceptual hash of a decoded image (classic DCT pHash):
    gray (channel mean) -> 16x16 area resize -> 2-D DCT-II -> keep the
    8x8 low-frequency block, drop DC -> bit_i = coeff_i > median (median
    of the 63 AC coefficients; odd count, so it is an element and ~half
    the bits set). Invariances that make it PERCEPTUAL rather than exact:
    brightness offset moves only the (excluded) DC term, contrast scaling
    a > 0 scales coeffs AND median together, and small pixel noise moves
    only coefficients near the median (property-tested)."""
    gray = img.astype(np.float64)
    if gray.ndim == 3:
        gray = gray.mean(axis=2)
    g = _resize_area(gray, PHASH_SIZE, PHASH_SIZE)
    coef = (_DCT16 @ g @ _DCT16.T)[:PHASH_LOW, :PHASH_LOW].ravel()
    ac = coef[1:]
    med = float(np.median(ac))
    # scale-relative tolerance: a flat image's AC coefficients are float
    # noise (~1e-14 against a DC of mean*16) whose SIGNS would otherwise
    # set arbitrary bits; anchoring the tolerance to the LARGEST
    # coefficient (DC included) zeroes degenerate images while staying
    # ~9 orders below any real image's AC structure, and it scales
    # linearly with contrast so scale invariance is exact
    tol = 1e-9 * max(float(np.abs(coef).max()), 1e-300)
    bits = (ac - med) > tol
    return int(
        np.bitwise_or.reduce(
            np.where(bits, np.uint64(1) << np.arange(len(bits), dtype=np.uint64), np.uint64(0))
        )
    )


def audio_fingerprint(
    samples: np.ndarray,
    frame: int = 96,
    hop: int = 48,
    n_bands: int = 9,
    n_frames: int = 9,
) -> int:
    """64-bit spectral fingerprint of decoded PCM (the Haitsma-Kalker
    energy-difference construction): mono mix -> `n_frames` windows of
    `frame` samples (hop `hop`) -> per-window band energies over
    `n_bands` contiguous rfft bands (DC bin excluded) -> bit(f, b) = 1
    iff the band-energy difference (E[f+1][b] - E[f+1][b+1]) -
    (E[f][b] - E[f][b+1]) > 0. (n_frames-1) x (n_bands-1) = 64 bits.
    Sign-of-difference bits are invariant to amplitude scaling (energies
    scale by a^2 together) — the property that makes re-levelled copies
    of the same audio collide."""
    mono = samples.astype(np.float64)
    if mono.ndim == 2:
        mono = mono.mean(axis=1)
    need = frame + hop * (n_frames - 1)
    if len(mono) < need:  # deterministic zero-pad for short clips
        mono = np.concatenate([mono, np.zeros(need - len(mono))])
    win = np.stack([mono[f * hop : f * hop + frame] for f in range(n_frames)])
    spec = np.abs(np.fft.rfft(win, axis=1)) ** 2  # (n_frames, frame//2+1)
    usable = spec[:, 1:]  # drop DC
    edges = (np.arange(n_bands + 1) * usable.shape[1]) // n_bands
    E = np.stack(
        [usable[:, edges[b] : edges[b + 1]].sum(axis=1) for b in range(n_bands)],
        axis=1,
    )  # (n_frames, n_bands)
    d = E[:, :-1] - E[:, 1:]  # (n_frames, n_bands-1)
    bits = (d[1:] - d[:-1]).ravel() > 0  # (n_frames-1) x (n_bands-1)
    return int(
        np.bitwise_or.reduce(
            np.where(bits, np.uint64(1) << np.arange(len(bits), dtype=np.uint64), np.uint64(0))
        )
    )


def perceptual_signatures(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(media_id, kind, payload) -> (media_id, kind, sig): decode each
    payload with the real codecs and fingerprint it (images -> pHash,
    audio -> spectral fingerprint). Arrow-batched; the output is 8 bytes
    per media row, so everything downstream shuffles signatures, never
    blobs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, sigs = [], [], []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf[payload_col]
            ):
                payload = bytes(payload)
                if kind == "audio":
                    arr, _rate = decode_audio(payload)
                    sig = audio_fingerprint(arr)
                else:
                    sig = image_phash(decode_image(payload))
                ids.append(int(mid))
                kinds.append(str(kind))
                # two's-complement into int64: the audio fingerprint uses
                # all 64 bits, and Spark longs are signed — the bit
                # pattern (all banding/hamming operates on it) is
                # unchanged by the reinterpretation
                sigs.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "sig": sigs})

    return media.mapInPandas(run, "media_id long, kind string, sig long")


def media_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 7,
    n_chunks: int = 8,
    chunk_bits: int = 8,
    payload_col: str = "payload",
) -> DataFrame:
    """Perceptual near-dup pairs across a media corpus: fingerprint, then
    the SAME hamming-band LSH blocking as SimHash text dedup (reused from
    operators/dedup.py) — block on each of `n_chunks` `chunk_bits`-bit
    signature chunks, exact-hamming verify within blocks, never an
    all-pairs stage. Pigeonhole: any pair within hamming <= n_chunks - 1
    is GUARANTEED to share a chunk, so the default dial (8 x 8-bit,
    max_hamming 7) is exact-recall for its threshold. Pairs join within a
    kind only (an image can't near-dup a WAV). Output: (kind, media_a,
    media_b, hamming), media_a < media_b.

    Scale: signature table is ids + 8 bytes; per-chunk bucket population
    ~ n_media / 2^chunk_bits per kind, so chunk_bits grows with corpus
    size exactly like the SimHash dial (docs/SCALE.md)."""
    from crdb_changefeed_publisher_spark.operators.dedup import _explode_sig_chunks

    sig = (
        perceptual_signatures(media, payload_col)
        .withColumnRenamed("media_id", "doc_id")
        .localCheckpoint(eager=True)  # consumed by both join sides
    )
    # `kind` rides through the chunk explode (r13): the former
    # chunks-join-sig re-attach scanned the checkpointed table twice more
    # and paid a broadcast join per candidate side just to recover a
    # column the explode input already had. `kind` in the JOIN KEY also
    # keeps cross-kind chunk collisions out of the candidate stream
    # (same pairs: the kind-equality filter moved into the equi-join).
    chunks = _explode_sig_chunks(sig, n_chunks, chunk_bits, extra_cols=("kind",))
    a = chunks.select(
        F.col("kind"),
        F.col("doc_id").alias("media_a"),
        F.col("sig").alias("sig_a"),
        "chunk_idx",
        "chunk",
    )
    b = chunks.select(
        F.col("kind"),
        F.col("doc_id").alias("media_b"),
        F.col("sig").alias("sig_b"),
        "chunk_idx",
        "chunk",
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        a.join(b, ["kind", "chunk_idx", "chunk"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("kind", "media_a", "media_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)  # before the distinct:
        # hamming is a pure function of the pair, so filtering first only
        # shrinks the distinct's exchange, never its result
        .distinct()
    )


# --- planted perceptual near-dup fixture --------------------------------

NEAR_DUP_PARTNER_OFFSET = 1_000_000


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays — decorrelated deterministic
    noise (the linear _gen_payload patterns are too self-similar across
    ids for a DISCRIMINATION fixture: shifted sawtooths look alike)."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def near_dup_media_payloads(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Planted-ground-truth perceptual fixture: for every base id m the
    table carries TWO payloads — the original (media_id = m) and a
    perturbed copy (media_id = m + NEAR_DUP_PARTNER_OFFSET). Even m:
    32x32 PGM with splitmix64 pixels (pairwise-decorrelated across ids);
    copy adds +3 to ~1/16 of pixels (clip-safe). Odd m: 480-frame WAV
    with splitmix64 samples; copy is amplitude-scaled 3/4 with small
    additive noise on ~1/8 of samples. The ONLY near-dup structure in the
    corpus is the planted (m, m') pairing, so the expected pair list is
    pure id arithmetic — which is exactly what the SQL oracle of the
    `multimodal_near_dup` spec states."""
    side = 32
    n_wav = WAV_FRAMES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # r13 per-task-work pass (guide: hand whole batches to vectorized
        # native code): pixel/sample generation for the WHOLE batch is a
        # handful of broadcast uint64 ops instead of per-id numpy calls.
        # _mix64 wraps mod 2^64 elementwise, so the batched products/sums
        # produce bit-identical payloads to the per-id form they replace;
        # only the encoder header append stays per row (bytes assembly).
        for pdf in batches:
            ms = pdf[id_col].to_numpy().astype(np.int64)
            rows: list[tuple[int, str, str, bytes]] = []
            img_m = ms[ms % 2 == 0]
            if img_m.size:
                i = np.arange(side * side, dtype=np.uint64)
                mu = img_m.astype(np.uint64)
                v = (
                    _mix64(mu[:, None] * np.uint64(0x9E3779B97F4A7C15) + i[None, :])
                    >> np.uint64(56)
                ).astype(np.uint8)
                bump = (
                    _mix64(
                        (mu * np.uint64(2) + np.uint64(1))[:, None]
                        * np.uint64(0xD6E8FEB86659FD93)
                        + i[None, :]
                    )
                    % np.uint64(16)
                ) == 0
                v2 = np.minimum(
                    v.astype(np.int64) + np.where(bump, 3, 0), 255
                ).astype(np.uint8)
                for r in range(img_m.size):
                    m = int(img_m[r])
                    rows.append((m, "image", "pgm", encode_image(v[r].reshape(side, side))))
                    rows.append(
                        (m + NEAR_DUP_PARTNER_OFFSET, "image", "pgm",
                         encode_image(v2[r].reshape(side, side)))
                    )
            aud_m = ms[ms % 2 == 1]
            if aud_m.size:
                t = np.arange(n_wav, dtype=np.uint64)
                mu = aud_m.astype(np.uint64)
                s = (
                    (
                        _mix64(mu[:, None] * np.uint64(0xA0761D6478BD642F) + t[None, :])
                        % np.uint64(65536)
                    ).astype(np.int64)
                    - 32768
                ).astype(np.int16)
                mask = (
                    _mix64(
                        (mu * np.uint64(2) + np.uint64(1))[:, None]
                        * np.uint64(0xE7037ED1A0B428DB)
                        + t[None, :]
                    )
                    % np.uint64(8)
                ) == 0
                noise = np.where(mask, 64, 0)
                s2 = np.clip(
                    (s.astype(np.int64) * 3) // 4 + noise, -32768, 32767
                ).astype(np.int16)
                for r in range(aud_m.size):
                    m = int(aud_m[r])
                    rows.append((m, "audio", "wav", encode_audio(s[r], WAV_RATE)))
                    rows.append(
                        (m + NEAR_DUP_PARTNER_OFFSET, "audio", "wav",
                         encode_audio(s2[r], WAV_RATE))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "fmt", "payload"])

    # Same parallelism posture as media_payloads: the downstream decode +
    # DCT/FFT fingerprinting is the hot loop, so shuffle the 8-byte ids
    # wide BEFORE generation — 5k ids on 1 parquet split otherwise pins
    # 10k payload fingerprints to one worker (measured 7.2 s -> sub-second
    # at sf0.1 on local[32]).
    return (
        ids.select(F.col(id_col).alias(id_col))
        .repartition(ids.sparkSession.sparkContext.defaultParallelism, id_col)
        .mapInPandas(run, "media_id long, kind string, fmt string, payload binary")
    )
