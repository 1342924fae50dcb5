"""Multimodal (image/audio/video) column plumbing.

Model (per the build brief): media are opaque ``binary`` columns carrying
typed metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` so each executor
processes its partitions batch-wise.

Two REAL dependency-free codecs are implemented in pure numpy — BMP
(24-bit uncompressed BI_RGB, the Windows bitmap wire format: 14-byte file
header + 40-byte BITMAPINFOHEADER, BGR bottom-up rows padded to 4 bytes)
and PPM (Netpbm P6 binary, RGB top-down) — so ``decode_image`` runs for
real on those payloads.  Compressed formats (JPEG/PNG) still need codec
libraries absent from this container and raise ``NotImplementedError``;
rows tagged ``media_type = "image/fake"`` (``attach_fake_media``) keep the
deterministic byte-histogram stand-in for synthetic payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MEDIA_SCHEMA = "doc_id bigint, payload binary, media_type string, width int, height int"
FEATURE_BITS = 16  # byte-histogram buckets in the feature extractor


# ---------------------------------------------------------------------------
# Real codecs (pure numpy): BMP 24-bit BI_RGB and PPM P6
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed BMP bytes."""
    h, w, c = pixels.shape
    assert c == 3
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    stride = row_bytes + pad
    img_size = stride * h
    header = b"BM" + (54 + img_size).to_bytes(4, "little") + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
    info = (
        (40).to_bytes(4, "little")
        + int(w).to_bytes(4, "little", signed=True)
        + int(h).to_bytes(4, "little", signed=True)  # positive => bottom-up
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :row_bytes] = pixels[::-1, :, ::-1].reshape(h, row_bytes)  # bottom-up, BGR
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes -> (h, w, 3) uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression} unsupported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> binary PPM (P6) bytes."""
    h, w, c = pixels.shape
    assert c == 3
    return f"P6\n{w} {h}\n255\n".encode() + pixels.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) bytes -> (h, w, 3) uint8 RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comments starting with '#' allowed per the Netpbm spec)
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError(f"PPM maxval={maxval} unsupported")
    return (
        np.frombuffer(payload, dtype=np.uint8, count=h * w * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


def decode_image_pixels(payload: bytes) -> np.ndarray:
    """Decode a real image payload to (h, w, 3) uint8 RGB, dispatching on
    magic bytes.  Supported: BMP (24-bit BI_RGB), PPM (P6)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise NotImplementedError(
        f"unsupported image magic {payload[:2]!r}: only BMP/PPM decode "
        "without external codec libraries (JPEG/PNG need PIL/opencv)"
    )


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize a deterministic binary payload column (utf-8 bytes of the
    text) plus typed metadata — the schema a real image table would have."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.lit("image/fake").alias("media_type"),
        (F.pmod(F.xxhash64(F.col(text_col)), F.lit(1024)) + 64).cast("int").alias("width"),
        (F.pmod(F.xxhash64(F.col(text_col), F.lit(1)), F.lit(768)) + 64).cast("int").alias("height"),
    )


def decode_image(payload: bytes, fake: bool = False) -> list[float]:
    """Decode one image payload into a 16-bucket normalized histogram
    feature vector.

    Real path (``fake=False``): decode BMP/PPM pixels with the numpy
    codecs above and histogram the PIXEL bytes.  ``fake=True`` histograms
    the raw payload bytes — the deterministic stand-in for synthetic
    (non-image) payloads.
    """
    if fake:
        data = np.frombuffer(bytes(payload), dtype=np.uint8)
    else:
        data = decode_image_pixels(bytes(payload)).ravel()
    counts = np.bincount(data % FEATURE_BITS, minlength=FEATURE_BITS)
    total = max(data.size, 1)
    return (counts / total).tolist()


def extract_features(media_df: DataFrame) -> DataFrame:
    """Batch feature extraction over mapInPandas: (doc_id, features
    array<double>, n_bytes).  Rows whose ``media_type`` is ``image/fake``
    (``attach_fake_media``) histogram the payload bytes, every other row
    decodes its pixels.  Arrow-batched; executors see pandas frames of
    whole partitions, the decode loop never crosses the JVM boundary."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_image(bytes(p), t == "image/fake")
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features": feats,
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return media_df.mapInPandas(_extract, "doc_id bigint, features array<double>, n_bytes bigint")


def attach_real_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL image payloads (alternating BMP / PPM by id parity)
    with deterministic pixel content: channel c of pixel (x, y) in image i
    is ``(i * K_c + x * 7 + y * 13) % 256`` with K = (31, 57, 97) — a
    closed form an external oracle can recompute without any codec.
    Dimensions: width = 8 + i % 5, height = 8 + i % 7.  Runs as one
    mapInPandas stage; encode cost is per-row numpy, no JVM crossing."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads, types, ws, hs = [], [], [], []
            for i in ids:
                i = int(i)
                w, h = 8 + i % 5, 8 + i % 7
                x = np.arange(w, dtype=np.int64) * 7
                y = np.arange(h, dtype=np.int64) * 13
                base = y[:, None] + x[None, :]  # (h, w)
                px = np.stack(
                    [(i * k + base) % 256 for k in (31, 57, 97)], axis=-1
                ).astype(np.uint8)
                if i % 2 == 0:
                    payloads.append(encode_bmp(px))
                    types.append("image/bmp")
                else:
                    payloads.append(encode_ppm(px))
                    types.append("image/x-portable-pixmap")
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": payloads,
                    "media_type": types,
                    "width": np.array(ws, dtype="int32"),
                    "height": np.array(hs, dtype="int32"),
                }
            )

    from apache_arrow_spark.session import spread_compute

    # spread the id stream before the encode stage: a single-split source
    # would serialize every payload synthesis (and a downstream parquet
    # write of the media would produce ONE file, re-serializing the
    # decode pass that reads it back); identity on well-split sources
    return spread_compute(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        _gen, MEDIA_SCHEMA
    )


def channel_stats(media_df: DataFrame) -> DataFrame:
    """REAL decode -> per-image channel means in exact integer micro-units:
    (doc_id, width, height, mean_r_micro, mean_g_micro, mean_b_micro)
    where mean_c_micro = floor(sum(channel) * 1e6 / n_pixels) — integer
    arithmetic end-to-end so the value is engine-exact (no float rounding
    ties).  The decode loop runs batch-wise inside mapInPandas (Arrow
    transfer, no per-row JVM crossing); at scale this is the canonical
    shape for any pixel-statistics pass over a binary image column."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, micros = [], [], []
            for p in pdf["payload"]:
                px = decode_image_pixels(bytes(p))
                h, w = px.shape[:2]
                hs.append(h)
                ws.append(w)
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                micros.append(sums * 1_000_000 // (w * h))
            m = np.array(micros, dtype="int64") if micros else np.zeros((0, 3), "int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": np.array(ws, dtype="int32"),
                    "height": np.array(hs, dtype="int32"),
                    "mean_r_micro": m[:, 0],
                    "mean_g_micro": m[:, 1],
                    "mean_b_micro": m[:, 2],
                }
            )

    return media_df.mapInPandas(
        _stats,
        "doc_id bigint, width int, height int, "
        "mean_r_micro bigint, mean_g_micro bigint, mean_b_micro bigint",
    )


def resize_pixels(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """REAL nearest-neighbor resample: (h, w, 3) -> (height, width, 3).

    Source coordinate of target (X, Y) is (X * w // width, Y * h // height)
    — integer floor mapping, so the result is exactly reproducible by an
    external oracle with no interpolation arithmetic."""
    h, w = px.shape[:2]
    ys = (np.arange(height, dtype=np.int64) * h) // height
    xs = (np.arange(width, dtype=np.int64) * w) // width
    return px[ys][:, xs]


def resize_image(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize over mapInPandas: decode each BMP/PPM payload with
    the pure-numpy codecs, nearest-neighbor resample to (width, height),
    re-encode in the SAME container format, and rewrite the metadata.
    Embarrassingly parallel over partitions of the binary scan — the
    canonical 100 TB shape for a thumbnailing / normalization pass."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for p in pdf["payload"]:
                raw = bytes(p)
                px = resize_pixels(decode_image_pixels(raw), width, height)
                payloads.append(encode_bmp(px) if raw[:2] == b"BM" else encode_ppm(px))
            out = pdf.copy()
            out["payload"] = payloads
            out["width"] = np.int32(width)
            out["height"] = np.int32(height)
            yield out

    return media_df.mapInPandas(_resize, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Real video container (pure numpy): MVID = magic + frame index + BMP frames
# ---------------------------------------------------------------------------

_MVID_MAGIC = b"MVID"


def encode_mvid(frames: list[np.ndarray]) -> bytes:
    """List of (h, w, 3) uint8 RGB frames -> MVID container bytes.

    Wire format: ``b"MVID"`` + u32 n_frames + u32 byte-length per frame
    (little-endian), then the frames as 24-bit BMP payloads back-to-back —
    a minimal but REAL length-prefixed container, the same parse shape as
    an AVI/MP4 chunk index."""
    blobs = [encode_bmp(f) for f in frames]
    head = _MVID_MAGIC + len(blobs).to_bytes(4, "little") + b"".join(
        len(b).to_bytes(4, "little") for b in blobs
    )
    return head + b"".join(blobs)


def decode_mvid(payload: bytes) -> list[np.ndarray]:
    """MVID container bytes -> list of (h, w, 3) uint8 RGB frames."""
    if payload[:4] != _MVID_MAGIC:
        raise ValueError("not an MVID payload")
    n = int.from_bytes(payload[4:8], "little")
    lengths = [
        int.from_bytes(payload[8 + 4 * i : 12 + 4 * i], "little") for i in range(n)
    ]
    pos = 8 + 4 * n
    frames = []
    for ln in lengths:
        frames.append(decode_bmp(payload[pos : pos + ln]))
        pos += ln
    return frames


def attach_real_video(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL video payloads (MVID container of BMP frames) with
    deterministic pixel content: channel c of pixel (x, y) in frame f of
    video i is ``(i * K_c + f * 11 + x * 7 + y * 13) % 256`` with
    K = (31, 57, 97); n_frames = 4 + i % 5, width = 8 + i % 3,
    height = 6 + i % 4 — closed forms an external oracle recomputes with
    no codec.  One mapInPandas stage, no JVM crossing per frame."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads, nf, ws, hs = [], [], [], []
            for i in ids:
                i = int(i)
                n, w, h = 4 + i % 5, 8 + i % 3, 6 + i % 4
                x = np.arange(w, dtype=np.int64) * 7
                y = np.arange(h, dtype=np.int64) * 13
                base = y[:, None] + x[None, :]
                frames = [
                    np.stack(
                        [(i * k + f * 11 + base) % 256 for k in (31, 57, 97)],
                        axis=-1,
                    ).astype(np.uint8)
                    for f in range(n)
                ]
                payloads.append(encode_mvid(frames))
                nf.append(n)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": payloads,
                    "media_type": ["video/x-mvid"] * len(ids),
                    "n_frames": np.array(nf, dtype="int32"),
                    "width": np.array(ws, dtype="int32"),
                    "height": np.array(hs, dtype="int32"),
                }
            )

    from apache_arrow_spark.session import spread_compute

    # spread before the encode stage (see attach_real_media)
    return spread_compute(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        _gen,
        "doc_id bigint, payload binary, media_type string, "
        "n_frames int, width int, height int",
    )


def frame_sample(media_df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: parse the MVID container index, decode
    every ``every_n``-th BMP frame, and emit one row per sampled frame with
    exact integer channel means (micro-units, floor division).  The decode
    explodes rows batch-wise inside mapInPandas — at 100 TB this is the
    canonical frame-extraction pass: embarrassingly parallel, output rows
    proportional to sampled frames only (skipped frames are never decoded
    past the length index)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fnos, means = [], [], []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(p)
                if raw[:4] != _MVID_MAGIC:
                    raise ValueError("not an MVID payload")
                n = int.from_bytes(raw[4:8], "little")
                lengths = [
                    int.from_bytes(raw[8 + 4 * k : 12 + 4 * k], "little")
                    for k in range(n)
                ]
                offsets = np.concatenate(
                    ([8 + 4 * n], 8 + 4 * n + np.cumsum(lengths))
                )
                for f in range(0, n, every_n):
                    px = decode_bmp(raw[offsets[f] : offsets[f + 1]])
                    h, w = px.shape[:2]
                    sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                    ids.append(int(i))
                    fnos.append(f)
                    means.append(sums * 1_000_000 // (w * h))
            m = np.array(means, dtype="int64") if means else np.zeros((0, 3), "int64")
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "frame_no": np.array(fnos, dtype="int32"),
                    "mean_r_micro": m[:, 0],
                    "mean_g_micro": m[:, 1],
                    "mean_b_micro": m[:, 2],
                }
            )

    return media_df.mapInPandas(
        _frames,
        "doc_id bigint, frame_no int, "
        "mean_r_micro bigint, mean_g_micro bigint, mean_b_micro bigint",
    )


# ---------------------------------------------------------------------------
# Real audio codec (pure numpy): WAV RIFF, 16-bit PCM
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(n,) int16 mono PCM -> WAV (RIFF) bytes."""
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits/sample
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, (n,) int16 mono samples).  Walks RIFF
    chunks (tolerates extra chunks like LIST/fact); PCM 16-bit mono only."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise NotImplementedError(
                    f"WAV fmt={audio_fmt} ch={channels} bits={bits} unsupported "
                    "(PCM 16-bit mono only)"
                )
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, data


def attach_real_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL WAV payloads with closed-form sample content:
    sample k of doc i is ``((i * 31 + k * 7) % 2003) - 1001`` (int16-range
    sawtooth-ish), n_samples = 800 + (i % 5) * 160 at 16 kHz — recomputable
    by an external oracle with no codec.  One mapInPandas stage."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads, ns = [], []
            for i in ids:
                i = int(i)
                n = 800 + (i % 5) * 160
                k = np.arange(n, dtype=np.int64)
                s = ((i * 31 + k * 7) % 2003 - 1001).astype(np.int16)
                payloads.append(encode_wav(s, 16000))
                ns.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": payloads,
                    "media_type": ["audio/wav"] * len(ids),
                    "n_samples": np.array(ns, dtype="int32"),
                }
            )

    from apache_arrow_spark.session import spread_compute

    # spread before the encode stage (see attach_real_media)
    return spread_compute(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        _gen, "doc_id bigint, payload binary, media_type string, n_samples int"
    )


def audio_features(media_df: DataFrame) -> DataFrame:
    """REAL WAV decode -> per-clip features in exact integer units:
    (doc_id, sample_rate, n_samples, energy_micro, zero_crossings) where
    energy_micro = floor(sum(s^2) * 1e6 / n) — mean square power in
    micro-units — and zero_crossings counts adjacent sign products < 0.
    Integer-exact end-to-end (the q138 channel_stats discipline); decode
    runs batch-wise in mapInPandas."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, ns, energies, zcs = [], [], [], []
            for p in pdf["payload"]:
                rate, s = decode_wav(bytes(p))
                s64 = s.astype(np.int64)
                n = s64.size
                rates.append(rate)
                ns.append(n)
                energies.append(int((s64 * s64).sum()) * 1_000_000 // max(n, 1))
                zcs.append(int((s64[1:] * s64[:-1] < 0).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": np.array(rates, dtype="int32"),
                    "n_samples": np.array(ns, dtype="int32"),
                    "energy_micro": np.array(energies, dtype="int64"),
                    "zero_crossings": np.array(zcs, dtype="int64"),
                }
            )

    return media_df.mapInPandas(
        _stats,
        "doc_id bigint, sample_rate int, n_samples int, "
        "energy_micro bigint, zero_crossings bigint",
    )


def perceptual_dhash_blocks(media_df: DataFrame) -> DataFrame:
    """REAL perceptual hash (dHash) over a binary image column: decode
    BMP/PPM pixels, nearest-neighbor resize to 9x8 with the exact integer
    floor mapping, gray = r+g+b, bit(k) = gray(X+1,Y) > gray(X,Y) over
    the 8x8 difference grid.  The 64 bits are emitted as FOUR 16-bit
    block integers (b0..b3) — signed-int64-safe in any engine and
    exactly the pigeonhole join keys near-duplicate banding needs.
    One mapInPandas pass, embarrassingly parallel."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blocks = [], []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_image_pixels(bytes(p)).astype(np.int64)
                g = resize_pixels(px, 9, 8).sum(axis=-1)
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).ravel()  # 64
                bl = [
                    int(sum(bits[b * 16 + j] << j for j in range(16)))
                    for b in range(4)
                ]
                ids.append(int(i))
                blocks.append(bl)
            arr = np.array(blocks, dtype="int64") if blocks else np.zeros((0, 4), "int64")
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "b0": arr[:, 0],
                    "b1": arr[:, 1],
                    "b2": arr[:, 2],
                    "b3": arr[:, 3],
                }
            )

    return media_df.mapInPandas(
        _hash, "doc_id bigint, b0 int, b1 int, b2 int, b3 int"
    )


def image_near_duplicates(
    media_df: DataFrame, max_hamming: int = 2
) -> DataFrame:
    """Image near-duplicates by perceptual dHash, reported at CLUSTER
    level: images with the IDENTICAL 64-bit hash collapse to one
    representative (min doc id) FIRST, then the pigeonhole block
    equi-join (hamming <= 2 over 4 blocks forces >= 2 identical blocks,
    so any single-block match is a complete candidate generator) and the
    exact XOR-popcount verify run over REPRESENTATIVES only.

    Returns rows (id_a, id_b, hamming, n_pairs):
    - (rep, rep, 0, C(n,2)) for every identical-hash group of n >= 2 —
      the exact-duplicate mass;
    - (rep_a, rep_b, h, n_a * n_b) for representative pairs at
      0 < h <= max_hamming — each row carries the count of underlying
      image pairs it stands for.

    The representative collapse is the scale fix the two-point harness
    demanded: pair-listing over raw ids is QUADRATIC in duplicate-group
    size (measured alpha 1.9 on the sf0.01->sf0.1 shuffle curve), while
    group sizes aggregate linearly and the distinct-hash join space
    stays small — the same reason production image dedup reports
    clusters, not pairs."""
    h = perceptual_dhash_blocks(media_df)
    groups = h.groupBy("b0", "b1", "b2", "b3").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n")
    )
    exact = groups.filter(F.col("n") >= 2).select(
        F.col("rep").alias("id_a"),
        F.col("rep").alias("id_b"),
        F.lit(0).cast("int").alias("hamming"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias("n_pairs"),
    )
    from apache_arrow_spark.session import compute_parallelism

    # explicit repartition on the pigeonhole join keys: the group table's
    # exchange is byte-small (5 ints/row) so AQE coalesces it to 1-2
    # tasks — but the block self-join's work amplifies to candidate-pair
    # volume the byte costing cannot see (the q248/q263 class; measured
    # one 0.86 s single-task stage at sf0.1).  A user repartition is
    # coalesce-exempt and is exactly the join's hash partitioning.
    blocks = groups.select(
        "rep",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("blk"), F.col(f"b{b}").alias("v"))
                    for b in range(4)
                ]
            )
        ).alias("e"),
    ).select("rep", "n", "e.blk", "e.v")
    blocks = blocks.repartition(compute_parallelism(media_df.sparkSession), "blk", "v")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.rep").alias("id_a"),
            F.col("b.rep").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    ga = groups.select(
        F.col("rep").alias("id_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    gb = groups.select(
        F.col("rep").alias("id_b"),
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"bb{i}")).cast("bigint"))
        for i in range(4)
    )
    near = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            ham.cast("int").alias("hamming"),
            (F.col("na") * F.col("nb")).cast("bigint").alias("n_pairs"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return exact.unionByName(near)


def decimate_audio(media_df: DataFrame) -> DataFrame:
    """REAL audio downsampling: decode each WAV payload, decimate by 2
    with pair averaging (d[j] = floor((s[2j] + s[2j+1]) / 2) — the
    box-filter anti-alias step before dropping samples), and RE-ENCODE
    at half the rate.  One mapInPandas stage; at 100 TB this is the
    canonical rate-normalization pass before audio feature extraction
    (16 kHz corpora downsampled for bandwidth-limited models)."""

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads, rates, ns = [], [], [], []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav(bytes(p))
                n2 = (len(s) // 2) * 2
                pair = s[:n2].astype(np.int64).reshape(-1, 2)
                d = (pair.sum(axis=1) // 2).astype(np.int16)
                payloads.append(encode_wav(d, rate // 2))
                ids.append(int(i))
                rates.append(rate // 2)
                ns.append(len(d))
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype="int64"),
                    "payload": payloads,
                    "sample_rate": np.array(rates, dtype="int32"),
                    "n_samples": np.array(ns, dtype="int32"),
                }
            )

    return media_df.mapInPandas(
        _dec, "doc_id bigint, payload binary, sample_rate int, n_samples int"
    )


def equalize_image(media_df: DataFrame) -> DataFrame:
    """REAL per-channel histogram equalization (the classic contrast
    normalization): for each image channel, v' = floor(255 * (cdf(v) -
    cdf_min) / (n_pixels - cdf_min)) with the all-one-value degenerate
    case mapping to 0.  Decode -> remap -> re-encode in the source
    container, one mapInPandas pass — the canonical per-image
    normalization applied before visual feature extraction."""

    def _eq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for p in pdf["payload"]:
                raw = bytes(p)
                px = decode_image_pixels(raw)
                out = np.empty_like(px)
                npix = px.shape[0] * px.shape[1]
                for c in range(3):
                    ch = px[:, :, c]
                    hist = np.bincount(ch.ravel(), minlength=256)
                    cdf = hist.cumsum()
                    cdf_min = int(cdf[np.nonzero(hist)[0][0]])
                    denom = npix - cdf_min
                    if denom <= 0:
                        out[:, :, c] = 0
                    else:
                        lut = np.floor(
                            255.0 * (cdf - cdf_min) / denom
                        ).astype(np.int64).clip(0, 255).astype(np.uint8)
                        out[:, :, c] = lut[ch]
                payloads.append(
                    encode_bmp(out) if raw[:2] == b"BM" else encode_ppm(out)
                )
            o = pdf.copy()
            o["payload"] = payloads
            yield o

    return media_df.mapInPandas(_eq, MEDIA_SCHEMA)
