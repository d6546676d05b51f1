"""Multimodal (image/audio/video) column operators.

Media travel as opaque ``binary`` columns with a typed metadata
struct; all per-item work runs in Arrow-batched ``mapInPandas`` stages
(one pandas frame per Arrow batch — never row-at-a-time Python UDFs).

Decode status by modality:

- **image**: REAL for PNG via the dependency-free pure-NumPy codec
  (functions/png.py); other formats (they need PIL) degrade to the
  deterministic byte-digest fake.
- **audio**: REAL for PCM WAV via stdlib ``wave``; other formats raise
  NotImplementedError (libsndfile/ffmpeg).
- **video**: REAL for animated GIF via the dependency-free LZW codec
  (functions/gif.py, validated against Java ImageIO both directions);
  frame sampling decodes actual pixels. Other containers (mp4/webm)
  need ffmpeg and degrade to the deterministic byte-digest fake.

Unsupported blobs inside a supported operator degrade to
deterministic byte-stats rather than killing the Arrow batch.

Scale notes: media blobs dominate bytes, so operators repartition by
``xxhash64(media_id)`` (uniform, no conv skew) and column-prune before
the Arrow stage; feature outputs are fixed-width so downstream joins
shuffle features, never blobs.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("data", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)

_MAGIC = b"FAKEMEDIA1"


def encode_fake_blob(kind: str, seed: int, n_payload: int = 256) -> bytes:
    """Deterministic fixture blob: magic + kind + seeded bytes."""
    rng = np.random.default_rng(seed)
    return _MAGIC + kind.encode() + b"\x00" + rng.integers(
        0, 256, size=n_payload, dtype=np.uint8
    ).tobytes()


def _fake_pixel_stats(data: bytes) -> tuple:
    """Deterministic fake decode: stats derived from the blob bytes —
    stable across runs/executors (no RNG, no time)."""
    digest = hashlib.sha256(data).digest()
    arr = np.frombuffer(data[-min(len(data), 256):], dtype=np.uint8)
    return (
        float(arr.mean()) if len(arr) else 0.0,
        float(arr.std()) if len(arr) else 0.0,
        int.from_bytes(digest[:8], "big", signed=True),
    )


def image_features(media: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Decode images and emit fixed-width features: pixel mean/std and
    a 64-bit average-hash. PNGs take the REAL decode path (pure-NumPy
    codec); non-PNG blobs fall back to the deterministic byte-stat
    fake so unsupported formats degrade instead of killing the batch."""
    ddl = ("media_id long, width int, height int, mean_byte double, "
           "std_byte double, phash long")

    def _stats(data: bytes) -> tuple:
        from .png import PNG_MAGIC, ahash64, decode_png

        if bytes(data[:8]) == PNG_MAGIC:
            try:
                px = decode_png(data).astype(np.float64)
                return (float(px.mean()), float(px.std()), ahash64(px))
            except Exception:  # unsupported variant / corrupt stream
                pass  # degrade to byte stats, never kill the batch
        return _fake_pixel_stats(data)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [_stats(b) for b in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "width": pdf["width"].to_numpy(),
                    "height": pdf["height"].to_numpy(),
                    "mean_byte": np.asarray([s[0] for s in stats]),
                    "std_byte": np.asarray([s[1] for s in stats]),
                    "phash": np.asarray([s[2] for s in stats], dtype=np.int64),
                }
            )

    pruned = (
        media.filter(F.col("kind") == "image")
        .select(
            "media_id", "data",
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
        )
        .repartition(num_partitions, F.xxhash64("media_id"))
    )
    return pruned.mapInPandas(fn, ddl)


def frame_stats(px: np.ndarray) -> tuple:
    """(mean, std, digest16) of one decoded frame — shared by the
    operator and the golden writer so feature formulas live once."""
    f = px.astype(np.float64)
    return (
        float(f.mean()),
        float(f.std()),
        hashlib.sha256(np.ascontiguousarray(px).tobytes()).hexdigest()[:16],
    )


def sample_frames(media: DataFrame, every_k: int = 10,
                  num_partitions: int = 32) -> DataFrame:
    """Video frame sampling: one output row per sampled frame index
    (0, k, 2k, ...). GIF blobs take the REAL path — LZW-decode once
    per item, then per-sampled-frame pixel mean/std and a digest of
    the actual pixel bytes (decoded=true). Non-GIF containers degrade
    to the deterministic byte-digest fake with n_frames taken from
    metadata (decoded=false) — the batch never dies on a format this
    container can't decode."""
    ddl = ("media_id long, frame_idx int, frame_mean double, "
           "frame_std double, frame_digest string, decoded boolean")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .gif import GIF_MAGIC, decode_gif

        for pdf in batches:
            ids, idxs, means, stds, digs, dec = [], [], [], [], [], []
            for mid, data, n_frames in zip(
                pdf["media_id"], pdf["data"], pdf["n_frames"]
            ):
                frames = None
                if bytes(data[:4]) == GIF_MAGIC:
                    try:
                        frames, _pal = decode_gif(bytes(data))
                    except Exception:  # unsupported variant / corrupt
                        frames = None  # degrade, never kill the batch
                if frames is not None:
                    for fi in range(0, len(frames), every_k):
                        m, s, d = frame_stats(frames[fi])
                        ids.append(mid); idxs.append(fi)
                        means.append(m); stds.append(s)
                        digs.append(d); dec.append(True)
                    continue
                # degrade path: n_frames arrives as float64 (nullable
                # long -> pandas) and may be NaN for an unknown
                # container — emit nothing rather than ValueError the
                # whole Arrow batch; the blob-wide stats are frame-
                # independent, so compute them once, not per frame
                if pd.isna(n_frames):
                    continue
                m, s, _ = _fake_pixel_stats(bytes(data))
                for fi in range(0, int(n_frames), every_k):
                    ids.append(mid); idxs.append(fi)
                    means.append(m); stds.append(s)
                    digs.append(
                        hashlib.sha256(
                            bytes(data) + fi.to_bytes(4, "big")
                        ).hexdigest()[:16]
                    )
                    dec.append(False)
            yield pd.DataFrame(
                {"media_id": ids,
                 "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_mean": np.asarray(means, dtype=np.float64),
                 "frame_std": np.asarray(stds, dtype=np.float64),
                 "frame_digest": digs,
                 "decoded": dec}
            )

    pruned = (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id", "data", F.col("meta.n_frames").alias("n_frames")
        )
        .repartition(num_partitions, F.xxhash64("media_id"))
    )
    return pruned.mapInPandas(fn, ddl)


def gen_media_rows(n_items: int = 60, seed: int = 42) -> list:
    """Deterministic media fixture rows (no Spark). Image blobs are
    REAL PNGs (pure-NumPy codec), audio blobs are REAL PCM WAVs
    (stdlib wave), and video blobs are REAL animated GIFs (pure LZW
    codec) — all three decode paths exercise actual samples. Every
    6th video stays an undecodable fake container to keep the
    degrade-don't-die path exercised."""
    from .gif import encode_gif
    from .png import encode_png

    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n_items):
        kind = kinds[i % 3]
        if kind == "audio":
            n = int(rng.integers(800, 4000))
            t = np.arange(n, dtype=np.float64)
            freq = float(rng.uniform(0.01, 0.2))
            samples = (
                10000 * np.sin(2 * np.pi * freq * t)
                + rng.integers(-500, 500, size=n)
            ).astype(np.int16)
            blob = bytearray(encode_wav(samples, 16000))
            meta = (None, None, 16000, None, "wav")
        elif kind == "image":
            w = int(rng.integers(12, 48))
            h = int(rng.integers(12, 48))
            ch = (1, 3, 4)[int(rng.integers(0, 3))]
            px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            # structured content: a gradient band so ahash is non-trivial
            px[: h // 2, :, 0] = np.linspace(0, 255, w, dtype=np.uint8)
            blob = bytearray(encode_png(px))
            meta = (w, h, None, None, "png")
        elif i % 18 == 17:  # fake container: degrade path stays tested
            blob = bytearray(encode_fake_blob(kind, seed * 10007 + i))
            meta = (None, None, None, int(rng.integers(30, 120)), "fake_mp4")
        else:
            w = int(rng.integers(12, 32))
            h = int(rng.integers(12, 32))
            n_frames = int(rng.integers(8, 40))
            base = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            frames = []
            for fi in range(n_frames):
                fr = np.roll(base, fi, axis=1)  # motion: horizontal pan
                fr[0, :] = (np.arange(w) * 3 + fi * 11) % 256  # per-frame row
                frames.append(fr.astype(np.uint8))
            blob = bytearray(encode_gif(frames))
            meta = (w, h, None, n_frames, "gif")
        rows.append((i, f"conv-{i % 7:06d}", i % 5, kind, blob, meta))
    return rows


def gen_media_fixture(spark, n_items: int = 60, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(gen_media_rows(n_items, seed), MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# audio: real PCM WAV path (stdlib `wave` — no external codec needed)

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode int16 mono samples as a PCM WAV blob (stdlib wave)."""
    import io
    import wave

    arr = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def decode_audio_real(data: bytes):
    """Real audio decode: PCM WAV via stdlib wave. Returns
    (samples int16[n], sample_rate). Non-WAV formats need codecs this
    container doesn't ship."""
    import io
    import wave

    if bytes(data[:4]) != b"RIFF":
        raise NotImplementedError(
            "non-WAV audio decode requires libsndfile/ffmpeg (not "
            "installed here); wire soundfile.read(io.BytesIO(data))"
        )
    with wave.open(io.BytesIO(bytes(data)), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        frames = np.frombuffer(w.readframes(w.getnframes()), dtype=np.int16)
        if w.getnchannels() > 1:
            frames = frames.reshape(-1, w.getnchannels()).mean(axis=1)
            frames = frames.astype(np.int16)
        return frames, w.getframerate()


def audio_features(media: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Decode audio and emit fixed-width features: duration, RMS
    level, zero-crossing rate, peak amplitude. WAV blobs take the
    REAL decode path; other formats fall back to deterministic
    byte-stats (degrade, don't die)."""
    ddl = ("media_id long, sample_rate int, duration_sec double, "
           "rms double, zcr double, peak int")

    def _stats(data: bytes) -> tuple:
        if bytes(data[:4]) == b"RIFF":
            try:
                s, rate = decode_audio_real(data)
                f = s.astype(np.float64)
                zc = np.count_nonzero(np.signbit(f[1:]) != np.signbit(f[:-1]))
                return (
                    rate,
                    len(s) / rate if rate else 0.0,
                    float(np.sqrt((f ** 2).mean())) if len(f) else 0.0,
                    zc / max(len(s) - 1, 1),
                    int(np.abs(s).max()) if len(s) else 0,
                )
            except Exception:  # RIFF but not PCM16 WAV (WEBP/AVI/8-bit)
                pass  # degrade to byte stats, never kill the batch
        m, sd, _ = _fake_pixel_stats(data)
        return (0, 0.0, m, sd / 255.0, 0)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [_stats(b) for b in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "sample_rate": pd.array([s[0] for s in stats], dtype="int32"),
                    "duration_sec": np.asarray([s[1] for s in stats]),
                    "rms": np.asarray([s[2] for s in stats]),
                    "zcr": np.asarray([s[3] for s in stats]),
                    "peak": pd.array([s[4] for s in stats], dtype="int32"),
                }
            )

    pruned = (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "data")
        .repartition(num_partitions, F.xxhash64("media_id"))
    )
    return pruned.mapInPandas(fn, ddl)
