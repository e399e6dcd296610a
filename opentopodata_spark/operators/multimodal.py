"""Multimodal (media) span processing: real Spark plumbing, stubbed codecs.

The input documents interleave text and media spans (BASELINE.json
input_hint: spans may carry ``media_ref`` instead of text). This module
gives media spans the same first-class treatment text gets:

* ``media_spans``: posexplode + filter — the media twin of the text-span
  explode in operators/extract, preserving (doc_id, span_pos) so the
  span-sequence invariant survives.
* ``fetch_media``: resolves media_ref -> binary payload. In production
  this reads an object store / an Iceberg binary column; here the
  fetcher is injectable and the default is a deterministic fake
  (seeded bytes derived from the ref) so the batch shape, schema and
  partitioning are real and testable.
* ``decode_and_featurize``: mapInPandas over Arrow batches producing
  typed metadata + a feature vector per media item. ``decoder='real'``
  REALLY decodes PNG, baseline JPEG, WAV/PCM, and Y4M uncompressed-video
  payloads (pure-numpy codecs in png.py / jpeg.py / wav.py / y4m.py) and
  computes pixel-, audio- or frame-statistics features; payloads in
  codecs the container genuinely lacks libraries for (H.264-class
  compressed video, compressed WAV) degrade
  to ``media_kind='unsupported'`` with null features — at corpus scale undecodable blobs are data, not
  exceptions, and the PIL/ffmpeg seam to widen codec coverage is marked
  in ``_decode_real``. ``decoder='fake'`` keeps the hash-derived
  pseudo-features (cheap plumbing tests).

Scale notes: media blobs dominate bytes at 100 TB. ``fetch_media`` takes
an explicit ``partitions`` count for exactly that reason — size it by
payload BYTES with ``plan_fetch_partitions`` (from catalog stats: object
-store HEAD sizes, an Iceberg size column), never by row count. The
fixture-scale driver query leaves it at None (a few thousand tiny
payloads need no repartition); a production caller must not. The
pipeline never shuffles decoded payloads — features (small) are what
flows onward.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import jpeg as _jpeg
from .. import png as _png
from .. import wav as _wav
from .. import y4m as _y4m

__all__ = [
    "media_spans",
    "fetch_media",
    "decode_and_featurize",
    "image_features",
    "audio_features",
    "video_features",
    "synthetic_wav_payload",
    "synthetic_y4m_payload",
    "plan_fetch_partitions",
    "synthetic_png_payload",
    "synthetic_media_payload",
    "FEATURE_DIM",
]

FEATURE_DIM = 8

_FETCH_SCHEMA = "doc_id string, span_pos int, media_ref string, payload binary"
_FEAT_SCHEMA = (
    "doc_id string, span_pos int, media_ref string, media_kind string,"
    " n_bytes long, width int, height int, features array<float>"
)


def media_spans(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, span_pos, media_ref) for media spans only."""
    return (
        documents.select("doc_id", F.posexplode("spans").alias("span_pos", "span"))
        .where(F.col("span.kind") == "media")
        .select("doc_id", "span_pos", F.col("span.media_ref").alias("media_ref"))
    )


def _fake_payload(ref: str) -> bytes:
    """Deterministic stand-in for an object-store GET (seeded by ref)."""
    seed = hashlib.sha256(ref.encode()).digest()
    reps = 1 + seed[0] % 4
    return seed * reps


def synthetic_png_payload(ref: str) -> bytes:
    """Deterministic object-store stand-in that returns REAL media bytes:
    ~3 of 4 refs yield a valid PNG (seeded gradient+noise image, mixed
    scanline filters so every unfilter path runs), the rest yield opaque
    non-PNG bytes standing in for codecs this container has no decoder
    for (JPEG/audio/video) — so the decode stage always sees the mixed
    corpus it would see in production."""
    seed = hashlib.sha256(ref.encode()).digest()
    if seed[0] % 4 == 0:
        return _fake_payload(ref)
    rng = np.random.default_rng(int.from_bytes(seed[:8], "little"))
    w = 8 + seed[1] % 25
    h = 8 + seed[2] % 25
    channels = (1, 3, 4)[seed[3] % 3]
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(h - 1, 1) + xx * 255 // max(w - 1, 1)) // 2
    img = (
        base[:, :, None] + rng.integers(-20, 21, size=(h, w, channels))
    ).clip(0, 255).astype(np.uint8)
    return _png.encode_png(img, filter_type="mixed")


def synthetic_wav_payload(ref: str) -> bytes:
    """Deterministic REAL audio payload: a seeded sine + noise mix at a
    varied sample rate / bit depth / channel count, through the
    pure-numpy PCM encoder in wav.py."""
    seed = hashlib.sha256(ref.encode()).digest()
    rng = np.random.default_rng(int.from_bytes(seed[:8], "little"))
    rate = (8000, 16000, 44100)[seed[1] % 3]
    n = rate // 20 + int(seed[2]) * 8  # 50ms + jitter
    channels = 1 + seed[3] % 2
    t = np.arange(n) / rate
    freq = 100.0 + (seed[4] % 40) * 20.0
    base = 0.6 * np.sin(2 * np.pi * freq * t)
    sig = base[:, None] + 0.1 * rng.standard_normal((n, channels))
    kind = seed[6] % 5
    if kind == 2:  # telephony G.711
        return _wav.encode_wav_compressed(
            sig, rate, codec=("ulaw", "alaw")[seed[7] % 2]
        )
    if kind == 3:
        return _wav.encode_wav_compressed(sig, rate, codec="ima_adpcm")
    return _wav.encode_wav(sig, rate, bits=(8, 16)[seed[5] % 2])


def synthetic_y4m_payload(ref: str) -> bytes:
    """Deterministic REAL video payload: a seeded Y4M stream (2-13
    frames, varied even dims, 420/422/444/mono colorspaces) whose luma
    is a gradient drifting frame-to-frame — real motion for the motion
    feature — through the pure-numpy encoder in y4m.py."""
    seed = hashlib.sha256(ref.encode()).digest()
    rng = np.random.default_rng(int.from_bytes(seed[:8], "little"))
    w = 8 + 2 * (seed[1] % 13)
    h = 8 + 2 * (seed[2] % 13)
    n = 2 + seed[3] % 12
    cs = ("420jpeg", "422", "444", "mono")[seed[4] % 4]
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(h - 1, 1) + xx * 255 // max(w - 1, 1)) // 2
    drift = rng.integers(-8, 9, size=(n, 1, 1))
    y = (
        base[None] + np.cumsum(drift, axis=0)
        + rng.integers(-10, 11, size=(n, h, w))
    ).clip(0, 255).astype(np.uint8)
    if cs == "mono":
        u = v = None
    else:
        dw, dh = {"420jpeg": (2, 2), "422": (2, 1), "444": (1, 1)}[cs]
        shape = (n, h // dh, w // dw)
        u = rng.integers(96, 161, size=shape).astype(np.uint8)
        v = rng.integers(96, 161, size=shape).astype(np.uint8)
    fps = ((25, 1), (30000, 1001), (24, 1))[seed[5] % 3]
    return _y4m.encode_y4m(y, u, v, fps=fps, colorspace=cs)


def synthetic_media_payload(ref: str) -> bytes:
    """Deterministic object-store stand-in for a MIXED crawl corpus:
    roughly 3/8 of refs yield a PNG, 2/8 a JPEG (the dominant web media
    type — 4:4:4 or 4:2:0, color or grayscale, some with restart
    markers, ~1/3 progressive SOF2, all through the pure-numpy encoder
    in jpeg.py),
    1/8 a PCM WAV (wav.py), 1/8 a Y4M video (y4m.py), and 1/8 opaque
    bytes standing in for codecs with no in-container decoder
    (H.264-class video, exotic audio). Every decoder branch of
    ``_decode_real`` sees data."""
    seed = hashlib.sha256(ref.encode()).digest()
    sel = seed[0] % 8
    if sel == 0:
        return _fake_payload(ref)
    if sel == 1:
        return synthetic_y4m_payload(f"y4m:{ref}")
    if sel < 5:
        return synthetic_png_payload(f"png:{ref}")
    if sel == 7:
        return synthetic_wav_payload(f"wav:{ref}")
    rng = np.random.default_rng(int.from_bytes(seed[:8], "little"))
    w = 8 + seed[1] % 41
    h = 8 + seed[2] % 41
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(h - 1, 1) + xx * 255 // max(w - 1, 1)) // 2
    if seed[3] % 4 == 0:  # grayscale JPEG
        img = (base + rng.integers(-15, 16, size=(h, w))).clip(0, 255)
        return _jpeg.encode_jpeg(
            img.astype(np.uint8), quality=70 + seed[4] % 26
        )
    img = (
        base[:, :, None] + rng.integers(-15, 16, size=(h, w, 3))
    ).clip(0, 255).astype(np.uint8)
    if seed[7] % 3 == 0:  # ~1/3 of color JPEGs are progressive (SOF2)
        return _jpeg.encode_jpeg(
            img,
            quality=70 + seed[4] % 26,
            subsampling="420" if seed[5] % 2 else "444",
            progressive=True,
        )
    return _jpeg.encode_jpeg(
        img,
        quality=70 + seed[4] % 26,
        subsampling="420" if seed[5] % 2 else "444",
        restart_interval=seed[6] % 3,  # 0 = none, else every 1-2 MCUs
    )


def plan_fetch_partitions(
    n_items: int,
    avg_payload_bytes: float,
    target_bytes_per_task: int = 128 << 20,
) -> int:
    """Fetch-stage partition count sized by BYTES, not rows.

    Media payloads span orders of magnitude (a thumbnail vs a video), so
    row-count sizing makes blob-heavy tasks straggle or OOM while
    thumbnail tasks finish instantly. Size on expected bytes per task
    instead; the estimate comes from catalog metadata (object-store HEAD
    sizes, an Iceberg size column) or a sampled pre-pass — never from
    fetching the blobs themselves."""
    if n_items <= 0:
        return 1
    total = n_items * max(avg_payload_bytes, 1.0)
    return max(1, int(-(-total // target_bytes_per_task)))


def fetch_media(spans: DataFrame, fetcher=None, partitions: int | None = None) -> DataFrame:
    """Attach binary payloads to media spans via mapInPandas.

    fetcher: Callable[[str], bytes]; default = deterministic fake.
    The repartition isolates fetch I/O into its own stage so slow blobs
    don't convoy the text pipeline.
    """
    fetch = fetcher or _fake_payload

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                None if r is None else fetch(r) for r in pdf["media_ref"]
            ]
            yield pdf

    df = spans if partitions is None else spans.repartition(partitions, "media_ref")
    return df.mapInPandas(run, _FETCH_SCHEMA)


def image_features(img: np.ndarray) -> np.ndarray:
    """FEATURE_DIM pixel-statistics features from a (h, w, c) uint8 image:
    overall mean + std, the four quadrant means (coarse spatial layout),
    channel count, and aspect ratio — all normalized to [0, 1]."""
    h, w, c = img.shape
    g = img.mean(axis=2)
    hy, hx = max(h // 2, 1), max(w // 2, 1)
    return np.array(
        [
            g.mean() / 255.0,
            g.std() / 255.0,
            g[:hy, :hx].mean() / 255.0,
            g[:hy, hx:].mean() / 255.0 if w > 1 else g[:hy, :hx].mean() / 255.0,
            g[hy:, :hx].mean() / 255.0 if h > 1 else g[:hy, :hx].mean() / 255.0,
            g[hy:, hx:].mean() / 255.0 if h > 1 and w > 1 else g.mean() / 255.0,
            c / 4.0,
            min(w, h) / max(w, h),
        ],
        dtype=np.float32,
    )


def audio_features(samples: np.ndarray, rate: int) -> np.ndarray:
    """FEATURE_DIM audio-statistics features from (n_frames, channels)
    float64 samples in [-1, 1]: RMS, peak, zero-crossing rate, mean |x|,
    std, duration (capped at 60 s), channel count, sample rate — all
    normalized to [0, 1]. The mono mix drives the waveform stats."""
    mono = samples.mean(axis=1)
    n = len(mono)
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
    return np.array(
        [
            min(float(np.sqrt(np.mean(mono**2))) if n else 0.0, 1.0),
            min(float(np.abs(mono).max()) if n else 0.0, 1.0),
            zcr,
            min(float(np.abs(mono).mean()) if n else 0.0, 1.0),
            min(float(mono.std()) if n else 0.0, 1.0),
            min(n / rate / 60.0, 1.0),
            samples.shape[1] / 8.0,
            rate / 96000.0,
        ],
        dtype=np.float32,
    )


_VIDEO_SAMPLE_FRAMES = 16


def video_features(y, u, v, meta, n_frames: int) -> np.ndarray:
    """FEATURE_DIM frame-statistics features from decoded Y4M planes.

    Frame SAMPLING, not full-scan: statistics run over at most
    ``_VIDEO_SAMPLE_FRAMES`` frames picked by an even linspace over the
    stream (the deterministic frame-sample step a training pipeline
    applies before any per-frame model) — a 2-hour clip costs the same
    as a 2-second one. Features: frame count (capped), duration, width,
    height, mean/std luma of sampled frames, motion (mean |luma diff|
    between consecutive sampled frames), chroma mean (0.5 for mono) —
    all normalized to [0, 1]."""
    idx = np.unique(
        np.linspace(0, n_frames - 1, min(n_frames, _VIDEO_SAMPLE_FRAMES))
        .astype(np.int64)
    )
    ys = y[idx].astype(np.float64)
    motion = (
        float(np.abs(np.diff(ys, axis=0)).mean()) if len(idx) > 1 else 0.0
    )
    if u is None:
        chroma = 0.5
    else:
        chroma = float(
            (u[idx].astype(np.float64).mean() + v[idx].astype(np.float64).mean())
            / 2.0
        ) / 255.0
    duration = n_frames * meta.fps_den / meta.fps_num
    return np.array(
        [
            min(n_frames / 1000.0, 1.0),
            min(duration / 60.0, 1.0),
            min(meta.width / 4096.0, 1.0),
            min(meta.height / 4096.0, 1.0),
            float(ys.mean()) / 255.0,
            float(ys.std()) / 128.0,
            motion / 255.0,
            chroma,
        ],
        dtype=np.float32,
    )


def _decode_real(b: bytes):
    """(kind, width, height, features) for one payload. PNG, JPEG
    (baseline, progressive, arithmetic-coded, 12-bit), JPEG 2000,
    WAV/PCM, and Y4M video decode for real (pure-numpy codecs in
    png.py / jpeg.py / jpeg_arith.py / jp2.py / wav.py / y4m.py);
    codecs with no in-container decoder (H.264-class compressed video,
    CMYK JPEG) degrade to 'unsupported' + nulls instead of failing the
    job (undecodable blobs are data at corpus scale). Widening coverage
    = add a sniffer + decoder branch here."""
    if b[:4] == b"\xff\x4f\xff\x51" or (
            len(b) > 12 and b[4:12] == b"jP\x20\x20\x0d\x0a\x87\x0a"):
        from .. import jp2 as _jp2

        try:
            arr, _geo = _jp2.decode_jp2(bytes(b))
        except _jp2.Jp2Error as exc:
            if "not supported" in str(exc):
                return "unsupported", None, None, None
            return "corrupt", None, None, None
        # deep (16-bit) samples scale into the uint8 feature space
        if arr.dtype != np.uint8:
            a64 = arr.astype(np.float64)
            lo, hi = float(a64.min()), float(a64.max())
            arr = np.zeros_like(a64, dtype=np.uint8) if hi == lo else (
                ((a64 - lo) * (255.0 / (hi - lo))).astype(np.uint8))
        img = arr[:, :, None]
        h, w, _c = img.shape
        return "image", w, h, image_features(img)
    if _png.is_png(b):
        try:
            img = _png.decode_png(b)
        except _png.PngError:
            return "corrupt", None, None, None
        h, w, _c = img.shape
        return "image", w, h, image_features(img)
    if _jpeg.is_jpeg(b):
        try:
            img = _jpeg.decode_jpeg(b)
            if img.dtype == np.uint16:  # 12-bit samples -> uint8 space
                img = (img >> 4).astype(np.uint8)
        except _jpeg.JpegError as exc:
            # distinguish broken bytes from honest feature gaps: an
            # unsupported-but-valid JPEG flavor (CMYK, hierarchical)
            # is 'unsupported'; anything else failing to parse is 'corrupt'
            if "not supported" in str(exc) or "unsupported" in str(exc):
                return "unsupported", None, None, None
            return "corrupt", None, None, None
        h, w, _c = img.shape
        return "image", w, h, image_features(img)
    if _wav.is_wav(b):
        try:
            samples, rate = _wav.decode_wav(b)
        except _wav.WavError as exc:
            # compressed/exotic WAV is an honest feature gap, broken
            # RIFF bytes are corrupt data
            if "not supported" in str(exc):
                return "unsupported", None, None, None
            return "corrupt", None, None, None
        # width/height are image dims; audio carries its shape in the
        # feature vector (duration, channels, rate)
        return "audio", None, None, audio_features(samples, rate)
    if _y4m.is_y4m(b):
        try:
            y, u, v, meta = _y4m.decode_y4m(b)
        except _y4m.Y4mError as exc:
            # interlaced/10-bit Y4M is an honest feature gap; broken
            # stream bytes are corrupt data
            if "not supported" in str(exc):
                return "unsupported", None, None, None
            return "corrupt", None, None, None
        return (
            "video", meta.width, meta.height,
            video_features(y, u, v, meta, y.shape[0]),
        )
    return "unsupported", None, None, None


def decode_and_featurize(fetched: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode payloads and extract fixed-dim features (Arrow-batched).

    decoder='real' decodes PNG/JPEG/WAV payloads with the pure-numpy
    codecs and computes pixel- or audio-statistics features; payloads in
    other codecs degrade to 'unsupported' (see _decode_real for the
    PIL/ffmpeg seam).
    decoder='fake' derives deterministic metadata + features from the
    payload hash (cheap plumbing tests).
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"Unknown decoder '{decoder}'.")

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            kinds, widths, heights, feats, nbytes = [], [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    kinds.append(None)
                    widths.append(None)
                    heights.append(None)
                    feats.append(None)
                    nbytes.append(0)
                    continue
                b = bytes(payload)
                if decoder == "real":
                    kind, w, h, fv = _decode_real(b)
                    kinds.append(kind)
                    widths.append(w)
                    heights.append(h)
                    feats.append(fv)
                    nbytes.append(len(b))
                    continue
                h = hashlib.sha256(b).digest()
                kinds.append(["image", "audio", "video"][h[0] % 3])
                widths.append(16 + h[1] % 240)
                heights.append(16 + h[2] % 240)
                feats.append(
                    (np.frombuffer(h[:FEATURE_DIM * 4], dtype=np.uint8)
                     .reshape(FEATURE_DIM, 4)
                     .sum(axis=1)
                     .astype(np.float32) / 1020.0)
                )
                nbytes.append(len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "span_pos": pdf["span_pos"],
                    "media_ref": pdf["media_ref"],
                    "media_kind": kinds,
                    "n_bytes": np.array(nbytes, dtype=np.int64),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "features": feats,
                }
            )

    return fetched.mapInPandas(run, _FEAT_SCHEMA)
