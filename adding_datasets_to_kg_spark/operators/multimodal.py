"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

Image decode is REAL when Pillow is importable (optional dependency,
gated by ``HAS_PIL``): payloads that decode as images go through
``PIL.Image`` for pixel features and resampling. Payloads that don't
decode — and every payload when Pillow is absent, as in this container —
fall back to a clearly-marked deterministic stub, so the Spark-side
contract (schema, batch iteration, partition sizing, UDF signatures) is
identical on both paths and the synthetic-corpus oracles stay
reproducible (synthetic payloads are utf-8 text, never decodable images).
Audio decode is real when ``soundfile`` is importable (``HAS_AUDIO``) and
video decode when PyAV is (``HAS_VIDEO``) — same gating structure: absent
lib or undecodable payload → the deterministic stub, identical Spark-side
contract either way. Neither lib ships in this container, so the real
paths are exercised by skipif-gated tests (tests/test_multimodal.py).

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` low enough that
batch_rows × max_payload fits worker memory. mapInPandas streams batches —
no per-partition materialization.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # optional dependency — decode degrades to the deterministic stub
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised when Pillow is installed
    _PILImage = None
    HAS_PIL = False

try:  # optional dependency — audio decode (same gating pattern as Pillow)
    import soundfile as _soundfile

    HAS_AUDIO = True
except ImportError:  # pragma: no cover - exercised when soundfile is installed
    _soundfile = None
    HAS_AUDIO = False

try:  # optional dependency — video decode via PyAV/ffmpeg
    import av as _av

    HAS_VIDEO = True
except ImportError:  # pragma: no cover - exercised when PyAV is installed
    _av = None
    HAS_VIDEO = False


def decode_image(payload: bytes):
    """Decode an image payload to an RGB numpy array (H, W, 3), or None when
    the payload is not a decodable image or Pillow is absent. The None
    return is the signal to take the deterministic stub path — callers stay
    byte-for-byte reproducible on non-image payloads either way."""
    if not HAS_PIL or payload is None:
        return None
    import io

    import numpy as np

    try:
        with _PILImage.open(io.BytesIO(bytes(payload))) as im:
            return np.asarray(im.convert("RGB"))
    except Exception:  # noqa: BLE001 — any undecodable payload → stub path
        return None


def decode_audio(payload: bytes):
    """Decode an audio payload to (mono float32 samples, sample_rate), or
    None when the payload is not decodable audio or soundfile is absent —
    the signal to take the deterministic stub path (mirrors
    :func:`decode_image`)."""
    if not HAS_AUDIO or payload is None:
        return None
    import io

    try:
        samples, sr = _soundfile.read(io.BytesIO(bytes(payload)), dtype="float32")
        if samples.ndim > 1:  # downmix to mono for the feature contract
            samples = samples.mean(axis=1)
        return samples, int(sr)
    except Exception:  # noqa: BLE001 — any undecodable payload → stub path
        return None


def decode_video_frames(payload: bytes, frame_stride_ms: int = 1000):
    """Decode a video payload to a list of (ms, rgb ndarray) sampled every
    ``frame_stride_ms``, or None when the payload is not decodable video or
    PyAV is absent. Decoding streams the container once; only the sampled
    frames are materialized (bounded by duration / stride)."""
    if not HAS_VIDEO or payload is None:
        return None
    import io

    try:
        frames = []
        with _av.open(io.BytesIO(bytes(payload))) as container:
            stream = container.streams.video[0]
            tb = stream.time_base
            # Containers without per-frame pts (or without a time_base) would
            # all map to ms=0 and silently degrade stride sampling to a single
            # frame — derive ms from the decode index × average frame duration
            # instead (30 fps as the last-resort guess). getattr: older PyAV
            # builds lack one or both rate attributes, and an AttributeError
            # here would send every video down the stub path.
            rate = (
                getattr(stream, "average_rate", None)
                or getattr(stream, "guessed_rate", None)
                or 30
            )
            frame_ms = 1000 / float(rate)
            # One clock per stream, fixed by its first frame: switching
            # between pts and decode index mid-stream makes time jump, and
            # frames behind the jump would be skipped. A pts-clocked frame
            # without pts sits one frame duration after its predecessor.
            use_pts = None
            t = 0.0
            next_ms = None
            for idx, frame in enumerate(container.decode(stream)):
                if use_pts is None:
                    use_pts = frame.pts is not None and tb is not None
                if not use_pts:
                    t = idx * frame_ms
                elif frame.pts is not None:
                    t = frame.pts * float(tb) * 1000
                else:
                    t += frame_ms
                ms = int(t)
                if next_ms is None:  # the sampling grid starts at the first frame
                    next_ms = ms
                if ms >= next_ms:
                    frames.append((ms, frame.to_ndarray(format="rgb24")))
                    next_ms += frame_stride_ms
        return frames or None
    except Exception:  # noqa: BLE001 — any undecodable payload → stub path
        return None

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, sha string, "
    "feature array<float>, frames_sampled int"
)


def attach_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Manufacture an opaque binary payload column + typed metadata from the
    documents table (deterministic stand-in for real media ingestion)."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.when(kind == "image", (F.pmod(F.col(id_col), F.lit(4)) + 1) * 256).cast("int").alias("width"),
        F.when(kind == "image", (F.pmod(F.col(id_col), F.lit(3)) + 1) * 256).cast("int").alias("height"),
        F.when(kind != "image", (F.pmod(F.col(id_col), F.lit(30)) + 1) * 1000).cast("int").alias("duration_ms"),
    )


def _fake_decode(payload: bytes, kind: str) -> list[float]:
    """STUB: deterministic fake feature vector from byte stats — the
    fallback when the payload is not a decodable image (or Pillow/librosa/
    ffmpeg are absent). Replace the downstream model forward pass in
    production; the 8-dim shape is the contract."""
    if payload is None:
        raise NotImplementedError("real media decode requires image/audio libs")
    n = len(payload)
    return [
        float(n),
        float(payload[0]) if n else 0.0,
        float(payload[-1]) if n else 0.0,
        float(sum(payload[:64]) % 997),
        float(kind == "image"),
        float(kind == "audio"),
        float(kind == "video"),
        float(n % 256),
    ]


def _decode_features(payload: bytes, kind: str) -> list[float]:
    """Real-decode feature path per modality — pixel statistics for
    decodable images, waveform statistics for decodable audio, first-frame
    statistics for decodable video — all on the same 8-dim contract as the
    stub (index 6 = decoded-for-real marker). Undecodable payloads, and
    every payload when the modality's optional lib is absent, take the
    deterministic stub."""
    if kind == "image":
        arr = decode_image(payload)
        if arr is not None:
            h, w = int(arr.shape[0]), int(arr.shape[1])
            means = arr.reshape(-1, 3).mean(axis=0)
            return [
                float(h),
                float(w),
                float(means[0]),
                float(means[1]),
                float(means[2]),
                float(arr.std()),
                1.0,  # decoded-for-real marker
                float(len(payload) % 256),
            ]
    elif kind == "audio":
        decoded = decode_audio(payload)
        if decoded is not None:
            samples, sr = decoded
            n = int(samples.shape[0])
            return [
                float(n),
                float(sr),
                float(samples.mean()) if n else 0.0,
                float(samples.std()) if n else 0.0,
                float(abs(samples).max()) if n else 0.0,
                float(n / sr) if sr else 0.0,  # duration seconds
                1.0,  # decoded-for-real marker
                float(len(payload) % 256),
            ]
    elif kind == "video":
        frames = decode_video_frames(payload)
        if frames:
            _, first = frames[0]
            h, w = int(first.shape[0]), int(first.shape[1])
            return [
                float(h),
                float(w),
                float(len(frames)),
                float(first.mean()),
                float(first.std()),
                float(frames[-1][0]),  # last sampled timestamp ms
                1.0,  # decoded-for-real marker
                float(len(payload) % 256),
            ]
    return _fake_decode(payload, kind)


RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int, orig_width int, orig_height int"
)


def resize_images(media: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize pass for image rows (video/audio rows pass through untouched):
    Arrow-batched mapInPandas. Decodable payloads resample through
    ``PIL.Image.resize`` when Pillow is installed (HAS_PIL); undecodable
    payloads — and everything when Pillow is absent, as in this container —
    take a deterministic stand-in that rescales the payload length by the
    area ratio. Either way the pipeline shape is identical: per-batch
    streaming, binary in/binary out, metadata rewritten, originals kept.
    """

    def _fake_resize(payload: bytes, w: int, h: int) -> bytes:
        # STUB for the real decoder+resampler: deterministic payload
        # truncation/tiling to the area-scaled length.
        target_len = max(1, int(len(payload) * (target_w * target_h) / max(w * h, 1)))
        reps = target_len // max(len(payload), 1) + 1
        return (payload * reps)[:target_len]

    def _resize_one(payload: bytes, w: int, h: int) -> bytes:
        # Real path when the payload actually decodes as an image (requires
        # Pillow): bilinear resample, re-encode PNG. Undecodable payloads
        # (every synthetic fixture) take the deterministic stub.
        arr = decode_image(payload)
        if arr is not None:
            import io

            im = _PILImage.fromarray(arr).resize((target_w, target_h))
            buf = io.BytesIO()
            im.save(buf, format="PNG")
            return buf.getvalue()
        return _fake_resize(payload, w, h)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["orig_width"] = pdf["width"]
            out["orig_height"] = pdf["height"]
            is_img = pdf["kind"] == "image"
            out.loc[is_img, "payload"] = [
                _resize_one(p, int(w), int(h))
                for p, w, h in zip(
                    pdf.loc[is_img, "payload"], pdf.loc[is_img, "width"], pdf.loc[is_img, "height"]
                )
            ]
            out.loc[is_img, "width"] = target_w
            out.loc[is_img, "height"] = target_h
            yield out

    return media.mapInPandas(process, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, frame_ms int, frame_payload binary"


def sample_frames(media: DataFrame, frame_stride_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled timestamp
    (explode-shaped mapInPandas — rows out ≠ rows in). Decodable payloads
    sample REAL frames through PyAV when installed (HAS_VIDEO); undecodable
    payloads — and everything when PyAV is absent, as in this container —
    take a deterministic byte-window stand-in. The Spark-side plumbing —
    per-row fan-out, binary frame payloads, batch streaming — is identical
    on both paths.
    """

    def _stub_rows(r) -> list[dict]:
        dur = int(r["duration_ms"]) if not pd.isna(r["duration_ms"]) else 0
        payload = r["payload"]
        rows = []
        for k, ms in enumerate(range(0, dur, frame_stride_ms)):
            lo = (k * 16) % max(len(payload), 1)
            rows.append(
                {
                    "media_id": r["media_id"],
                    "frame_idx": k,
                    "frame_ms": ms,
                    "frame_payload": payload[lo : lo + 16],
                }
            )
        return rows

    def _real_rows(r) -> list[dict] | None:
        frames = decode_video_frames(r["payload"], frame_stride_ms)
        if frames is None:
            return None
        # 32×-subsampled raw RGB bytes: bounded (~few KB/frame), decoder-free
        # to reread, deterministic — the production encode step swaps in here
        return [
            {
                "media_id": r["media_id"],
                "frame_idx": k,
                "frame_ms": ms,
                "frame_payload": arr[::32, ::32].tobytes(),
            }
            for k, (ms, arr) in enumerate(frames)
        ]

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            vids = pdf[pdf["kind"] == "video"]
            for _, r in vids.iterrows():
                rows.extend(_real_rows(r) or _stub_rows(r))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_ms", "frame_payload"])

    return media.mapInPandas(process, schema=FRAME_SCHEMA)


def extract_features(media: DataFrame, frame_stride: int = 10) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow-batched, streaming).

    ``frames_sampled`` demonstrates frame-sampling plumbing for video rows
    (duration-based), with the decode itself stubbed.
    """
    import hashlib

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_features(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "sha": [hashlib.sha256(p).hexdigest() for p in pdf["payload"]],
                    "feature": feats,
                    "frames_sampled": [
                        max(int((0 if pd.isna(d) else d) // (frame_stride * 100)), 0)
                        for d in pdf["duration_ms"]
                    ],
                }
            )

    return media.mapInPandas(process, schema=FEATURE_SCHEMA)
