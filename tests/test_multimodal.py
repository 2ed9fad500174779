"""Multimodal decode gating: real PIL path when available, deterministic
stub parity always (VERDICT r2 ask #5)."""

import pytest

from adding_datasets_to_kg_spark.operators import multimodal as mm


def test_stub_parity_on_undecodable_payloads():
    """Non-image bytes (every synthetic fixture payload) must take the
    deterministic stub path REGARDLESS of whether Pillow is installed —
    that is what keeps the mm_* oracles engine-reproducible."""
    payload = "some transcript text".encode()
    assert mm.decode_image(payload) is None  # utf-8 text never decodes
    assert mm._decode_features(payload, "image") == mm._fake_decode(payload, "image")
    assert mm._decode_features(payload, "audio") == mm._fake_decode(payload, "audio")


def test_stub_decode_null_payload_raises():
    with pytest.raises(NotImplementedError):
        mm._fake_decode(None, "image")


@pytest.mark.skipif(not mm.HAS_PIL, reason="Pillow not installed")
def test_real_decode_roundtrip_when_pil_present():
    """With Pillow present, a genuine PNG decodes, resizes to target dims,
    and the feature vector carries the decoded-for-real marker."""
    import io

    import numpy as np
    from PIL import Image

    arr = np.zeros((8, 6, 3), dtype=np.uint8)
    arr[:, :, 0] = 200  # red-ish so channel means are distinguishable
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    png = buf.getvalue()

    decoded = mm.decode_image(png)
    assert decoded is not None and decoded.shape == (8, 6, 3)

    feats = mm._decode_features(png, "image")
    assert feats[0] == 8.0 and feats[1] == 6.0  # height, width
    assert feats[6] == 1.0  # decoded-for-real marker
    assert feats[2] > feats[3]  # red mean dominates


@pytest.mark.skipif(not mm.HAS_PIL, reason="Pillow not installed")
def test_real_resize_when_pil_present(spark):
    """resize_images re-encodes decodable images at the target dims; the
    mapInPandas contract (schema, originals kept) is unchanged."""
    import io

    import numpy as np
    from PIL import Image

    buf = io.BytesIO()
    Image.fromarray(np.zeros((16, 16, 3), dtype=np.uint8)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "image/png", 16, 16, None)],
        mm.MEDIA_SCHEMA,
    )
    row = mm.resize_images(media, target_w=4, target_h=4).collect()[0]
    assert (row.width, row.height, row.orig_width, row.orig_height) == (4, 4, 16, 16)
    out = Image.open(io.BytesIO(bytes(row.payload)))
    assert out.size == (4, 4)


def test_stub_parity_audio_video_on_undecodable_payloads():
    """utf-8 text payloads never decode as audio/video — stub path taken
    regardless of whether soundfile/PyAV are installed (keeps the mm_*
    oracles engine-reproducible), mirroring the image gating."""
    payload = "some transcript text".encode()
    assert mm.decode_audio(payload) is None
    assert mm.decode_video_frames(payload) is None
    assert mm._decode_features(payload, "audio") == mm._fake_decode(payload, "audio")
    assert mm._decode_features(payload, "video") == mm._fake_decode(payload, "video")


@pytest.mark.skipif(not mm.HAS_AUDIO, reason="soundfile not installed")
def test_real_audio_decode_when_soundfile_present():
    """With soundfile present, a genuine WAV decodes and the feature vector
    carries sample count, rate, and the decoded-for-real marker."""
    import io

    import numpy as np
    import soundfile as sf

    sr = 8000
    samples = np.sin(np.linspace(0, 100, sr, dtype=np.float32))
    buf = io.BytesIO()
    sf.write(buf, samples, sr, format="WAV")
    wav = buf.getvalue()

    decoded = mm.decode_audio(wav)
    assert decoded is not None
    got, got_sr = decoded
    assert got_sr == sr and got.shape[0] == sr

    feats = mm._decode_features(wav, "audio")
    assert feats[0] == float(sr)  # n samples
    assert feats[1] == float(sr)  # rate
    assert feats[6] == 1.0  # decoded-for-real marker


@pytest.mark.skipif(not mm.HAS_VIDEO, reason="PyAV not installed")
def test_real_video_frames_when_av_present(spark):
    """With PyAV present, a genuine container decodes: frames sampled at the
    stride, features carry the marker, sample_frames emits real rows."""
    import io

    import av
    import numpy as np

    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as container:
        stream = container.add_stream("h264", rate=10)
        stream.width, stream.height, stream.pix_fmt = 64, 48, "yuv420p"
        for i in range(25):
            arr = np.full((48, 64, 3), i * 10 % 255, dtype=np.uint8)
            for packet in stream.encode(av.VideoFrame.from_ndarray(arr, format="rgb24")):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    mp4 = buf.getvalue()

    frames = mm.decode_video_frames(mp4, frame_stride_ms=1000)
    assert frames and frames[0][1].shape == (48, 64, 3)

    feats = mm._decode_features(mp4, "video")
    assert feats[0] == 48.0 and feats[1] == 64.0 and feats[6] == 1.0

    media = spark.createDataFrame(
        [(1, "video", bytearray(mp4), "video/mp4", None, None, 2500)],
        mm.MEDIA_SCHEMA,
    )
    rows = mm.sample_frames(media, frame_stride_ms=1000).collect()
    assert rows and all(len(bytes(r.frame_payload)) > 0 for r in rows)


class _FakeFrame:
    def __init__(self, idx, pts):
        self.idx, self.pts = idx, pts

    def to_ndarray(self, format):
        assert format == "rgb24"
        return self.idx  # stands in for the pixels: which frame was sampled


class _FakeStream:
    """A PyAV video stream; omitted rate attributes model an older PyAV."""

    def __init__(self, time_base, **rates):
        self.time_base = time_base
        self.__dict__.update(rates)


class _FakeContainer:
    def __init__(self, stream, frames):
        self.streams = type("Streams", (), {"video": [stream]})()
        self._frames = frames

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def decode(self, stream):
        return iter(self._frames)


def _fake_av(monkeypatch, stream, pts):
    """Install a fake ``av`` module serving one video of len(pts) frames;
    runs with or without PyAV installed."""
    frames = [_FakeFrame(i, p) for i, p in enumerate(pts)]
    fake = type("FakeAv", (), {"open": staticmethod(lambda buf: _FakeContainer(stream, frames))})
    monkeypatch.setattr(mm, "_av", fake)
    monkeypatch.setattr(mm, "HAS_VIDEO", True)


def test_video_decode_without_rate_attributes(monkeypatch):
    """A PyAV build whose streams lack average_rate and guessed_rate still
    decodes (30 fps fallback) instead of sending every video to the stub."""
    _fake_av(monkeypatch, _FakeStream(time_base=None), [None] * 90)
    got = mm.decode_video_frames(b"video", frame_stride_ms=1000)
    assert got == [(0, 0), (1000, 30), (2000, 60)]


def test_video_decode_one_clock_per_stream(monkeypatch):
    """Mixed pts never switch a stream's clock mid-decode, and the sampling
    grid starts at the stream's first frame."""
    from fractions import Fraction

    ms_tb = Fraction(1, 1000)
    pts = [5000 + 40 * i for i in range(90)]  # 25 fps, starting at 5 s

    # First frame without pts: the whole stream runs on the decode-index
    # clock, even though later pts sit 5 s ahead of it. Switching clocks
    # would sample a burst of frames right after the jump.
    stream = _FakeStream(time_base=ms_tb, average_rate=Fraction(25), guessed_rate=None)
    _fake_av(monkeypatch, stream, [None] + pts[1:])
    assert mm.decode_video_frames(b"video") == [(0, 0), (1000, 25), (2000, 50), (3000, 75)]

    # First frame with pts: a pts gap continues one frame duration past the
    # previous frame instead of falling back to the index clock, so the
    # sample due inside the gap (frame 25, at 6 s) is kept.
    gappy = pts[:20] + [None] * 10 + pts[30:]
    stream = _FakeStream(time_base=ms_tb, average_rate=None, guessed_rate=Fraction(25))
    _fake_av(monkeypatch, stream, gappy)
    assert mm.decode_video_frames(b"video") == [
        (5000, 0), (6000, 25), (7000, 50), (8000, 75)
    ]
