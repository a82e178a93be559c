"""Multimodal binary-column operators (build brief): resize /
feature-extract / frame-sample / audio over mapInPandas — real plumbing,
real math for raw formats, NotImplementedError for absent codecs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark.raster import codec
from tiff_enrichment_pipeline_spark.raster.multimodal import (
    extract_audio_features,
    frame_sample,
    image_features_np,
    resize_and_extract,
    resize_bilinear_np,
)


def _img(seed: int, w: int = 32, h: int = 24) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 60000, size=(h, w), dtype=np.uint16)


@pytest.fixture()
def images(spark):
    rows = [
        (i, codec.encode_raw_u16(_img(i)), 32, 24, "raw-u16") for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "image_id long, bytes binary, w int, h int, fmt string"
    )


def _features(df) -> dict:
    return {
        r["image_id"]: (r["px_mean"], r["px_std"], r["px_p95"], r["edge_energy"])
        for r in df.collect()
    }


def test_resize_matches_numpy_oracle(spark, images):
    """Features of the resized images equal the per-image numpy resize +
    features, bit for bit."""
    out = _features(resize_and_extract(images, 16, 12))
    assert len(out) == 12
    for i in range(12):
        assert out[i] == image_features_np(resize_bilinear_np(_img(i), 16, 12))


def test_image_features_match_numpy(spark, images):
    # native size: no resize
    out = _features(resize_and_extract(images, 32, 24))
    for i in range(12):
        m, s, p95, e = image_features_np(_img(i))
        assert out[i][0] == pytest.approx(m)
        assert out[i][1] == pytest.approx(s)
        assert out[i][2] == pytest.approx(p95)
        assert out[i][3] == pytest.approx(e)


def test_frame_sample_every_n(spark):
    n_frames, w, h = 10, 8, 6
    vids = []
    for v in range(3):
        frames = np.stack([_img(100 * v + f, w, h) for f in range(n_frames)])
        vids.append((v, frames.astype("<u2").tobytes(), w, h, n_frames, "rawvid-u16"))
    df = spark.createDataFrame(
        vids,
        "video_id long, bytes binary, w int, h int, n_frames int, fmt string",
    )
    out = frame_sample(df, every_n=3).collect()
    # frames 0,3,6,9 per video
    assert len(out) == 3 * 4
    by_key = {(r["video_id"], r["frame_idx"]): r for r in out}
    got = codec.decode_raw_u16(bytes(by_key[(1, 3)]["bytes"]), w, h)
    assert np.array_equal(got, _img(103, w, h))
    # absent codec → NotImplementedError raised inside the task
    bad = spark.createDataFrame(
        [(9, b"\x00\x00", 1, 1, 1, "h264")],
        "video_id long, bytes binary, w int, h int, n_frames int, fmt string",
    )
    with pytest.raises(Exception, match="h264"):
        frame_sample(bad, 1).collect()


def test_audio_features(spark):
    sr = 16000
    t = np.arange(sr)  # 1 second
    sine = (10000 * np.sin(2 * np.pi * 440 * t / sr)).astype("<i2")
    rows = [(1, sine.tobytes(), sr, "pcm-s16le")]
    df = spark.createDataFrame(
        rows, "audio_id long, bytes binary, sample_rate int, fmt string"
    )
    r = extract_audio_features(df).collect()[0]
    assert r["duration_s"] == pytest.approx(1.0)
    # sine RMS ≈ amplitude/√2
    assert r["rms"] == pytest.approx(10000 / np.sqrt(2), rel=1e-3)
    # 440 Hz → ~880 zero crossings per second
    assert abs(r["zero_crossings"] - 880) <= 2


def test_audio_wav_container(spark):
    """r7 'wav' fmt: REAL RIFF/WAVE PCM-16 parse — mono matches the
    headerless pcm-s16le features exactly; the container's own sample
    rate WINS over a lying column; stereo mixes down by mean; corrupt
    and compressed-profile containers classify (ValueError /
    NotImplementedError)."""
    import pytest as _pytest

    from tiff_enrichment_pipeline_spark.raster.multimodal import (
        _decode_wav,
        encode_wav_s16,
    )

    sr = 16000
    t = np.arange(sr)
    sine = (10000 * np.sin(2 * np.pi * 440 * t / sr)).astype("<i2")
    wav = encode_wav_s16(sine, sr)
    # column LIES (8000): the wav header's 16000 must govern duration
    rows = [
        (1, sine.tobytes(), sr, "pcm-s16le"),
        (2, wav, 8000, "wav"),
    ]
    df = spark.createDataFrame(
        rows, "audio_id long, bytes binary, sample_rate int, fmt string"
    )
    got = {r["audio_id"]: r for r in extract_audio_features(df).collect()}
    assert got[2]["duration_s"] == pytest.approx(1.0)
    assert got[2]["rms"] == pytest.approx(got[1]["rms"])
    assert got[2]["zero_crossings"] == got[1]["zero_crossings"]

    # stereo mixdown: L = sine, R = -sine → mean is 0
    stereo = np.empty(2 * sr, dtype="<i2")
    stereo[0::2], stereo[1::2] = sine, -sine
    mono, rate = _decode_wav(encode_wav_s16(stereo, sr, n_ch=2))
    assert rate == sr and len(mono) == sr
    assert np.allclose(mono, 0.0)

    # classification: truncation ladder + compressed profile + lying size
    for cut in range(1, len(wav), max(1, len(wav) // 64)):
        with _pytest.raises((ValueError, NotImplementedError)):
            _decode_wav(wav[:cut])
    ieee = bytearray(wav)
    ieee[20:22] = (3).to_bytes(2, "little")  # IEEE-float WAV → gated
    with _pytest.raises(NotImplementedError):
        _decode_wav(bytes(ieee))
    lying = bytearray(wav)
    lying[4:8] = (2**31 - 1).to_bytes(4, "little")  # RIFF size field lies
    # RIFF size isn't trusted for reads; chunk bounds still govern
    m2, r2 = _decode_wav(bytes(lying))
    assert r2 == sr and len(m2) == sr


def test_batch_kernels_bit_identical_to_per_image():
    """The r7 vectorized batch kernels (resize_bilinear_batch /
    image_features_batch — one set of numpy calls per Arrow batch
    instead of per image) must be BIT-identical to the per-image
    oracles, including on resized outputs (the non-C-contiguous layout
    a broadcast astype leaves behind flipped std's last ulp until the
    kernels normalized to C order)."""
    from tiff_enrichment_pipeline_spark.raster.multimodal import (
        image_features_batch,
        resize_bilinear_batch,
    )

    rng = np.random.default_rng(3)
    for h, w in [(64, 64), (24, 32), (5, 7), (1, 9)]:
        stack = rng.integers(0, 65536, (23, h, w)).astype(np.uint16)
        rb = resize_bilinear_batch(stack, 16, 12)
        fb = image_features_batch(stack)
        fb_resized = image_features_batch(rb)
        for k in range(len(stack)):
            per = resize_bilinear_np(stack[k], 16, 12)
            assert np.array_equal(rb[k], per)
            assert tuple(fb[k]) == image_features_np(stack[k])
            assert tuple(fb_resized[k]) == image_features_np(per)


def test_multimodal_is_single_map_stage(spark, images):
    """No shuffle: resize+features is one exchange-free map stage."""
    out = resize_and_extract(images, 16, 12)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan or "BroadcastExchange" in plan
    assert out.count() == 12


def test_fused_resize_extract_matches_numpy(spark, images):
    """resize_and_extract (ONE Arrow crossing) must be bit-identical to
    the per-image numpy resize + features, and its plan must contain
    exactly one Python map operator."""
    fused_df = resize_and_extract(images, 16, 12)
    want = {
        i: image_features_np(resize_bilinear_np(_img(i), 16, 12))
        for i in range(12)
    }
    assert _features(fused_df) == want
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


def test_jpeg_payloads_flow_through_multimodal(spark):
    """fmt='jpeg' through the distributed feature pipeline: baseline
    grayscale JPEG payloads decode inside the mapInPandas stage (stdlib
    codec) and produce features matching the numpy path on the DECODED
    (lossy) pixels."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    def smooth(seed: int, w: int = 32, h: int = 24) -> np.ndarray:
        y, x = np.mgrid[0:h, 0:w]
        return (
            10000 + 700 * x + 400 * y + 2000 * np.sin((x + seed) / 5.0)
        ).astype(np.uint16)

    # rotate the JPEG profile per row so the distributed path exercises
    # baseline, progressive (both scan scripts) and 12-bit (r6)
    encoders = [
        jpeg.encode_jpeg_gray,
        lambda b: jpeg.encode_jpeg_gray_progressive(b, successive=False),
        lambda b: jpeg.encode_jpeg_gray_progressive(b, successive=True),
        jpeg.encode_jpeg_gray_12bit,
        jpeg.encode_jpeg_gray,
        jpeg.encode_jpeg_gray_12bit,
    ]
    rows = [
        (i, encoders[i](smooth(i)), 32, 24, "jpeg")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "image_id long, bytes binary, w int, h int, fmt string"
    )
    # native size: no resize
    out = _features(resize_and_extract(df, 32, 24))
    assert len(out) == 6
    for i in range(6):
        decoded = jpeg.decode_jpeg_gray(encoders[i](smooth(i)))
        m, s, p95, e = image_features_np(decoded)
        assert out[i][0] == pytest.approx(m)
        assert out[i][1] == pytest.approx(s)


def test_audio_flac_container(spark):
    """r7 'flac' fmt: REAL stdlib FLAC decode — a flac row's features
    match the headerless pcm-s16le row EXACTLY (lossless), the
    container rate wins over a lying column, mid/side stereo
    reconstructs bit-exact, and damage classifies (CRC mismatch /
    truncation -> ValueError)."""
    import pytest as _pytest

    from tiff_enrichment_pipeline_spark.raster.flac import (
        decode_flac,
        encode_flac_s16,
    )

    sr = 16000
    t = np.arange(sr)
    sine = (10000 * np.sin(2 * np.pi * 440 * t / sr)).astype(np.int16)
    flac = encode_flac_s16(sine, sr, block_size=1024)
    rows = [
        (1, sine.tobytes(), sr, "pcm-s16le"),
        (2, flac, 8000, "flac"),  # column LIES; container 16000 governs
    ]
    df = spark.createDataFrame(
        rows, "audio_id long, bytes binary, sample_rate int, fmt string"
    )
    got = {r["audio_id"]: r for r in extract_audio_features(df).collect()}
    assert got[2]["duration_s"] == pytest.approx(1.0)
    assert got[2]["rms"] == pytest.approx(got[1]["rms"])
    assert got[2]["zero_crossings"] == got[1]["zero_crossings"]

    # stereo mid/side roundtrip is bit-exact
    st = np.stack([sine, (-0.5 * sine).astype(np.int16)], axis=1)
    dec, rate, bps = decode_flac(encode_flac_s16(st, sr, mid_side=True))
    assert rate == sr and bps == 16 and np.array_equal(dec, st)

    # truncation ladder classifies — never hangs, never returns garbage
    for cut in range(4, len(flac), max(1, len(flac) // 48)):
        with _pytest.raises((ValueError, NotImplementedError)):
            decode_flac(flac[:cut])
    # one flipped byte inside a frame body -> CRC-16 catches it
    bad = bytearray(flac)
    bad[-40] ^= 0x55
    with _pytest.raises(ValueError):
        decode_flac(bytes(bad))


def test_audio_quarantine_routing(spark):
    """Late r7: the image side's S4 quarantine contract extended to
    audio — with quarantine=True, corrupt/unsupported payloads emit a
    decode_status row with NULL features instead of killing the job;
    default stays fail-fast."""
    from tiff_enrichment_pipeline_spark.raster.multimodal import (
        encode_wav_s16,
    )

    sr = 8000
    sine = (9000 * np.sin(2 * np.pi * 330 * np.arange(sr) / sr)).astype("<i2")
    wav = encode_wav_s16(sine, sr)
    rows = [
        (1, sine.tobytes(), sr, "pcm-s16le"),
        (2, wav[: len(wav) // 2], sr, "wav"),      # truncated -> corrupt
        (3, b"\x00" * 64, sr, "mp3"),              # absent codec
        (4, wav, sr, "wav"),
    ]
    df = spark.createDataFrame(
        rows, "audio_id long, bytes binary, sample_rate int, fmt string"
    )
    got = {
        r["audio_id"]: r
        for r in extract_audio_features(df, quarantine=True).collect()
    }
    assert got[1]["decode_status"] == "ok"
    assert got[2]["decode_status"] == "corrupt"
    assert got[2]["rms"] is None and got[2]["zero_crossings"] is None
    assert got[3]["decode_status"] == "unsupported"
    assert got[4]["decode_status"] == "ok"
    assert got[4]["rms"] == pytest.approx(got[1]["rms"])
    # default contract unchanged: damage raises inside the task
    with pytest.raises(Exception):
        extract_audio_features(df).collect()
