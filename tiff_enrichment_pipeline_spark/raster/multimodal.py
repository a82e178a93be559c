"""Multimodal binary-column operators: resize + feature-extract (one
stage) / frame-sample / audio features over ``mapInPandas``.

The build brief's multimodal contract: image/audio/video travel as opaque
``binary`` columns with typed metadata columns beside them; every pixel/
sample-touching operator is an Arrow-batched ``mapInPandas`` (one Python
crossing per batch, vectorized numpy inside — never row-at-a-time), and
decode of formats whose codec libraries are absent from this container is
STUBBED behind ``NotImplementedError`` while the raw formats are real, so
the Spark-side plumbing (schema, batch shape, UDF signature, partition
behavior) is fully exercised.

Formats (see raster/codec.py for the image ones):
- images : ``raw-u16`` / ``lossy-q12`` / ``png`` / baseline ``tiff`` /
  ``jpeg`` (grayscale + YCbCr 4:4:4/4:2:2/4:2:0 + restart intervals,
  baseline SOF0 and progressive SOF2) all REAL (pure-stdlib codecs);
  the r6/r7 container matrix decodes stdlib-side too: LZW / tiled /
  BigTIFF / PackBits / planar / predictor-3, RGB / RGBA / CMYK /
  palette TIFF, JPEG-in-TIFF (gray + color), 12-bit and direct-RGB
  JPEG, non-integer sampling. Still gated → NotImplementedError:
  arithmetic-coded JPEG and old-style Compression-6 JPEG-in-TIFF
  (spec-constant rule — see codec.py header, the accurate gate list)
- video  : ``rawvid-u16`` — n_frames raw-u16 frames concatenated
  (deterministic fake container); mp4/h264 → NotImplementedError
- audio  : ``pcm-s16le`` — mono int16 little-endian (headerless; the
  table's sample_rate column governs), ``wav`` (r7) — REAL RIFF/WAVE
  integer-PCM-16 container parse, any plausible channel count mixed
  down by mean, the container's own rate wins — and ``flac`` (r7) —
  REAL stdlib FLAC decode (raster/flac.py: CRC-verified frames,
  CONSTANT/VERBATIM/FIXED/LPC subframes, rice residuals, stereo
  decorrelation); mp3 → NotImplementedError

Scale shape: each operator is a pure map stage — no shuffle, no driver
action; payload columns are pruned away by Catalyst for any query that
does not reference them.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from tiff_enrichment_pipeline_spark.raster import codec


# ---------------------------------------------------------------------------
# numpy cores (shared by the UDFs and the tests' local oracles)
# ---------------------------------------------------------------------------

def resize_bilinear_np(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Bilinear resize of a (h, w) uint16 array — pixel-center aligned,
    clamped borders (same convention as the DEM sampler)."""
    h, w = img.shape
    fy = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    fx = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    j0 = np.clip(np.floor(fy), 0, h - 2).astype(np.int64)
    i0 = np.clip(np.floor(fx), 0, w - 2).astype(np.int64)
    wy = np.clip(fy - j0, 0.0, 1.0)[:, None]
    wx = np.clip(fx - i0, 0.0, 1.0)[None, :]
    g = img.astype(np.float64)
    v00 = g[np.ix_(j0, i0)]
    v10 = g[np.ix_(j0, i0 + 1)]
    v01 = g[np.ix_(j0 + 1, i0)]
    v11 = g[np.ix_(j0 + 1, i0 + 1)]
    out = (1 - wy) * ((1 - wx) * v00 + wx * v10) + wy * ((1 - wx) * v01 + wx * v11)
    return np.clip(np.rint(out), 0, 65535).astype(np.uint16)


def image_features_np(img: np.ndarray) -> tuple[float, float, float, float]:
    """(mean, std, p95, edge_energy) of a uint16 band — edge energy is the
    mean absolute first difference along both axes (cheap gradient proxy)."""
    g = img.astype(np.float64)
    dy = np.abs(np.diff(g, axis=0)).mean() if g.shape[0] > 1 else 0.0
    dx = np.abs(np.diff(g, axis=1)).mean() if g.shape[1] > 1 else 0.0
    return (
        float(g.mean()),
        float(g.std()),
        float(np.percentile(g, 95)),
        float(dx + dy),
    )


def resize_bilinear_batch(stack: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Vectorized twin of ``resize_bilinear_np`` over a (n, h, w) stack:
    the same coefficient arrays and the same elementwise IEEE ops, so
    each output image is BIT-IDENTICAL to the per-image kernel (pinned
    in tests/test_multimodal.py). Exists because the per-image kernel's
    cost at scale is ~0.07 ms of fixed numpy-call overhead per image —
    ~6x the actual arithmetic (r7 --multimodal-scale attribution); one
    set of numpy calls per batch amortizes it away."""
    n, h, w = stack.shape
    fy = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    fx = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    j0 = np.clip(np.floor(fy), 0, h - 2).astype(np.int64)
    i0 = np.clip(np.floor(fx), 0, w - 2).astype(np.int64)
    wy = np.clip(fy - j0, 0.0, 1.0)[:, None]
    wx = np.clip(fx - i0, 0.0, 1.0)[None, :]
    # gather the 4 corner planes from the u16 stack FIRST, then widen the
    # small gathers to float64 (u16→f64 is exact, so values are
    # bit-identical to converting the whole stack) — r8: the full-size
    # fp64 copy was a 134 MB fresh allocation per 4096-image chunk, and
    # on this host first-touch pages cost ~3 orders of magnitude more
    # than the arithmetic (see knn_join._SCRATCH)
    J0, I0 = j0[:, None], i0[None, :]
    v00 = stack[:, J0, I0].astype(np.float64)
    v10 = stack[:, J0, I0 + 1].astype(np.float64)
    v01 = stack[:, J0 + 1, I0].astype(np.float64)
    v11 = stack[:, J0 + 1, I0 + 1].astype(np.float64)
    out = (1 - wy) * ((1 - wx) * v00 + wx * v10) + wy * (
        (1 - wx) * v01 + wx * v11
    )
    # C-contiguous result, NOT astype's default order='K': the broadcast
    # arithmetic above can leave a non-C layout, and downstream axis-1
    # reductions (std) sum a non-C buffer in a different order — a
    # last-ulp divergence from the per-image kernel (found by the
    # fused≡chained pin when this kernel landed)
    return np.ascontiguousarray(
        np.clip(np.rint(out), 0, 65535).astype(np.uint16)
    )


def image_features_batch(stack: np.ndarray) -> np.ndarray:
    """Vectorized twin of ``image_features_np`` over (n, h, w): an
    (n, 4) float64 array of (mean, std, p95, edge_energy). Each row
    reduces the same contiguous per-image buffer the per-image kernel
    reduces (axis-1 pairwise summation / per-row partition), so values
    are bit-identical (pinned in tests)."""
    n, h, w = stack.shape
    # C-order normalization so every row reduces the same contiguous
    # buffer the per-image kernel reduces (see resize_bilinear_batch)
    g = np.ascontiguousarray(stack).astype(np.float64)
    flat = g.reshape(n, -1)
    dy = (
        np.abs(np.diff(g, axis=1)).reshape(n, -1).mean(axis=1)
        if h > 1
        else np.zeros(n)
    )
    dx = (
        np.abs(np.diff(g, axis=2)).reshape(n, -1).mean(axis=1)
        if w > 1
        else np.zeros(n)
    )
    return np.stack(
        [
            flat.mean(axis=1),
            flat.std(axis=1),
            np.percentile(flat, 95, axis=1),
            dx + dy,
        ],
        axis=1,
    )


# bound the transient float64 stack a vectorized kernel materializes
# (4096 images x 64x64 x 8 B ~ 134 MB per worker); Arrow batches are
# 16384 rows, so a batch processes in a few chunks
_BATCH_CHUNK = 4096


def _decode_shape_groups(pdf: pd.DataFrame):
    """Decode every payload in an Arrow batch and yield
    ``(orig_row_indices, (k, h, w) uint16 stack)`` per decoded shape, in
    chunks of at most _BATCH_CHUNK images. Real tables are shape-uniform
    per partition, so this is normally one group; mixed shapes (e.g. a
    table mid-migration) still vectorize per shape instead of falling
    back to per-image calls."""
    groups: dict[tuple[int, int], tuple[list[int], list[np.ndarray]]] = {}
    for idx, (payload, w, h, fmt) in enumerate(
        zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
    ):
        img = codec.decode(bytes(payload), int(w), int(h), str(fmt))
        ix, imgs = groups.setdefault(img.shape, ([], []))
        ix.append(idx)
        imgs.append(img)
    for ix, imgs in groups.values():
        for lo in range(0, len(ix), _BATCH_CHUNK):
            hi = lo + _BATCH_CHUNK
            yield np.asarray(ix[lo:hi]), np.stack(imgs[lo:hi])


def _decode_video(payload: bytes, w: int, h: int, n_frames: int, fmt: str) -> np.ndarray:
    if fmt != "rawvid-u16":
        raise NotImplementedError(
            f"video codec {fmt!r} requires an external library (not in this "
            "container); use rawvid-u16 or ship a decoder via --py-files env"
        )
    return np.frombuffer(payload, dtype="<u2").reshape(n_frames, h, w)


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Minimal RIFF/WAVE integer-PCM parser (hand-rolled on ``struct``
    so corrupt containers classify — ValueError — instead of whatever a
    library raises): fmt-chunk audio format 1 at 16-bit, any plausible
    channel count (multi-channel mixes down by mean). Every chunk size
    is bounded against the buffer BEFORE any read/allocation (the r7
    fuzz discipline). Returns (mono float64 samples, sample_rate)."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        raise ValueError("not a RIFF/WAVE stream")
    pos, n = 12, len(payload)
    fmt_chunk = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if size > n - pos - 8:
            raise ValueError("WAV chunk size exceeds buffer")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt_chunk = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("WAV missing fmt /data chunk")
    audio_format, n_ch, rate, _brate, _balign, bits = fmt_chunk
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV profile (format={audio_format}, bits={bits}) outside "
            "integer PCM-16; compressed WAV needs an external codec"
        )
    if not (1 <= n_ch <= 64) or not (1 <= rate <= 10_000_000):
        raise ValueError(f"WAV header implausible (ch={n_ch}, rate={rate})")
    usable = len(data) - (len(data) % (2 * n_ch))
    x = np.frombuffer(data[:usable], dtype="<i2").reshape(-1, n_ch)
    mono = (
        x.mean(axis=1, dtype=np.float64)
        if n_ch > 1
        else x[:, 0].astype(np.float64)
    )
    return mono, int(rate)


def encode_wav_s16(
    samples: np.ndarray, rate: int, n_ch: int = 1
) -> bytes:
    """int16 samples (len divisible by n_ch, interleaved) → RIFF/WAVE
    PCM-16 — the test-vector twin of _decode_wav."""
    import struct

    pcm = np.ascontiguousarray(samples.astype("<i2")).tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * 2 * n_ch, 2 * n_ch, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
        + (b"\x00" if len(pcm) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_audio(payload: bytes, fmt: str) -> tuple[np.ndarray, int | None]:
    """→ (mono float64 samples, container sample rate or None when the
    format is headerless and the table's sample_rate column governs)."""
    if fmt == "pcm-s16le":
        return np.frombuffer(payload, dtype="<i2").astype(np.float64), None
    if fmt == "wav":
        return _decode_wav(payload)
    if fmt == "flac":
        # r7: real stdlib FLAC decode (raster/flac.py — CRC-verified
        # frames, fixed+LPC predictors, stereo decorrelation); the
        # container's own rate wins like wav
        from tiff_enrichment_pipeline_spark.raster.flac import decode_flac

        x, rate, _bps = decode_flac(payload)
        mono = (
            x.mean(axis=1, dtype=np.float64)
            if x.shape[1] > 1
            else x[:, 0].astype(np.float64)
        )
        return mono, rate
    raise NotImplementedError(
        f"audio codec {fmt!r} requires an external library (not in this "
        "container); use pcm-s16le, wav or flac, or ship a decoder via "
        "--py-files env"
    )


# ---------------------------------------------------------------------------
# mapInPandas operators
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = (
    "image_id long, px_mean double, px_std double, px_p95 double, "
    "edge_energy double"
)


def resize_and_extract(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Typed feature columns per image after a bilinear resize to
    (out_w, out_h) — the resize + feature-extract stage of a
    training-data pipeline (dedup scoring / quality filtering inputs).
    ONE Arrow crossing, map-only, no intermediate re-encode; values are
    bit-identical to ``image_features_np(resize_bilinear_np(...))`` per
    image (pinned in tests/test_multimodal.py). Resizing to the native
    size is the identity, so that gives the features of the image as
    stored."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            a = np.empty((len(pdf), 4), dtype=np.float64)
            for ix, stack in _decode_shape_groups(pdf):
                a[ix] = image_features_batch(
                    resize_bilinear_batch(stack, out_w, out_h)
                )
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "px_mean": a[:, 0],
                    "px_std": a[:, 1],
                    "px_p95": a[:, 2],
                    "edge_energy": a[:, 3],
                }
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, FEATURES_SCHEMA
    )


BAND_STATS_SCHEMA = (
    "image_id string, fmt string, px_min int, px_max int, "
    "px_sum long, px_sumsq long, px_n long"
)


def band_pixel_stats(images: DataFrame) -> DataFrame:
    """Decode each band payload and emit INTEGER-EXACT pixel aggregates
    (min/max/sum/sum-of-squares/count) — the resize-free feature subset
    that IS SQL-expressible (VERDICT r4 #7): for arithmetically-encoded
    payloads DuckDB reconstructs the pixels and reproduces every column
    bit-for-bit, which upgrades a multimodal slice from a rows-only
    driver check to a value oracle. Derived float features (mean, std)
    are computed OUTSIDE the UDF from these integers so both engines run
    the identical IEEE op sequence (see q_multimodal_features_rel).
    Bounds: sum ≤ 4096·60000 and n·sumsq − sum² ≤ 6.1e16, both inside
    int64. One Arrow map stage, zero shuffles, payload column pruned
    away downstream."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            m = len(pdf)
            mins = np.empty(m, np.int32)
            maxs = np.empty(m, np.int32)
            sums = np.empty(m, np.int64)
            sumsqs = np.empty(m, np.int64)
            ns = np.empty(m, np.int64)
            for ix, stack in _decode_shape_groups(pdf):
                # integer reductions are order-insensitive — exact by
                # construction, vectorized along axis 0. Accumulate in
                # int64 WITHOUT materializing an int64 copy of the stack
                # (r8: the astype + product temp were 2×134 MB of fresh
                # allocation per chunk — first-touch pages dominate on
                # this host, see knn_join._SCRATCH)
                flat = stack.reshape(len(ix), -1)
                mins[ix] = flat.min(axis=1).astype(np.int32)
                maxs[ix] = flat.max(axis=1).astype(np.int32)
                sums[ix] = flat.sum(axis=1, dtype=np.int64)
                sumsqs[ix] = np.einsum(
                    "ij,ij->i", flat, flat, dtype=np.int64
                )
                ns[ix] = flat.shape[1]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "fmt": pdf["fmt"],
                    "px_min": mins,
                    "px_max": maxs,
                    "px_sum": sums,
                    "px_sumsq": sumsqs,
                    "px_n": ns,
                }
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, BAND_STATS_SCHEMA
    )


FRAME_SCHEMA = "video_id long, frame_idx int, bytes binary, w int, h int, fmt string"


def frame_sample(videos: DataFrame, every_n: int) -> DataFrame:
    """(video_id, bytes, w, h, n_frames, fmt) → one row per sampled frame
    (frame 0, every_n, 2·every_n, …), each a raw-u16 image payload. Row
    expansion happens INSIDE the Arrow batch (mapInPandas may emit more
    rows than it receives) — no explode of a materialized array column, so
    the full video payload is never duplicated per frame JVM-side."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "video_id": [], "frame_idx": [], "bytes": [],
                "w": [], "h": [], "fmt": [],
            }
            for vid, payload, w, h, nf, fmt in zip(
                pdf["video_id"], pdf["bytes"], pdf["w"], pdf["h"],
                pdf["n_frames"], pdf["fmt"],
            ):
                frames = _decode_video(
                    bytes(payload), int(w), int(h), int(nf), str(fmt)
                )
                for fi in range(0, int(nf), every_n):
                    rows["video_id"].append(vid)
                    rows["frame_idx"].append(fi)
                    rows["bytes"].append(codec.encode_raw_u16(frames[fi]))
                    rows["w"].append(int(w))
                    rows["h"].append(int(h))
                    rows["fmt"].append("raw-u16")
            yield pd.DataFrame(rows)

    return videos.select(
        "video_id", "bytes", "w", "h", "n_frames", "fmt"
    ).mapInPandas(run, FRAME_SCHEMA)


AUDIO_SCHEMA = (
    "audio_id long, rms double, zero_crossings long, duration_s double"
)


AUDIO_STATUS_SCHEMA = AUDIO_SCHEMA + ", decode_status string"


def _decode_audio_normalized(
    payload: bytes, fmt: str
) -> tuple[np.ndarray, int | None]:
    """`_decode_audio` behind the same except-Exception→ValueError
    normalization `codec.decode` uses (ADVICE r7): a pathological stream
    hitting an unanticipated numpy/struct edge case must classify as
    'corrupt' under quarantine, not kill the task. MemoryError and
    AssertionError re-raise — those are resource exhaustion / real bugs,
    not bad data."""
    try:
        return _decode_audio(payload, fmt)
    except (ValueError, NotImplementedError, MemoryError, AssertionError):
        raise
    except Exception as e:
        raise ValueError(
            f"corrupt {fmt} payload: {type(e).__name__}: {e}"
        ) from e


def extract_audio_features(
    audio: DataFrame, quarantine: bool = False
) -> DataFrame:
    """(audio_id, bytes, sample_rate, fmt) → rms, zero-crossing count,
    duration — the audio leg of the multimodal contract.

    ``quarantine=False`` (default): a damaged payload raises inside the
    task (fail-fast for curated tables). ``quarantine=True`` (late r7 —
    the image side's S4 contract extended to audio): every row is
    emitted with a ``decode_status`` column ('ok' / 'corrupt' /
    'unsupported') and NULL features on failure, so one bad byte at
    100 TB routes to a filter instead of killing the job."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "audio_id": [], "rms": [], "zero_crossings": [],
                "duration_s": [],
            }
            if quarantine:
                out["decode_status"] = []
            for aid, payload, sr, fmt in zip(
                pdf["audio_id"], pdf["bytes"], pdf["sample_rate"], pdf["fmt"]
            ):
                out["audio_id"].append(aid)
                try:
                    x, container_rate = _decode_audio_normalized(
                        bytes(payload), str(fmt)
                    )
                except (ValueError, NotImplementedError) as e:
                    if not quarantine:
                        raise
                    out["rms"].append(None)
                    out["zero_crossings"].append(None)
                    out["duration_s"].append(None)
                    out["decode_status"].append(
                        "unsupported"
                        if isinstance(e, NotImplementedError)
                        else "corrupt"
                    )
                    continue
                # a self-describing container (wav/flac) carries its own
                # rate and wins over the column — the column is the
                # contract for headerless pcm-s16le only
                eff_sr = container_rate if container_rate else float(sr)
                out["rms"].append(
                    float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
                )
                out["zero_crossings"].append(
                    int(np.count_nonzero(np.diff(np.signbit(x))))
                )
                out["duration_s"].append(len(x) / float(eff_sr))
                if quarantine:
                    out["decode_status"].append("ok")
            yield pd.DataFrame(out)

    return audio.select("audio_id", "bytes", "sample_rate", "fmt").mapInPandas(
        run, AUDIO_STATUS_SCHEMA if quarantine else AUDIO_SCHEMA
    )
