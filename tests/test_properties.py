"""Property-based tests (hypothesis) over the pure-numpy twins — the layer
the reference lacks entirely (SURVEY §5 'no property-based testing'). No
SparkSession: these pin the math the Arrow UDFs execute."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tiff_enrichment_pipeline_spark.raster import codec
from tiff_enrichment_pipeline_spark.raster.multimodal import (
    image_features_np,
    resize_bilinear_np,
)

_dims = st.integers(min_value=2, max_value=48)


@settings(max_examples=50, deadline=None)
@given(w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1))
def test_codec_roundtrip_lossless(w, h, seed):
    img = np.random.default_rng(seed).integers(0, 65536, (h, w), dtype=np.uint16)
    assert np.array_equal(codec.decode_raw_u16(codec.encode_raw_u16(img), w, h), img)


@settings(max_examples=50, deadline=None)
@given(w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1))
def test_lossy_q12_psnr_invariant(w, h, seed):
    """The input_hint per-row invariant: lossy PSNR ≥ 40 dB, always."""
    img = np.random.default_rng(seed).integers(0, 65536, (h, w), dtype=np.uint16)
    dec = codec.decode_raw_u16(codec.encode_lossy_q12(img), w, h)
    assert codec.psnr_db(img, dec) >= 40.0
    assert np.abs(dec.astype(np.int64) - img.astype(np.int64)).max() < 16


@settings(max_examples=40, deadline=None)
@given(w=_dims, h=_dims, ow=_dims, oh=_dims, seed=st.integers(0, 2**31 - 1))
def test_resize_bounds_and_identity(w, h, ow, oh, seed):
    """Bilinear resize never leaves the input value range; identity resize
    is exact (pixel-center alignment property)."""
    img = np.random.default_rng(seed).integers(0, 65536, (h, w), dtype=np.uint16)
    out = resize_bilinear_np(img, ow, oh)
    assert out.shape == (oh, ow)
    assert out.min() >= img.min() and out.max() <= img.max()
    assert np.array_equal(resize_bilinear_np(img, w, h), img)


@settings(max_examples=40, deadline=None)
@given(w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1), c=st.integers(0, 65535))
def test_features_invariants(w, h, seed, c):
    img = np.random.default_rng(seed).integers(0, 65536, (h, w), dtype=np.uint16)
    m, s, p95, e = image_features_np(img)
    assert img.min() <= m <= img.max()
    assert s >= 0 and e >= 0
    assert img.min() <= p95 <= img.max()
    # constant image: zero std, zero edges, mean == value
    mc, sc, pc, ec = image_features_np(np.full((h, w), c, dtype=np.uint16))
    assert (mc, sc, ec) == (float(c), 0.0, 0.0) and pc == float(c)


@settings(max_examples=30, deadline=None)
@given(
    lat=st.floats(-89.0, 89.0), lon=st.floats(-179.9, 179.9),
    dlat=st.floats(-0.5, 0.5), dlon=st.floats(-0.5, 0.5),
)
def test_knn_chord_monotonic_in_greatcircle(lat, lon, dlat, dlon):
    """The kNN ranking key (squared 3-D chord) must order pairs exactly as
    great-circle distance does — the exactness argument of knn_join."""
    import math

    def xyz(la, lo):
        rp, rl = math.radians(la), math.radians(lo)
        return np.array(
            [math.cos(rp) * math.cos(rl), math.cos(rp) * math.sin(rl), math.sin(rp)]
        )

    def gc(la1, lo1, la2, lo2):
        a = (
            math.sin(math.radians(la2 - la1) / 2) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(math.radians(lo2 - lo1) / 2) ** 2
        )
        return 2 * math.asin(min(1.0, math.sqrt(a)))

    p = xyz(lat, lon)
    near = xyz(max(-89.9, min(89.9, lat + dlat / 2)), lon + dlon / 2)
    far = xyz(max(-89.9, min(89.9, lat + dlat)), lon + dlon)
    d2n, d2f = ((p - near) ** 2).sum(), ((p - far) ** 2).sum()
    gn = gc(lat, lon, max(-89.9, min(89.9, lat + dlat / 2)), lon + dlon / 2)
    gf = gc(lat, lon, max(-89.9, min(89.9, lat + dlat)), lon + dlon)
    assert (d2n <= d2f) == (gn <= gf) or abs(gn - gf) < 1e-12


@settings(max_examples=50, deadline=None)
@given(
    w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1),
    comp=st.sampled_from(["none", "deflate"]),
    rps=st.integers(1, 64),
    pred=st.sampled_from([1, 2]),
    with_geo=st.booleans(),
)
def test_tiff_roundtrip_property(w, h, seed, comp, rps, pred, with_geo):
    """Baseline TIFF codec: encode∘decode = identity for ANY shape, strip
    size, compression, predictor, geo-tag combination; geo metadata
    round-trips exactly."""
    rng = np.random.default_rng(seed)
    band = rng.integers(0, 65536, (h, w)).astype(np.uint16)
    geo = (
        {"pixel_scale": (1e-6, 2e-6), "origin": (5.5, 52.5), "epsg": 4326}
        if with_geo
        else None
    )
    payload = codec.encode_tiff_u16(
        band, compression=comp, rows_per_strip=rps, predictor=pred, geo=geo
    )
    arr, meta = codec.decode_geotiff(payload)
    assert np.array_equal(arr, band)
    if with_geo:
        assert meta["origin"] == (5.5, 52.5) and meta["epsg"] == 4326
    else:
        # late r7: photometric/bits always present; no GEO keys
        assert meta == {"photometric": 1, "bits": 16}


@settings(max_examples=30, deadline=None)
@given(w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1))
def test_terrain_gradient_consistency_property(w, h, seed):
    """_terrain corner-kernel invariants on random grids: slope ≥ 0 and
    < 90, aspect ∈ [0, 360) or NaN exactly when the local gradient
    vanishes, hillshade ∈ [0, 255]."""
    from tiff_enrichment_pipeline_spark.geotables import DEM_N, DEM_TILE_DEG
    from tiff_enrichment_pipeline_spark.operators.elevation import (
        _cell,
        _gather_corners,
        _terrain,
    )

    rng = np.random.default_rng(seed)
    g = rng.uniform(0.0, 500.0, (DEM_N, DEM_N))
    tx, ty = 51, 521
    n = 25
    lon_v = (tx + rng.uniform(0.02, 0.98, n)) * DEM_TILE_DEG
    lat_v = (ty + rng.uniform(0.02, 0.98, n)) * DEM_TILE_DEG
    i0, j0, wx, wy = _cell(lon_v, lat_v, tx, ty)
    corners = _gather_corners(g[None], np.zeros(n, np.int64), i0, j0)
    s, a, hs = _terrain(*corners, wx, wy, lat_v)
    assert ((s >= 0.0) & (s < 90.0)).all()
    ok = ~np.isnan(a)
    assert ((a[ok] >= 0.0) & (a[ok] < 360.0)).all()
    assert ((hs >= 0.0) & (hs <= 255.0)).all()


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 40),
    seed=st.integers(0, 2**31 - 1),
    quality=st.integers(70, 100),
)
def test_jpeg_color_roundtrip_property(w, h, seed, quality):
    """Color JPEG (YCbCr 4:4:4 baseline) decode invariants on SMOOTH
    random gradients at any shape/quality≥70: decoded luma stays within
    the 8-bit-expanded domain, dims are exact, and PSNR vs the original's
    true 601 luma clears the 40 dB input_hint floor. (Pure noise images
    are excluded by construction — quantization of white noise is
    unbounded for ANY codec; smoothness is the documented contract.)"""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    chans = []
    for _ in range(3):
        fx, fy, ph = rng.uniform(5, 30), rng.uniform(5, 30), rng.uniform(0, 6)
        amp, base = rng.uniform(30, 90), rng.uniform(80, 170)
        chans.append(
            np.clip(base + amp * np.sin(xx / fx + ph) * np.cos(yy / fy), 0, 255)
        )
    rgb = np.stack(chans, axis=-1).astype(np.uint8)
    dec = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_color(rgb, quality=quality))
    assert dec.shape == (h, w) and dec.dtype == np.uint16
    assert dec.max() <= 255 * 257
    rf, gf, bf = (rgb[..., i].astype(np.float64) for i in range(3))
    luma = np.clip(np.round(0.299 * rf + 0.587 * gf + 0.114 * bf), 0, 255) * 257
    assert codec.psnr_db(luma.astype(np.uint16), dec) >= 40.0
