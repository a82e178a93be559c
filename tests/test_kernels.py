"""Golden-value kernel tests — the reference's exact constants
(reference: tests/test_vegetation_indices.py:29-88, core/processor.py:361-477)."""

from __future__ import annotations

import numpy as np
import pytest

from tiff_enrichment_pipeline_spark.raster import codec, kernels


def test_ndvi_golden():
    nir = np.array([[0.8, 0.7], [0.6, 0.5]])
    red = np.array([[0.2, 0.3], [0.4, 0.5]])
    expected = np.array([[0.6, 0.4], [0.2, 0.0]])
    np.testing.assert_allclose(kernels.ndvi(nir, red), expected, atol=1e-2)


def test_ndre_golden():
    nir = np.array([[0.8, 0.6]])
    re = np.array([[0.4, 0.2]])
    np.testing.assert_allclose(kernels.ndre(nir, re), [[1 / 3, 0.5]], atol=1e-6)


def test_gndvi_golden():
    nir = np.array([[0.9]])
    green = np.array([[0.3]])
    np.testing.assert_allclose(kernels.gndvi(nir, green), [[0.5]], atol=1e-6)


def test_savi_golden():
    nir = np.array([[0.8]])
    red = np.array([[0.2]])
    # (0.8-0.2)*1.5/(0.8+0.2+0.5) = 0.9/1.5 = 0.6
    np.testing.assert_allclose(kernels.savi(nir, red), [[0.6]], atol=1e-6)


def test_zero_division_yields_zero():
    z = np.zeros((2, 2))
    for fn in (kernels.ndvi, kernels.ndre, kernels.gndvi, kernels.ndwi):
        assert np.all(fn(z, z) == 0.0)
    assert np.all(np.isfinite(kernels.evi(z, z, z)))


def test_all_indices_finite_and_ranged():
    rng = np.random.default_rng(42)
    bands = {
        n: rng.uniform(0, 1, (16, 16)).astype(np.float32)
        for n in ["blue", "green", "red", "nir", "red_edge"]
    }
    for name, fn in kernels.ALL_INDICES.items():
        v = fn(bands)
        assert np.all(np.isfinite(v)), name
        if name in ("ndvi", "ndre", "gndvi", "ndwi", "msavi"):
            assert v.min() >= -1.0 - 1e-5 and v.max() <= 1.0 + 1e-5, name


def test_calibration_and_packing():
    dn = np.array([[0.5, 7.0], [0.0, 6.5535]])
    cal = kernels.calibrate(dn)  # ×10000 clip [0,65535] → u16
    assert cal.dtype == np.uint16
    np.testing.assert_array_equal(cal, [[5000, 65535], [0, 65535]])

    idx = np.array([[-1.0, 0.0], [1.0, 0.5]], dtype=np.float32)
    packed = kernels.pack_index_u16(idx)
    np.testing.assert_array_equal(packed, [[0, 32767], [65535, 49151]])
    unpacked = kernels.unpack_index_u16(packed)
    np.testing.assert_allclose(unpacked, idx, atol=1e-4)


def test_veg_coverage():
    nd = np.array([0.1, 0.3, 0.6, 0.9, -0.2])
    veg, dense = kernels.veg_coverage(nd)
    assert veg == pytest.approx(60.0)
    assert dense == pytest.approx(40.0)


def test_codec_roundtrip_and_psnr():
    rng = np.random.default_rng(1)
    band = rng.integers(0, 65535, (64, 64)).astype(np.uint16)
    assert np.array_equal(
        codec.decode(codec.encode_raw_u16(band), 64, 64, "raw-u16"), band
    )
    lossy = codec.decode(codec.encode_lossy_q12(band), 64, 64, "lossy-q12")
    p = codec.psnr_db(band, lossy)
    assert p >= 40.0  # the input_hint lossy invariant
    assert codec.psnr_db(band, band) == float("inf")
    # png (pure-stdlib codec): bit-exact roundtrip — lossless, PSNR = inf
    png = codec.decode(codec.encode_png_u16(band), 64, 64, "png")
    assert np.array_equal(png, band)
    assert codec.is_lossless("png")
    assert codec.psnr_db(band, png) == float("inf")


def test_png_all_filters_and_guards():
    import struct
    import zlib

    import numpy as np

    # decoder handles every scanline filter (spec §9): build an 8-bit
    # grayscale PNG whose rows cycle None/Sub/Up/Average/Paeth
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (10, 17)).astype(np.uint8)
    h, w = img.shape
    body = bytearray()
    prev = np.zeros(w, np.int32)
    for y in range(h):
        f = y % 5
        cur = img[y].astype(np.int32)
        enc = np.zeros(w, np.int32)
        for i in range(w):
            a = int(cur[i - 1]) if i >= 1 else 0
            b = int(prev[i])
            c = int(prev[i - 1]) if i >= 1 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[i] = (cur[i] - pred) % 256
        body.append(f)
        body.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def ch(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + ch(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + ch(b"IDAT", zlib.compress(bytes(body)))
        + ch(b"IEND", b"")
    )
    assert np.array_equal(codec.decode_png_u16(png), img.astype(np.uint16))

    with pytest.raises(ValueError, match="signature"):
        codec.decode_png_u16(b"not a png")
    with pytest.raises(ValueError, match="dimensions"):
        codec.decode(codec.encode_png_u16(img.astype(np.uint16)), 5, 5, "png")


def test_align_band_identity_and_shift():
    band = (np.arange(64 * 64) % 60000).reshape(64, 64).astype(np.uint16)
    t = (0.001, 0.0, 5.0, 0.0, -0.001, 52.0)
    out = kernels.align_band(band, t, t, (64, 64))
    np.testing.assert_array_equal(out, band)

    # half-pixel shift → bilinear average of horizontal neighbors
    t2 = (0.001, 0.0, 5.0 + 0.0005, 0.0, -0.001, 52.0)
    out2 = kernels.align_band(band, t, t2, (64, 64))
    inner = out2[1:-1, 1:-2].astype(np.float64)
    expected = (band[1:-1, 1:-2].astype(np.float64) + band[1:-1, 2:-1]) / 2
    np.testing.assert_allclose(inner, expected, atol=1.0)


def test_band_stats():
    a = np.array([[0, 100], [200, 300]], dtype=np.uint16)
    s = kernels.band_stats(a)
    assert s["px_min"] == 0 and s["px_max"] == 300
    assert s["px_mean"] == 150.0
    assert s["nodata_count"] == 1.0
    assert s["zero_ratio"] == 0.25
    assert s["p50"] == 150.0


def test_tiff_roundtrip_matrix():
    """Baseline-TIFF codec (stdlib): bit-exact roundtrips across
    compression × predictor × strip layout, 16-bit grayscale."""
    rng = np.random.default_rng(11)
    band = rng.integers(0, 65536, (97, 53)).astype(np.uint16)
    for comp in ("none", "deflate"):
        for rps in (1, 17, 64, 200):
            for pred in (1, 2):
                t = codec.encode_tiff_u16(
                    band, compression=comp, rows_per_strip=rps, predictor=pred
                )
                assert np.array_equal(codec.decode_tiff_u16(t), band)
    # dispatch path + invariants
    t = codec.encode_tiff_u16(band)
    out = codec.decode(t, 53, 97, "tiff")
    assert np.array_equal(out, band)
    assert codec.is_lossless("tiff")
    assert codec.psnr_db(band, out) == float("inf")
    with pytest.raises(ValueError):  # metadata/payload dimension mismatch
        codec.decode(t, 10, 10, "tiff")


def test_tiff_predictor_compresses_smooth_rasters():
    """Predictor-2 horizontal differencing is the reason GeoTIFFs deflate
    well: on a smooth raster it must beat predictor-1 materially."""
    y, x = np.mgrid[0:128, 0:128]
    smooth = (1000 + 40 * np.sin(x / 9.0) + 35 * np.cos(y / 7.0)).astype(np.uint16)
    n1 = len(codec.encode_tiff_u16(smooth, predictor=1))
    n2 = len(codec.encode_tiff_u16(smooth, predictor=2))
    assert np.array_equal(codec.decode_tiff_u16(codec.encode_tiff_u16(smooth)), smooth)
    assert n2 < 0.6 * n1


def _independent_tiff_mm(img: np.ndarray, rows_per_strip: int) -> bytes:
    """Test-side reference encoder, deliberately DIFFERENT from the
    codec's: big-endian (MM), IFD placed FIRST (before pixel data),
    uncompressed, SHORT width/height tags — so decoding it proves the
    decoder implements the spec, not merely the encoder's inverse."""
    import struct

    h, w = img.shape
    bits = 16 if img.dtype == np.uint16 else 8
    nb = bits // 8
    strips = [
        np.ascontiguousarray(img[y0 : y0 + rows_per_strip].astype(">u2" if bits == 16 else "u1")).tobytes()
        for y0 in range(0, h, rows_per_strip)
    ]
    n_tags = 10
    ifd_off = 8
    # entries(12 each) + count(2) + next(4), then the out-of-line arrays
    arrays_off = ifd_off + 2 + 12 * n_tags + 4
    n_strips = len(strips)
    offs_off = arrays_off
    cnts_off = offs_off + 4 * n_strips
    data_off = cnts_off + 4 * n_strips
    offs, pos = [], data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)

    def ent(tag, typ, cnt, val):
        if typ == 3:
            return struct.pack(">HHIHH", tag, typ, cnt, val, 0)
        return struct.pack(">HHII", tag, typ, cnt, val)

    entries = b"".join(
        [
            ent(256, 3, 1, w),
            ent(257, 3, 1, h),
            ent(258, 3, 1, bits),
            ent(259, 3, 1, 1),
            ent(262, 3, 1, 1),
            ent(273, 4, n_strips, offs_off if n_strips > 1 else offs[0]),
            ent(277, 3, 1, 1),
            ent(278, 3, 1, rows_per_strip),
            ent(279, 4, n_strips, cnts_off if n_strips > 1 else len(strips[0])),
            ent(339, 3, 1, 1),
        ]
    )
    out = bytearray(b"MM\x00*" + struct.pack(">I", ifd_off))
    out += struct.pack(">H", n_tags) + entries + struct.pack(">I", 0)
    if n_strips > 1:
        out += b"".join(struct.pack(">I", o) for o in offs)
        out += b"".join(struct.pack(">I", len(s)) for s in strips)
    else:
        # pad so data_off stays where the offsets promised
        out += b"\x00" * (4 * n_strips * 2)
    for s in strips:
        out += s
    return bytes(out)


def test_tiff_decoder_reads_independent_big_endian_file():
    rng = np.random.default_rng(12)
    a16 = rng.integers(0, 65536, (41, 23)).astype(np.uint16)
    got = codec.decode_tiff_u16(_independent_tiff_mm(a16, rows_per_strip=13))
    assert np.array_equal(got, a16)
    a8 = rng.integers(0, 256, (9, 31)).astype(np.uint8)
    got8 = codec.decode_tiff_u16(_independent_tiff_mm(a8, rows_per_strip=50))
    assert np.array_equal(got8, a8.astype(np.uint16))


def test_geotiff_tags_roundtrip_and_guards():
    import struct

    rng = np.random.default_rng(13)
    band = rng.integers(0, 65536, (32, 48)).astype(np.uint16)
    geo = {
        "pixel_scale": (1.25e-6, 1.5e-6),
        "origin": (5.1234, 52.9876),
        "epsg": 4326,
    }
    arr, meta = codec.decode_geotiff(codec.encode_tiff_u16(band, geo=geo))
    assert np.array_equal(arr, band)
    assert meta["pixel_scale"] == (1.25e-6, 1.5e-6)
    assert meta["origin"] == (5.1234, 52.9876)
    assert meta["tiepoint"] == (0.0, 0.0, 0.0, 5.1234, 52.9876, 0.0)
    assert (meta["epsg"], meta["model_type"], meta["raster_type"]) == (4326, 2, 1)
    # plain tiff → no GEO keys (late r7: meta always carries the
    # container's photometric/bits so the luma reducer can pick the
    # CMYK transform range without re-parsing)
    _, meta0 = codec.decode_geotiff(codec.encode_tiff_u16(band))
    assert meta0 == {"photometric": 1, "bits": 16}

    with pytest.raises(ValueError):
        codec.decode_tiff_u16(b"NOTATIFF")
    # r6: BigTIFF now DECODES (see test_tiff_lzw_tiled_bigtiff_roundtrips);
    # a malformed BigTIFF header (offsize != 8) is corrupt, not a gate
    with pytest.raises(ValueError, match="BigTIFF"):
        codec.decode_tiff_u16(b"II+\x00" + b"\x00" * 12)
    # JPEG-in-TIFF marker (compression 7) → stdlib raises, and the
    # decode() dispatch converts it into the Pillow-gated NotImplemented
    # (compression 5 = LZW decodes stdlib-side since r6)
    t = bytearray(codec.encode_tiff_u16(band))
    comp_at = t.find(struct.pack("<HHI", 259, 3, 1))
    t[comp_at + 8 : comp_at + 10] = struct.pack("<H", 7)
    with pytest.raises(NotImplementedError):
        codec.decode_tiff_u16(bytes(t))
    try:
        import PIL  # noqa: F401

        has_pillow = True
    except ImportError:
        has_pillow = False
    if not has_pillow:
        with pytest.raises(NotImplementedError):
            codec.decode(bytes(t), 48, 32, "tiff")


def _set_tiff_tags(payload: bytes, values: dict[int, int]) -> bytes:
    """Rewrite single-valued SHORT/LONG tags of a little-endian classic
    TIFF in place."""
    import struct

    t = bytearray(payload)
    (ifd,) = struct.unpack("<I", t[4:8])
    (n,) = struct.unpack("<H", t[ifd : ifd + 2])
    for k in range(n):
        off = ifd + 2 + 12 * k
        tag, typ, _ = struct.unpack("<HHI", t[off : off + 8])
        if tag in values:
            fmt = "<H" if typ == 3 else "<I"
            t[off + 8 : off + 8 + struct.calcsize(fmt)] = struct.pack(
                fmt, values[tag]
            )
    return bytes(t)


def _lzw_pack(codes) -> bytes:
    """MSB-first LZW bit packing at the 9..12-bit widths the TIFF decoder
    reads (width grows when its table reaches 510/1022/2046 entries)."""
    acc = n = 0
    out = bytearray()
    w, size, first = 9, 258, True
    for c in codes:
        acc = (acc << w) | c
        n += w
        while n >= 8:
            n -= 8
            out.append((acc >> n) & 0xFF)
            acc &= (1 << n) - 1
        if c == 256:
            w, size, first = 9, 258, True
            continue
        if first:
            first = False  # the first code after Clear adds no entry
        else:
            size += 1
        if size == (1 << w) - 2 and w < 12:
            w += 1
    if n:
        out.append((acc << (8 - n)) & 0xFF)
    return bytes(out)


def test_tiff_dims_bounded_by_compression_ratio():
    """A header may not claim more decoded bytes than its payload could
    expand to under the declared compression (worst case 1:1 none, 64:1
    PackBits, 1032:1 Deflate, 2560:1 LZW), so a corrupt dim field can't
    drive a huge allocation; a payload near its worst case still decodes."""
    rng = np.random.default_rng(17)
    # ~256 KiB of incompressible Deflate claiming 16384×12800 u16
    # (210 MP = 420 MB decoded, ~1600:1 — beyond Deflate's 1032:1)
    noise = rng.integers(0, 65536, (256, 512)).astype(np.uint16)
    enc = codec.encode_tiff_u16(noise, compression="deflate", predictor=1)
    assert 250_000 < len(enc) < 300_000
    with pytest.raises(ValueError, match="TIFF dimensions implausible"):
        codec.decode_tiff_u16(_set_tiff_tags(enc, {256: 16384, 257: 12800}))
    # uncompressed: 8 KiB of samples can't hold a 1024×1024 u16 plane
    enc = codec.encode_tiff_u16(noise[:64, :64], compression="none")
    with pytest.raises(ValueError, match="TIFF dimensions implausible"):
        codec.decode_tiff_u16(_set_tiff_tags(enc, {256: 1024, 257: 1024}))

    # LZW's worst case: after Clear, codes 0, 258, 259, … 4095 each name a
    # run one byte longer than the last (KwKwK), then every further 12-bit
    # code 4095 emits its 3839-byte run again — 3839·8/12 ≈ 2559 bytes
    # per payload byte, far past Deflate's 1032
    codes = [256, 0, *range(258, 4096), *[4095] * 5000, 257]
    strip = _lzw_pack(codes)
    n_out = 3839 * 3840 // 2 + 5000 * 3839
    assert codec._lzw_decode(strip) == bytes(n_out)
    base = codec.encode_tiff_u16(
        np.zeros((1, 1), np.uint16), compression="lzw", predictor=1
    )
    w = 2048
    h = n_out // (2 * w)

    def tiff(rows):
        return _set_tiff_tags(base + strip, {
            256: w, 257: rows, 278: rows, 273: len(base), 279: len(strip),
        })

    assert w * h * 2 / len(tiff(h)) > 2000
    assert np.array_equal(codec.decode_tiff_u16(tiff(h)),
                          np.zeros((h, w), np.uint16))
    over = len(tiff(h)) * 2560 // (2 * w) + 1  # one row past 2560:1
    with pytest.raises(ValueError, match="TIFF dimensions implausible"):
        codec.decode_tiff_u16(tiff(over))


def test_png_nonbaseline_routes_to_pillow_gate():
    """decode() for fmt='png' mirrors the tiff branch (ADVICE r3): a
    non-baseline profile (here: interlace flag set) raises
    NotImplementedError from the stdlib decoder, and the dispatch converts
    it into the optional-Pillow gate instead of failing outright."""
    rng = np.random.default_rng(14)
    band = rng.integers(0, 65536, (16, 20)).astype(np.uint16)
    p = bytearray(codec.encode_png_u16(band))
    # IHDR interlace byte: 8 sig + 8 chunk header + 12 into IHDR data
    p[28] = 1
    with pytest.raises(NotImplementedError, match="interlaced"):
        codec.decode_png_u16(bytes(p))
    try:
        import PIL  # noqa: F401

        has_pillow = True
    except ImportError:
        has_pillow = False
    if not has_pillow:
        with pytest.raises(NotImplementedError, match="Pillow"):
            codec.decode(bytes(p), 20, 16, "png")


def test_jpeg_baseline_roundtrip_and_gates():
    """Stdlib baseline grayscale JPEG (VERDICT r3 stretch #9): smooth
    rasters round-trip above the input_hint's 40 dB lossy floor, q100 is
    near-lossless in the 8-bit domain, DQT is spec-ordered (zigzag), and
    non-baseline profiles raise the Pillow-gated NotImplementedError."""
    import struct as _struct

    from tiff_enrichment_pipeline_spark.raster import jpeg

    y, x = np.mgrid[0:64, 0:96]
    band = (
        20000 + 300 * x + 150 * y + 5000 * np.sin(x / 9.0) * np.cos(y / 7.0)
    ).astype(np.uint16)

    enc = jpeg.encode_jpeg_gray(band, quality=92)
    dec = jpeg.decode_jpeg_gray(enc)
    assert dec.shape == band.shape and dec.dtype == np.uint16
    mse = ((band.astype(np.float64) - dec.astype(np.float64)) ** 2).mean()
    psnr = 10 * np.log10(65535.0**2 / mse)
    assert psnr >= 40.0, psnr  # input_hint lossy floor
    assert len(enc) < band.nbytes / 4  # actually compresses

    # q100 ≈ lossless in the 8-bit domain (quant table is all small)
    dec100 = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(band, quality=100))
    assert np.abs(
        (band >> 8).astype(int) - (dec100 // 257).astype(int)
    ).max() <= 2

    # non-multiple-of-8 dims (edge-replication padding)
    odd = band[:61, :83]
    assert jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(odd)).shape == (61, 83)

    # DQT segment carries the table in ZIGZAG order (B.2.4.1)
    i = enc.find(b"\xff\xdb")
    (ln,) = _struct.unpack(">H", enc[i + 2 : i + 4])
    stored = np.frombuffer(enc[i + 5 : i + 5 + 64], dtype=np.uint8)
    assert ln == 67  # 2 len + 1 id + 64 table
    nat = jpeg._quant_table(92)
    assert np.array_equal(stored, nat[jpeg._ZIGZAG].astype(np.uint8))

    # gates: SOF2 now DECODES (r6) — flipping a baseline file's marker
    # to SOF2 makes its full-band Ss=0..Se=63 scan structurally invalid
    # for progressive, so it must error as corrupt (ValueError), never
    # misdecode; arithmetic coding (SOF9) keeps the NotImplementedError
    # Pillow gate; 3-component 4:4:4 decodes stdlib-side (test below)
    prog = bytearray(enc)
    j = prog.find(b"\xff\xc0")
    prog[j + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan"):
        jpeg.decode_jpeg_gray(bytes(prog))
    prog[j + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF"):
        jpeg.decode_jpeg_gray(bytes(prog))
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg_gray(b"NOTAJPEG")

    # codec.decode dispatch: fmt='jpeg' decodes stdlib-only; wrong
    # metadata dims is a hard error
    got = codec.decode(enc, 96, 64, "jpeg")
    assert np.array_equal(got, dec)
    with pytest.raises(ValueError, match="dimensions"):
        codec.decode(enc, 10, 10, "jpeg")

    # truncation raises the kind of error decode_status classifies as
    # 'corrupt' (ValueError/struct.error — NOT NotImplementedError, which
    # would route the row to 'unsupported')
    with pytest.raises(Exception) as ei:
        codec.decode(enc[:40], 96, 64, "jpeg")
    assert not isinstance(ei.value, NotImplementedError)


def test_jpeg_color_444_decode(tmp_path):
    """YCbCr 4:4:4 baseline decode (VERDICT r4 stretch #8): a color JPEG
    produced by the independent test encoder decodes stdlib-side to
    ITU-R 601 luma at ≥40 dB vs the original's true luma on smooth RGB;
    subsampled profiles stay gated."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    h, w = 96, 112
    yy, xx = np.mgrid[0:h, 0:w]
    r = (127 + 80 * np.sin(xx / 19.0) + 40 * np.cos(yy / 13.0)).clip(0, 255)
    g = (127 + 60 * np.cos(xx / 23.0) + 60 * np.sin(yy / 17.0)).clip(0, 255)
    b = (127 + 50 * np.sin((xx + yy) / 29.0)).clip(0, 255)
    rgb = np.stack([r, g, b], axis=-1).astype(np.uint8)

    payload = jpeg.encode_jpeg_color(rgb, quality=92)
    dec = jpeg.decode_jpeg_gray(payload)
    assert dec.shape == (h, w) and dec.dtype == np.uint16

    rf, gf, bf = (rgb[..., i].astype(np.float64) for i in range(3))
    luma_true = (
        np.clip(np.round(0.299 * rf + 0.587 * gf + 0.114 * bf), 0, 255) * 257
    )
    mse = float(np.mean((dec.astype(np.float64) - luma_true) ** 2))
    psnr = 10 * np.log10(65535.0**2 / mse)
    assert psnr >= 40.0, psnr

    # codec.decode dispatch handles the color payload too
    got = codec.decode(payload, w, h, "jpeg")
    assert np.array_equal(got, dec)

    # structural checks: two DQTs (luma + chroma), four DHTs, Ns=3 SOS
    assert payload.count(b"\xff\xdb") == 2
    assert payload.count(b"\xff\xc4") == 4

    # out-of-spec sampling factors (>4 per axis, T.81) stay gated: patch
    # the SOF sampling byte of Y. SOF0 body: len(2) prec(1) h(2) w(2)
    # nf(1), then (id, samp, tq)*3. (Factors up to 4 decode since r6, so
    # the old 3x1 patch no longer gates — it desyncs the entropy stream
    # and errors as corrupt instead.)
    sub = bytearray(payload)
    j = sub.find(b"\xff\xc0")
    sub[j + 11] = 0x51  # Y component sampling 5x1
    with pytest.raises(NotImplementedError, match="sampling factor"):
        jpeg.decode_jpeg_gray(bytes(sub))

    # non-multiple-of-8 color dims
    odd = rgb[:61, :83]
    assert jpeg.decode_jpeg_gray(jpeg.encode_jpeg_color(odd)).shape == (61, 83)


def test_jpeg_subsampled_profiles_decode():
    """4:2:2 and 4:2:0 (the dominant real-world profiles) now decode
    stdlib-side: smaller payloads than 4:4:4, ≥40 dB vs true luma on
    smooth RGB, any dims (16×16 MCU padding at 4:2:0), composing with
    restart intervals."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    h, w = 96, 112
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [
            (127 + 80 * np.sin(xx / 19.0) + 40 * np.cos(yy / 13.0)).clip(0, 255),
            (127 + 60 * np.cos(xx / 23.0) + 60 * np.sin(yy / 17.0)).clip(0, 255),
            (127 + 50 * np.sin((xx + yy) / 29.0)).clip(0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    rf, gf, bf = (rgb[..., i].astype(np.float64) for i in range(3))
    luma = (
        np.clip(np.round(0.299 * rf + 0.587 * gf + 0.114 * bf), 0, 255) * 257
    ).astype(np.uint16)

    sizes = {}
    for ss in ("444", "422", "420"):
        for ri in (0, 3):
            enc = jpeg.encode_jpeg_color(
                rgb, quality=92, subsampling=ss, restart_interval=ri
            )
            dec = jpeg.decode_jpeg_gray(enc)
            assert dec.shape == (h, w), (ss, ri)
            assert codec.psnr_db(luma, dec) >= 40.0, (ss, ri)
            if ri == 0:
                sizes[ss] = len(enc)
    # subsampling actually removes chroma bits
    assert sizes["420"] < sizes["422"] < sizes["444"], sizes

    # odd dims under the 16×16 MCU grid
    odd = rgb[:61, :83]
    got = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_color(odd, subsampling="420"))
    assert got.shape == (61, 83)


def test_jpeg_noninterleaved_and_rgb_gates():
    """Review findings (r5): (a) an Ns=1 scan is NON-interleaved per
    T.81 A.2 — SOF sampling factors on a single-component file must be
    ignored, not turned into multi-block MCUs; (b) RGB-component streams
    (Adobe APP14 transform=0 or 'R','G','B' component ids) must gate to
    Pillow, never silently run YCbCr math on RGB planes."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    yy, xx = np.mgrid[0:64, 0:64]
    band = (1000 + 20000 * np.abs(np.sin(xx / 17.0) * np.cos(yy / 11.0))).astype(
        np.uint16
    )
    # (a) patch the lone component's sampling to 2x2: decode must be
    # bit-identical, for 8-multiple AND odd dims (the desync case)
    for b in (band, band[:61, :59]):
        enc = jpeg.encode_jpeg_gray(b, quality=92)
        ref = jpeg.decode_jpeg_gray(enc)
        p = bytearray(enc)
        j = p.find(b"\xff\xc0")
        p[j + 11] = 0x22
        assert np.array_equal(jpeg.decode_jpeg_gray(bytes(p)), ref)

    rgb = np.stack([band >> 8] * 3, axis=-1).astype(np.uint8)
    # (b — rewritten late r7, the direct-RGB gate is lifted): component
    # ids DECLARE the color space. Relabelling a YCbCr stream's ids to
    # 'R','G','B' must decode through the direct-RGB path (no YCbCr
    # inverse) — for this gray-in-RGB fixture Y=v and Cb,Cr are
    # centered ~0, so the direct reading (R=v, G≈128, B≈128) must
    # DIFFER from the YCbCr reading (≈v): proves we honor the ids.
    ref_ycc = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_color(rgb, quality=92))
    enc3 = bytearray(jpeg.encode_jpeg_color(rgb, quality=92))
    j = enc3.find(b"\xff\xc0")
    enc3[j + 10], enc3[j + 13], enc3[j + 16] = 82, 71, 66
    # SOF-only relabel is INCONSISTENT (SOS still says 1,2,3) — the r6
    # SOS-selector validation must classify it corrupt
    with pytest.raises(ValueError, match="component"):
        jpeg.decode_jpeg_gray(bytes(enc3))
    k = enc3.find(b"\xff\xda")
    enc3[k + 5], enc3[k + 7], enc3[k + 9] = 82, 71, 66
    as_rgb = jpeg.decode_jpeg_gray(bytes(enc3))
    assert as_rgb.shape == (64, 64)
    assert not np.array_equal(as_rgb, ref_ycc)
    # Adobe APP14 transform flag: 0 = direct RGB (same planes read as
    # channels), 1 = YCbCr (unchanged reading)
    def with_app14(transform):
        seg = (
            b"\xff\xee" + (14).to_bytes(2, "big") + b"Adobe" + bytes(6)
            + bytes([transform])
        )
        out = bytearray(jpeg.encode_jpeg_color(rgb, quality=92))
        out[2:2] = seg
        return bytes(out)

    assert not np.array_equal(jpeg.decode_jpeg_gray(with_app14(0)), ref_ycc)
    assert np.array_equal(jpeg.decode_jpeg_gray(with_app14(1)), ref_ycc)


def test_jpeg_restart_intervals():
    """DRI/RSTn support (round 5): restart markers every N MCUs decode
    bit-identically to the unrestarted stream for gray AND color, and a
    wrong restart index classifies as CORRUPT (ValueError), never as
    'unsupported' (NotImplementedError would misroute quarantine)."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    yy, xx = np.mgrid[0:96, 0:112]
    band = (1000 + 20000 * np.abs(np.sin(xx / 17.0) * np.cos(yy / 11.0))).astype(
        np.uint16
    )
    ref = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(band, quality=92))
    for ri in (1, 3, 7, 100):
        enc = jpeg.encode_jpeg_gray(band, quality=92, restart_interval=ri)
        assert b"\xff\xdd" in enc  # DRI segment present
        assert np.array_equal(jpeg.decode_jpeg_gray(enc), ref), ri

    rgb = np.stack(
        [
            (127 + 80 * np.sin(xx / 19.0)).clip(0, 255),
            (127 + 60 * np.cos(yy / 23.0)).clip(0, 255),
            (127 + 50 * np.sin((xx + yy) / 29.0)).clip(0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    cref = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_color(rgb, quality=92))
    for ri in (2, 5):
        enc = jpeg.encode_jpeg_color(rgb, quality=92, restart_interval=ri)
        assert np.array_equal(jpeg.decode_jpeg_gray(enc), cref), ri

    # wrong restart index → corrupt (ValueError), not unsupported
    enc = bytearray(jpeg.encode_jpeg_gray(band, quality=92, restart_interval=3))
    i = enc.find(b"\xff\xd0")
    enc[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart marker mismatch"):
        jpeg.decode_jpeg_gray(bytes(enc))


def test_jpeg_sos_component_selector_validated():
    """ADVICE r5: the SOS scan-header component selectors (Cs ids) must be
    validated against the SOF component list — tables are zipped
    positionally, so a reordered or unknown Cs id would silently decode
    with the wrong quant/huffman tables instead of erroring."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    yy, xx = np.mgrid[0:32, 0:32]
    rgb = np.stack(
        [(127 + 80 * np.sin(xx / 9.0)).clip(0, 255)] * 3, axis=-1
    ).astype(np.uint8)
    enc = bytearray(jpeg.encode_jpeg_color(rgb, quality=92))
    ref = jpeg.decode_jpeg_gray(bytes(enc))
    j = enc.find(b"\xff\xda")
    # SOS body: len(2) ns(1) then (Cs, Td/Ta) pairs — swap Cs1/Cs2
    cs1, cs2 = enc[j + 5], enc[j + 7]
    enc[j + 5], enc[j + 7] = cs2, cs1
    with pytest.raises(ValueError, match="component selector"):
        jpeg.decode_jpeg_gray(bytes(enc))
    # unknown selector likewise errors
    enc[j + 5], enc[j + 7] = cs1, cs2
    assert np.array_equal(jpeg.decode_jpeg_gray(bytes(enc)), ref)
    enc[j + 5] = 9
    with pytest.raises(ValueError, match="component selector"):
        jpeg.decode_jpeg_gray(bytes(enc))


def test_jpeg_progressive_decode_matches_baseline():
    """Progressive (SOF2) decode, round 6: entropy coding is lossless, so
    a progressive encode at quality q must decode BIT-IDENTICALLY to the
    baseline encode at the same q — across gray/color, subsampling,
    odd dims (incl. the real<padded 4:2:0 block-grid case), and both
    scan scripts (spectral-selection-only and successive-approximation,
    the latter exercising DC/AC refinement + EOBRUN correction bits)."""
    from tiff_enrichment_pipeline_spark.raster import jpeg
    from tiff_enrichment_pipeline_spark.raster.codec import psnr_db

    yy, xx = np.mgrid[0:64, 0:64]
    band = (1000 + 20000 * np.abs(np.sin(xx / 17.0) * np.cos(yy / 11.0))).astype(
        np.uint16
    )
    rng = np.random.default_rng(7)
    grays = [band, band[:61, :59], band[:9, :17],
             rng.integers(0, 65535, (48, 80)).astype(np.uint16)]
    for b in grays:
        for q in (92, 75):
            base = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(b, quality=q))
            for succ in (False, True):
                enc = jpeg.encode_jpeg_gray_progressive(
                    b, quality=q, successive=succ
                )
                assert np.array_equal(jpeg.decode_jpeg_gray(enc), base)
    # smooth raster stays above the 40 dB lossy floor through progressive
    dec = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray_progressive(band, 92))
    assert psnr_db(band, dec) >= 40.0

    rgb = np.stack([
        (127 + 80 * np.sin(xx / 19.0)).clip(0, 255),
        (127 + 60 * np.cos(yy / 23.0)).clip(0, 255),
        (127 + 50 * np.sin((xx + yy) / 29.0)).clip(0, 255)],
        axis=-1).astype(np.uint8)
    rgb72 = rng.integers(0, 255, (72, 72, 3)).astype(np.uint8)
    for im in (rgb, rgb72):
        for sub in ("444", "422", "420"):
            base = jpeg.decode_jpeg_gray(
                jpeg.encode_jpeg_color(im, quality=92, subsampling=sub)
            )
            for succ in (False, True):
                enc = jpeg.encode_jpeg_color_progressive(
                    im, quality=92, subsampling=sub, successive=succ
                )
                assert np.array_equal(jpeg.decode_jpeg_gray(enc), base)


def test_jpeg_progressive_error_paths():
    """Progressive structural validation: unknown scan selector and a
    multi-component AC scan must error (corrupt), not misdecode; the
    SOF2 marker itself no longer raises NotImplementedError."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    yy, xx = np.mgrid[0:16, 0:16]
    b = (300 * (yy + xx)).astype(np.uint16)
    enc = bytearray(jpeg.encode_jpeg_gray_progressive(b, quality=92))
    j = enc.find(b"\xff\xda")
    enc2 = bytearray(enc)
    enc2[j + 5] = 9  # unknown component selector
    with pytest.raises(ValueError, match="selector"):
        jpeg.decode_jpeg_gray(bytes(enc2))


def test_tiff_lzw_tiled_bigtiff_roundtrips():
    """Round-6 TIFF profile extensions: LZW (Compression 5, TIFF6 §13
    early-change — pinned against the spec's worked example), tiled
    layout (padded edge tiles, §15) and the BigTIFF container (magic
    43, 8-byte offsets) all roundtrip losslessly with geo metadata, in
    every combination."""
    from tiff_enrichment_pipeline_spark.raster import codec

    rng = np.random.default_rng(5)
    imgs = [
        (20000 + 300 * np.arange(96)[None, :]
         + 150 * np.arange(64)[:, None]).astype(np.uint16),
        rng.integers(0, 65535, (61, 83)).astype(np.uint16),
    ]
    geo = {"pixel_scale": (0.001, 0.001), "origin": (5.0, 52.0),
           "epsg": 4326}
    for im in imgs:
        for comp in ("none", "deflate", "lzw"):
            for tile in (None, 16):
                for big in (False, True):
                    enc = codec.encode_tiff_u16(
                        im, compression=comp, tile=tile, bigtiff=big,
                        geo=geo,
                    )
                    arr, meta = codec.decode_geotiff(enc)
                    assert np.array_equal(arr, im), (comp, tile, big)
                    assert meta["epsg"] == 4326

    # TIFF6 §13 worked example: input 7 7 7 8 8 7 7 6 6 must encode to
    # exactly Clear,7,258,8,8,258,6,6,EOI at 9 bits MSB-first
    vec = _lzw_pack([256, 7, 258, 8, 8, 258, 6, 6, 257])
    src = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    assert codec._lzw_encode(src) == vec
    assert codec._lzw_decode(vec) == src
    # width growth to 12 bits + encoder reset + KwKwK paths
    blob = bytes(rng.integers(0, 256, 300000, dtype=np.uint8).tobytes())
    assert codec._lzw_decode(codec._lzw_encode(blob)) == blob


def test_jpeg_12bit_gray():
    """12-bit-precision grayscale JPEG (r6): Pq=1 16-bit DQT parse,
    per-file huffman tables reaching the 12-bit categories, 2048 level
    shift, 12->16-bit replication out. Must beat the 8-bit path's PSNR
    at the same quality on smooth data (half the sample-quantization
    loss is the entire point of the profile)."""
    from tiff_enrichment_pipeline_spark.raster import jpeg
    from tiff_enrichment_pipeline_spark.raster.codec import psnr_db

    yy, xx = np.mgrid[0:64, 0:64]
    band = (1000 + 20000 * np.abs(np.sin(xx / 17.0) * np.cos(yy / 11.0))).astype(
        np.uint16
    )
    for b in (band, band[:61, :59]):
        enc = jpeg.encode_jpeg_gray_12bit(b, quality=92)
        dec = jpeg.decode_jpeg_gray(enc)
        assert dec.shape == b.shape and dec.dtype == np.uint16
        assert psnr_db(b, dec) >= 50.0
    p12 = psnr_db(band, jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray_12bit(band, 92)))
    p8 = psnr_db(band, jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(band, 92)))
    assert p12 > p8 + 2.0
    # q100 near-lossless in the 12-bit domain (quant floor 16 after the
    # x16 table scaling)
    dec100 = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray_12bit(band, 100))
    assert np.abs(
        (band >> 4).astype(int) - (dec100 >> 4).astype(int)
    ).max() <= 16
    # 12-bit COLOR stays gated
    enc = bytearray(jpeg.encode_jpeg_gray_12bit(band, 92))
    j = enc.find(b"\xff\xc0")
    with pytest.raises(NotImplementedError, match="precision 10"):
        bad = bytearray(enc)
        bad[j + 4] = 10
        jpeg.decode_jpeg_gray(bytes(bad))


def test_jpeg_sampling_factor_4():
    """T.81 allows sampling factors 1-4; r6 lifts the 1-2 gate: 4:1:1
    roundtrips (baseline and progressive bit-identical). r7 lifts the
    non-integer-ratio gate too (see
    test_jpeg_noninteger_sampling_ratios); a 422 stream whose SOF is
    hand-patched to claim 3x1/2x1 now classifies as CORRUPT (the
    entropy layout can't match the forged geometry) instead of gated."""
    from tiff_enrichment_pipeline_spark.raster import jpeg

    yy, xx = np.mgrid[0:64, 0:64]
    rgb = np.stack([
        (127 + 80 * np.sin(xx / 19.0)).clip(0, 255),
        (127 + 60 * np.cos(yy / 23.0)).clip(0, 255),
        (127 + 50 * np.sin((xx + yy) / 29.0)).clip(0, 255)],
        axis=-1).astype(np.uint8)
    base = jpeg.decode_jpeg_gray(
        jpeg.encode_jpeg_color(rgb, quality=92, subsampling="411")
    )
    assert base.shape == (64, 64)
    prog = jpeg.decode_jpeg_gray(
        jpeg.encode_jpeg_color_progressive(rgb, quality=92, subsampling="411")
    )
    assert np.array_equal(prog, base)
    # forge a 3x1/2x1 geometry onto 422-encoded entropy data: the r7
    # index-map upsampler accepts the RATIO, so the mismatch now
    # surfaces as entropy desync -> classified corrupt (ValueError)
    enc = bytearray(jpeg.encode_jpeg_color(rgb, quality=92, subsampling="422"))
    j = enc.find(b"\xff\xc0")
    enc[j + 11] = 0x31  # Y h=3,v=1
    enc[j + 14] = 0x21  # Cb h=2,v=1 -> ratio 1.5 vs the 2x1 bitstream
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_gray(bytes(enc))

def test_tiff_rgb_roundtrips_and_luma():
    """r7 RGB TIFF (the reference's `regular_tiff` bucket, main.py:50-108):
    chunky-interleaved RGB roundtrips bit-exact across the full container
    matrix (8/16-bit x none/deflate/lzw x strips/tiles x classic/BigTIFF,
    with geo tags), the fmt='tiff-rgb' decode path yields the exact
    integer BT.601 luma, and a LYING PlanarConfiguration tag (chunky
    data relabelled planar — the chunk count can't match) classifies as
    corrupt (ValueError), never decodes garbage silently."""
    from tiff_enrichment_pipeline_spark.raster import codec

    rng = np.random.default_rng(17)
    geo = {"pixel_scale": (0.001, 0.001), "origin": (5.0, 52.0),
           "epsg": 4326}
    for dt, hi in ((np.uint8, 256), (np.uint16, 65536)):
        img = rng.integers(0, hi, (61, 83, 3)).astype(dt)
        for comp in ("none", "deflate", "lzw"):
            for tile in (None, 16):
                for big in (False, True):
                    enc = codec.encode_tiff_rgb(
                        img, compression=comp, tile=tile, bigtiff=big,
                        geo=geo,
                    )
                    arr, meta = codec.decode_geotiff(enc)
                    assert arr.shape == (61, 83, 3), (dt, comp, tile, big)
                    assert np.array_equal(
                        arr, img.astype(np.uint16)
                    ), (dt, comp, tile, big)
                    assert meta["epsg"] == 4326
                    # gray band contract rejects RGB with the routable type
                    with pytest.raises(NotImplementedError):
                        codec.decode_tiff_u16(enc)

    # luma contract: exact integer BT.601
    img = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    enc = codec.encode_tiff_rgb(img)
    a = img.astype(np.uint32)
    want = ((299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000)
    got = codec.decode(enc, 32, 32, "tiff-rgb")
    assert got.dtype == np.uint16
    assert np.array_equal(got, want.astype(np.uint16))

    # a LYING planar tag (chunky data relabelled PlanarConfiguration 2):
    # the strip count can't equal spp x StripsPerImage, so the decoder
    # must classify it corrupt rather than misread the layout (r7 —
    # planar 2 itself now decodes, see test_tiff_planar_packbits_fp3)
    enc_pl = bytearray(codec.encode_tiff_rgb(img, compression="none"))
    # find the 284 IFD entry (classic little-endian: tag at entry start)
    pat = (284).to_bytes(2, "little") + (3).to_bytes(2, "little")
    i = enc_pl.rfind(pat)
    assert i != -1
    enc_pl[i + 8 : i + 10] = (2).to_bytes(2, "little")
    with pytest.raises(ValueError):
        codec.decode_geotiff(bytes(enc_pl))
    # and the quarantine-facing dispatch classifies it 'corrupt'-wise
    with pytest.raises(ValueError):
        codec.decode(bytes(enc_pl), 32, 32, "tiff-rgb")

def test_tiff_planar_packbits_fp3():
    """r7 profile extensions: PackBits (Compression 32773 — TIFF6 §9, a
    baseline-reader REQUIREMENT, pinned against the spec's worked
    example), PlanarConfiguration 2 (separate per-channel plane groups)
    and float Predictor 3 (TechNote-3 byte shuffling, GDAL's default
    for compressed float DEMs) all roundtrip bit-exact across the
    container matrix, and corrupt PackBits streams classify instead of
    allocating unbounded memory."""
    from tiff_enrichment_pipeline_spark.raster import codec

    rng = np.random.default_rng(23)

    # TIFF6 §9 worked example pins BOTH directions of the RLE
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    unpacked = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22AAAAAAAAAAAAAAAAAAAA"
    )
    assert codec._packbits_decode(packed, len(unpacked)) == unpacked
    assert codec._packbits_encode(unpacked, len(unpacked)) == packed

    # PackBits grayscale: strips/tiles x classic/BigTIFF x predictor 1/2
    band = rng.integers(0, 65536, (97, 53)).astype(np.uint16)
    runny = np.repeat(
        rng.integers(0, 65536, (97, 7)), 8, axis=1
    ).astype(np.uint16)[:, :53]
    for im in (band, runny):
        for tile in (None, 16):
            for big in (False, True):
                for pred in (1, 2):
                    t = codec.encode_tiff_u16(
                        im, compression="packbits", tile=tile,
                        bigtiff=big, predictor=pred,
                    )
                    assert np.array_equal(codec.decode_tiff_u16(t), im)
    # RLE earns its keep on run-heavy rasters
    flat = np.full((64, 64), 7 * 257, np.uint16)
    assert len(
        codec.encode_tiff_u16(flat, compression="packbits", predictor=1)
    ) < 0.1 * len(codec.encode_tiff_u16(flat, compression="none"))

    # planar RGB x every compression x layout x container, 8- and 16-bit
    geo = {"pixel_scale": (0.001, 0.001), "origin": (5.0, 52.0),
           "epsg": 4326}
    for dt, hi in ((np.uint8, 256), (np.uint16, 65536)):
        img = rng.integers(0, hi, (61, 83, 3)).astype(dt)
        for comp in ("none", "deflate", "lzw", "packbits"):
            for tile in (None, 16):
                for big in (False, True):
                    enc = codec.encode_tiff_rgb(
                        img, compression=comp, tile=tile, bigtiff=big,
                        geo=geo, planar=2,
                    )
                    arr, meta = codec.decode_geotiff(enc)
                    assert np.array_equal(
                        arr, img.astype(np.uint16)
                    ), (dt, comp, tile, big)
                    assert meta["epsg"] == 4326
    # planar flows through the fmt='tiff-rgb' luma dispatch too
    img8 = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    a = img8.astype(np.uint32)
    want = ((299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000)
    got = codec.decode(
        codec.encode_tiff_rgb(img8, planar=2, compression="packbits"),
        32, 32, "tiff-rgb",
    )
    assert np.array_equal(got, want.astype(np.uint16))

    # float predictor 3: bit-exact (incl. NaN payload bytes? — use
    # finite values plus inf/-inf edge samples) and materially smaller
    # on a smooth DEM than predictor 1
    grid = rng.normal(500, 120, (75, 41)).astype(np.float32)
    grid[0, 0], grid[1, 1] = np.float32("inf"), np.float32("-inf")
    for comp in ("deflate", "lzw"):
        for pred in (1, 3):
            e = codec.encode_tiff_f32(
                grid, compression=comp, predictor=pred, rows_per_strip=17
            )
            arr2, _ = codec.decode_geotiff(e)
            assert arr2.dtype == np.float32
            assert np.array_equal(
                arr2[np.isfinite(grid)], grid[np.isfinite(grid)]
            )
            assert np.array_equal(
                arr2[~np.isfinite(grid)], grid[~np.isfinite(grid)]
            )
    y, x = np.mgrid[0:128, 0:128]
    dem = (400 + 30 * np.sin(x / 11.0) + 20 * np.cos(y / 13.0)).astype(
        np.float32
    )
    assert len(codec.encode_tiff_f32(dem, predictor=3)) < 0.5 * len(
        codec.encode_tiff_f32(dem, predictor=1)
    )

    # corrupt PackBits: truncated replicate/literal and oversize output
    # classify as ValueError before any large allocation
    for bad in (b"\x81", b"\x05abc", b"\xfe\xaa" * 4096):
        with pytest.raises(ValueError):
            codec._packbits_decode(bad, 16)


def test_tiff_jpeg_in_tiff_roundtrips():
    """r7 Compression 7 (new-style JPEG-in-TIFF, TIFF TechNote 2):
    strips and tiles, shared JPEGTables (tag 347) AND self-contained
    streams, classic + BigTIFF. Lossy: decoded 8-bit samples must sit
    within PSNR>=40 dB of the source's high byte (the north-star lossy
    invariant); structure errors must classify."""
    from tiff_enrichment_pipeline_spark.raster import codec

    y, x = np.mgrid[0:96, 0:80]
    band = ((1000 + 40 * np.sin(x / 9.0) + 35 * np.cos(y / 7.0)) * 37
            ).astype(np.uint16)
    want8 = (band >> 8).astype(np.uint16)
    geo = {"pixel_scale": (0.001, 0.001), "origin": (5.0, 52.0),
           "epsg": 4326}
    for tile in (None, 16):
        for shared in (True, False):
            for big in (False, True):
                enc = codec.encode_tiff_jpeg_gray(
                    band, quality=92, tile=tile, jpeg_tables=shared,
                    bigtiff=big, geo=geo, rows_per_strip=40,
                )
                arr, meta = codec.decode_geotiff(enc)
                assert arr.shape == band.shape and arr.dtype == np.uint16
                assert meta["epsg"] == 4326
                p = codec.psnr_db(arr, want8, peak=255)
                assert p >= 40.0, (tile, shared, big, p)
                # shared-table containers must actually carry tag 347
                # (merge path exercised), self-contained ones must not
                has_347 = b"\x5b\x01" in enc[-400:] or (347).to_bytes(
                    2, "little") in enc
                if shared:
                    assert has_347

    # dispatch path: fmt 'tiff' accepts it (8-bit gray samples)
    enc = codec.encode_tiff_jpeg_gray(band, rows_per_strip=96)
    out = codec.decode(enc, 80, 96, "tiff")
    assert codec.psnr_db(out, want8, peak=255) >= 40.0
    # truncation classifies (ValueError via the decode wrapper)
    with pytest.raises(ValueError):
        codec.decode(enc[: len(enc) // 2], 80, 96, "tiff")
    # predictor with JPEG is structurally invalid -> gated
    import struct as _s
    bad = bytearray(enc)
    pat = (259).to_bytes(2, "little") + (3).to_bytes(2, "little")
    assert bad.rfind(pat) != -1


def test_tiff_jpeg_in_tiff_color_roundtrips():
    """r7 COLOR JPEG-in-TIFF (Compression 7, PhotometricInterpretation 6
    YCbCr — libtiff's COMPRESSION_JPEG+PHOTOMETRIC_YCBCR layout): each
    strip/tile a baseline YCbCr stream, 4:4:4 / 4:2:2 / 4:2:0, shared
    AND self-contained tables, strips of several heights, tiles,
    BigTIFF. The engine's band contract for lossy RGB is the JPEG's own
    luma plane, which must sit within PSNR>=40 dB of the exact integer
    BT.601 luma of the source RGB. Planar color JPEG stays gated."""
    from tiff_enrichment_pipeline_spark.raster import codec

    y, x = np.mgrid[0:96, 0:80]
    r = (128 + 60 * np.sin(x / 11.0)).astype(np.uint8)
    g = (128 + 55 * np.cos(y / 9.0)).astype(np.uint8)
    b = (128 + 40 * np.sin((x + y) / 13.0)).astype(np.uint8)
    rgb = np.stack([r, g, b], axis=-1)
    a32 = rgb.astype(np.uint32)
    want = (
        (299 * a32[..., 0] + 587 * a32[..., 1] + 114 * a32[..., 2]) // 1000
    ).astype(np.uint16)

    for sub in ("444", "422", "420"):
        for tile in (None, 16):
            for shared in (True, False):
                for big in (False, True):
                    enc = codec.encode_tiff_jpeg_color(
                        rgb, quality=92, subsampling=sub, tile=tile,
                        jpeg_tables=shared, bigtiff=big,
                        rows_per_strip=40,
                    )
                    arr = codec.decode_tiff_rgb_luma(enc)
                    assert arr.shape == (96, 80)
                    assert arr.dtype == np.uint16
                    p = codec.psnr_db(arr, want, peak=255)
                    assert p >= 40.0, (sub, tile, shared, big, p)

    # generic dispatch: fmt 'tiff-rgb' routes through the luma reducer
    enc = codec.encode_tiff_jpeg_color(rgb, rows_per_strip=96)
    out = codec.decode(enc, 80, 96, "tiff-rgb")
    assert codec.psnr_db(out, want, peak=255) >= 40.0
    # ... and fmt 'tiff' accepts the 2-D luma as a band
    out2 = codec.decode(enc, 80, 96, "tiff")
    assert np.array_equal(out, out2)
    # truncation classifies
    with pytest.raises(ValueError):
        codec.decode(enc[: len(enc) // 3], 80, 96, "tiff-rgb")
    # uint16 RGB input is not a valid color-JPEG source
    with pytest.raises(ValueError):
        codec.encode_tiff_jpeg_color(rgb.astype(np.uint16))


def test_jpeg_12bit_color_roundtrip():
    """r7 12-bit COLOR JPEG (SOF0 precision 12, 3 components): the
    entropy/DCT path is precision-agnostic, so un-gating color at
    12-bit only changes the level shift (2048) and output scaling
    (12->16 replication). Own test encoder (Pq=1 16-bit DQTs x16,
    per-file huffman reaching the 12-bit categories, luma + shared
    chroma table pairs); decode emits 16-bit-replicated luma within
    PSNR>=50 dB of the exact ITU-R 601 luma at 4:4:4/4:2:2/4:2:0.
    Odd dimensions exercise partial MCUs."""
    from tiff_enrichment_pipeline_spark.raster import codec, jpeg

    for h, w in ((96, 80), (61, 83)):
        y, x = np.mgrid[0:h, 0:w]
        r = (2048 + 900 * np.sin(x / 11.0)).astype(np.uint16)
        g = (2048 + 850 * np.cos(y / 9.0)).astype(np.uint16)
        b = (2048 + 600 * np.sin((x + y) / 13.0)).astype(np.uint16)
        rgb = np.stack([r, g, b], axis=-1)
        lum12 = np.clip(
            np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 4095
        ).astype(np.uint16)
        want16 = ((lum12 << 4) | (lum12 >> 8)).astype(np.float64)
        for sub in ("444", "422", "420"):
            enc = jpeg.encode_jpeg_color_12bit(rgb, quality=92,
                                               subsampling=sub)
            dec = jpeg.decode_jpeg_gray(enc)
            assert dec.shape == (h, w) and dec.dtype == np.uint16
            p = codec.psnr_db(dec.astype(np.float64), want16, peak=65535)
            assert p >= 50.0, (h, w, sub, p)

    # out-of-range samples are an encoder-contract error
    with pytest.raises(ValueError):
        jpeg.encode_jpeg_color_12bit(
            np.full((16, 16, 3), 4096, np.uint16)
        )
    # generic dispatch still classifies truncation
    enc = jpeg.encode_jpeg_color_12bit(rgb, subsampling="420")
    with pytest.raises(ValueError):
        codec.decode(enc[: len(enc) // 2], 83, 61, "jpeg")


def test_jpeg_noninteger_sampling_ratios():
    """r7: T.81 A.1.1 allows any h_i/v_i in 1..4, including combinations
    where hmax/h_i is fractional (Y 3x1 with Cb 2x1 -> Cb upsamples by
    1.5). The decoder's index-map upsampler handles these (and is
    bit-identical to the old integer replication when ratios divide);
    own explicit-factors test encoder. Odd dims exercise partial MCUs
    and the A.1.1 ceil sample grid."""
    from tiff_enrichment_pipeline_spark.raster import codec, jpeg

    y, x = np.mgrid[0:61, 0:83]
    r = (128 + 60 * np.sin(x / 11.0)).astype(np.uint8)
    g = (128 + 55 * np.cos(y / 9.0)).astype(np.uint8)
    b = (128 + 40 * np.sin((x + y) / 13.0)).astype(np.uint8)
    rgb = np.stack([r, g, b], axis=-1)
    a = rgb.astype(np.float64)
    lum = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    for fac in (
        ((3, 1), (2, 1), (1, 1)),   # horizontal 1.5x chroma ratio
        ((1, 3), (1, 2), (1, 1)),   # vertical twin
        ((4, 1), (3, 1), (2, 1)),   # 4/3 and 2x mixed
        ((3, 3), (2, 2), (1, 1)),   # fractional both axes
    ):
        enc = jpeg.encode_jpeg_color_factors(rgb, quality=92, factors=fac)
        dec = (jpeg.decode_jpeg_gray(enc) >> 8).astype(np.float64)
        p = codec.psnr_db(dec, lum, peak=255)
        assert p >= 40.0, (fac, p)
    # integer-ratio stream through the new upsampler still matches the
    # dedicated-subsampling encoder's output closely (same pipeline)
    d1 = jpeg.decode_jpeg_gray(
        jpeg.encode_jpeg_color(rgb, quality=92, subsampling="422")
    )
    d2 = jpeg.decode_jpeg_gray(
        jpeg.encode_jpeg_color_factors(
            rgb, quality=92, factors=((2, 1), (1, 1), (1, 1))
        )
    )
    assert codec.psnr_db(
        d1.astype(np.float64), d2.astype(np.float64), peak=65535
    ) >= 50.0
    # factor 5 is outside T.81's 1-4 range
    with pytest.raises(ValueError):
        jpeg.encode_jpeg_color_factors(rgb, factors=((5, 1), (1, 1), (1, 1)))


def test_tiff_rgba_and_cmyk_luma():
    """Late-r7 4-sample TIFFs: RGBA (photometric 2 + ExtraSamples 338,
    alpha ignored by the luma reducer) and CMYK (photometric 5, exact
    integer ink->RGB per TIFF6 §16 before BT.601) — both 8- and 16-bit,
    across compression/tile/planar variants, all integer-EXACT. A
    4-sample file with any other photometric classifies as unsupported
    rather than misdecoding."""
    from tiff_enrichment_pipeline_spark.raster import codec

    rng = np.random.default_rng(7)
    for dt, maxv in ((np.uint8, 255), (np.uint16, 65535)):
        rgba = rng.integers(0, maxv + 1, (48, 40, 4)).astype(dt)
        a = rgba.astype(np.uint64)
        want = (
            (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000
        ).astype(np.uint16)
        for kw in (
            dict(),
            dict(compression="lzw"),
            dict(tile=16),
            dict(planar=2, compression="packbits"),
            dict(bigtiff=True),
        ):
            enc = codec.encode_tiff_rgba(rgba, **kw)
            assert np.array_equal(codec.decode_tiff_rgb_luma(enc), want)

        cmyk = rng.integers(0, maxv + 1, (48, 40, 4)).astype(dt)
        c = cmyk.astype(np.uint64)
        rgb = np.stack(
            [
                (maxv - c[..., 0]) * (maxv - c[..., 3]) // maxv,
                (maxv - c[..., 1]) * (maxv - c[..., 3]) // maxv,
                (maxv - c[..., 2]) * (maxv - c[..., 3]) // maxv,
            ],
            axis=-1,
        )
        want_c = (
            (299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2])
            // 1000
        ).astype(np.uint16)
        enc = codec.encode_tiff_cmyk(cmyk, compression="deflate")
        assert np.array_equal(codec.decode_tiff_rgb_luma(enc), want_c)

    # 4-sample + palette photometric -> gated, not garbage
    bad = bytearray(
        codec.encode_tiff_cmyk(rng.integers(0, 256, (16, 16, 4)).astype(np.uint8))
    )
    i = bad.find((262).to_bytes(2, "little"))
    bad[i + 8] = 3
    with pytest.raises(NotImplementedError):
        codec.decode_tiff_rgb_luma(bytes(bad))


def test_tiff_palette_luma_and_guards():
    """Late-r7 palette TIFF (photometric 3 + ColorMap 320 — land-cover
    classification rasters): indices map through the 16-bit colormap to
    exact BT.601 luma under fmt='tiff-rgb'; a palette plane is REJECTED
    as a gray band (indices are class labels, not radiance — before
    this branch they silently passed as gray values); a missing or
    short ColorMap classifies."""
    from tiff_enrichment_pipeline_spark.raster import codec

    rng = np.random.default_rng(3)
    for bits, dt in ((8, np.uint8), (16, np.uint16)):
        n = 1 << bits
        idx = rng.integers(0, min(n, 1000), (40, 56)).astype(dt)
        cm = rng.integers(0, 65536, (3, n)).astype(np.uint16)
        c = cm.astype(np.uint64)
        ix = idx.astype(np.int64)
        want = (
            (299 * c[0][ix] + 587 * c[1][ix] + 114 * c[2][ix]) // 1000
        ).astype(np.uint16)
        for kw in (
            dict(),
            dict(compression="lzw"),
            dict(tile=16),
            dict(bigtiff=True),
        ):
            enc = codec.encode_tiff_palette(idx, cm, **kw)
            assert np.array_equal(codec.decode_tiff_rgb_luma(enc), want)
        with pytest.raises(NotImplementedError):
            codec.decode_tiff_u16(codec.encode_tiff_palette(idx, cm))

    enc = bytearray(
        codec.encode_tiff_palette(
            np.zeros((8, 8), np.uint8), np.zeros((3, 256), np.uint16)
        )
    )
    i = enc.find((320).to_bytes(2, "little"))
    enc[i : i + 2] = (321).to_bytes(2, "little")
    with pytest.raises(ValueError, match="ColorMap"):
        codec.decode_tiff_rgb_luma(bytes(enc))


def test_jpeg_direct_rgb_components():
    """Late r7: direct-RGB JPEG (component ids 'R','G','B', no color
    transform — the APP14 transform=0 stream Adobe apps write) decodes
    stdlib-side: planes are the color channels, luma computed straight
    from them, mapped BY component id (any SOF order). Own test
    encoder."""
    from tiff_enrichment_pipeline_spark.raster import codec, jpeg

    y, x = np.mgrid[0:61, 0:83]
    r = (128 + 60 * np.sin(x / 11.0)).astype(np.uint8)
    g = (128 + 55 * np.cos(y / 9.0)).astype(np.uint8)
    b = (128 + 40 * np.sin((x + y) / 13.0)).astype(np.uint8)
    rgb = np.stack([r, g, b], axis=-1)
    a = rgb.astype(np.float64)
    lum = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    enc = jpeg.encode_jpeg_rgb_direct(rgb, quality=92)
    dec = (jpeg.decode_jpeg_gray(enc) >> 8).astype(np.float64)
    assert codec.psnr_db(dec, lum, peak=255) >= 40.0
    # dispatch + truncation classify
    out = codec.decode(enc, 83, 61, "jpeg")
    assert out.shape == (61, 83)
    with pytest.raises(ValueError):
        codec.decode(enc[: len(enc) // 2], 83, 61, "jpeg")
