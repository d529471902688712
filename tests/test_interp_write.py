"""Interpolating kernels in the COG WRITE path (round 12, closes R7).

The reference writer accepts all 9 GDAL kernels and runs them per chunk
(/root/reference/ccog/ccog.py:41-53, validated :905-915, executed
:292-360). Here write_cog/write_ccog route bilinear/cubic/cubicspline/
lanczos/gauss through raster.pyramid.build_tile_pyramid (per-level
re-tile + halo-exchange convolution), and these tests pin:

- every written overview level equals the UNTILED driver-side
  convolution iterated from the written base level (tiling invariance
  of the bytes that actually land in the file);
- the odd-dimension rule: a level's trailing row/col (taps past the
  image edge) is nodata in the file;
- write_ccog accepts the kernels it used to refuse.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from ccog_spark.raster.cog import write_ccog, write_cog
from ccog_spark.raster.fixtures import BANDS, BLOCK, H, W, pixels_df
from ccog_spark.raster.halo import INTERP_KERNELS, interp_decimate_reference
from ccog_spark.raster.tiff import read_band, read_cog

NODATA = -9999.0


def _levels_from_file(path: str, bands: int):
    with open(path, "rb") as f:
        data = f.read()
    ifds = read_cog(data)
    out = []
    for ifd in ifds:
        out.append(
            np.stack([read_band(data, ifd, b) for b in range(bands)])
        )
    return out


@pytest.mark.parametrize("kernel", sorted(INTERP_KERNELS))
def test_write_cog_interp_pyramid_matches_untiled_reference(
    spark, tmp_path, kernel
):
    """Each written overview level must equal the untiled numpy
    reference convolution applied iteratively from the written base
    (float64/deflate is lossless, and the distributed tiled+halo
    kernel is bit-identical to the untiled reference)."""
    px = pixels_df(spark)
    out = str(tmp_path / f"interp_{kernel}.tif")
    res = write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel=kernel, nodata=NODATA,
    )
    levels = _levels_from_file(res.path, BANDS)
    assert len(levels) >= 3  # base + >=2 overviews at 160x96/32
    for lvl in range(1, len(levels)):
        prev = levels[lvl - 1]
        for b in range(BANDS):
            arr, ok = prev[b], prev[b] != NODATA
            want, _ = interp_decimate_reference(arr, ok, kernel, NODATA)
            got = levels[lvl][b]
            # written grid is ceil-halved; the reference emits the
            # floor-halved interior (even fixture dims: identical)
            assert got.shape == want.shape
            assert np.array_equal(got, want), (kernel, lvl, b)


def test_write_ccog_accepts_interp_kernels(spark, tmp_path):
    """write_ccog(overview_resampling=<interp>) must build the file it
    used to refuse (reference parity ccog/ccog.py:905-915)."""
    rng = np.random.default_rng(7)
    arr = np.floor(rng.uniform(0, 100, size=(64, 96))).astype("f8")
    out = str(tmp_path / "ccog_cubic.tif")
    res = write_ccog(
        spark, arr, out, blocksize=32, overview_resampling="cubic",
        nodata=NODATA,
    )
    levels = _levels_from_file(res.path, 1)
    assert len(levels) == 3  # 96x64/32 -> two overviews
    base = levels[0][0]
    assert np.array_equal(base, arr)
    for lvl in range(1, 3):
        prev = levels[lvl - 1][0]
        want, _ = interp_decimate_reference(
            prev, prev != NODATA, "cubic", NODATA
        )
        assert np.array_equal(levels[lvl][0], want), lvl


def test_write_cog_interp_odd_dims_trailing_nodata(spark, tmp_path):
    """Odd level dims: the ceil-halved grid's last row/col has taps
    past the image edge for EVERY interpolating kernel (all have an
    offset >= 1), so the written file holds nodata there and the
    floor-halved interior matches the untiled reference."""
    h, w = 33, 49
    vals = [
        (1, y, x, float((3 * y + 7 * x) % 50), True)
        for y in range(h)
        for x in range(w)
    ]
    px = spark.createDataFrame(
        vals, "band int, y int, x int, value double, valid boolean"
    )
    out = str(tmp_path / "odd.tif")
    res = write_cog(
        spark, px, width=w, height=h, bands=1, target_path=out,
        blocksize=16, kernel="cubic", nodata=NODATA,
    )
    levels = _levels_from_file(res.path, 1)
    lvl1 = levels[1][0]
    assert lvl1.shape == ((h + 1) // 2, (w + 1) // 2)  # 17 x 25
    assert np.all(lvl1[-1, :] == NODATA)
    assert np.all(lvl1[:, -1] == NODATA)
    base = levels[0][0]
    want, _ = interp_decimate_reference(base, base != NODATA, "cubic", NODATA)
    assert np.array_equal(lvl1[: h // 2, : w // 2], want)


def test_write_cog_interp_no_nodata_declares_all_valid(spark, tmp_path):
    """nodata=None: the raster declares no nodata, so a legitimate 0.0
    pixel must NOT be treated as invalid by the halo kernels — interior
    overview values match the all-valid reference convolution."""
    h, w = 32, 64
    vals = [
        (1, y, x, float((y * x) % 3), True)  # plenty of real zeros
        for y in range(h)
        for x in range(w)
    ]
    px = spark.createDataFrame(
        vals, "band int, y int, x int, value double, valid boolean"
    )
    out = str(tmp_path / "nonodata.tif")
    res = write_cog(
        spark, px, width=w, height=h, bands=1, target_path=out,
        blocksize=16, kernel="bilinear", nodata=None,
    )
    levels = _levels_from_file(res.path, 1)
    base = levels[0][0]
    want, ok = interp_decimate_reference(
        base, np.ones_like(base, dtype=bool), "bilinear", None
    )
    got = levels[1][0]
    # bilinear taps (0, 1) never cross the edge on even dims: all valid
    assert ok.all()
    assert np.array_equal(got, want)


def test_interp_write_with_internal_mask(spark, tmp_path):
    """Composition: interp overviews + internal MASK pages. The mask
    plane is the FIRST band's validity, which for interp levels is the
    all-taps-valid rule — the mask page must agree with the nodata
    sentinel in the data page at every level."""
    from ccog_spark.raster.tiff import read_mask

    px = pixels_df(spark)
    out = str(tmp_path / "mask_cubic.tif")
    res = write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel="cubic", nodata=NODATA,
        internal_mask=True,
    )
    with open(res.path, "rb") as f:
        data = f.read()
    all_ifds = read_cog(data)
    data_ifds = [i for i in all_ifds if not (i.subfile_type & 4)]
    mask_ifds = [i for i in all_ifds if i.subfile_type & 4]
    assert len(mask_ifds) == len(data_ifds)
    for lvl in range(min(2, len(data_ifds))):
        band0 = read_band(data, data_ifds[lvl], 0)
        m = read_mask(data, mask_ifds[lvl])[
            : data_ifds[lvl].height, : data_ifds[lvl].width
        ]
        assert np.array_equal(m.astype(bool), band0 != NODATA), lvl


def test_unknown_kernel_still_rejected(spark):
    px = pixels_df(spark)
    with pytest.raises(ValueError, match="unknown resampling"):
        write_cog(
            spark, px, width=W, height=H, bands=BANDS,
            target_path="/tmp/never.tif", blocksize=BLOCK,
            kernel="sinc_supreme",
        )


@pytest.mark.slow
def test_rebuild_cog_with_interp_kernel(spark, tmp_path):
    """The gdaladdo-style maintenance verb forwards the kernel into
    the write path — rebuilding an average-overview COG with
    kernel='bilinear' must produce overviews equal to the bilinear
    reference of the (unchanged) base level."""
    from ccog_spark.raster.cog import rebuild_cog

    px = pixels_df(spark)
    src = str(tmp_path / "src_avg.tif")
    write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=src,
        blocksize=BLOCK, kernel="average", nodata=NODATA,
    )
    dst = str(tmp_path / "rebuilt_bilinear.tif")
    res = rebuild_cog(spark, src, dst, kernel="bilinear")
    levels = _levels_from_file(res.path, BANDS)
    src_levels = _levels_from_file(src, BANDS)
    # base level unchanged byte-for-byte in pixel values
    assert np.array_equal(levels[0], src_levels[0])
    for b in range(BANDS):
        base = levels[0][b]
        want, _ = interp_decimate_reference(
            base, base != NODATA, "bilinear", NODATA
        )
        assert np.array_equal(levels[1][b], want)


def _pyramid_interp(px, kernel, bs, w, h, nodata):
    """build_tile_pyramid over long-form pixels: tile level 0 with the
    validity mask (as write_cog does), one interpolated level."""
    from ccog_spark.raster.pyramid import build_tile_pyramid
    from ccog_spark.raster.tiles import tiles_from_pixels

    level0 = tiles_from_pixels(
        px.selectExpr("0 AS level", "*"), bs,
        0.0 if nodata is None else nodata, w, h,
        dtype="float64", with_mask=True,
    )
    return build_tile_pyramid(
        level0, 1, kernel, bs, w, h, nodata, persist_levels=False
    )


def _level1_grids(rows, h, w, bs):
    """Collected pyramid tile rows → level-1 (value, valid) dense
    arrays, validity read from each tile's packed vmask."""
    oh, ow = h // 2, w // 2
    vals = np.full((oh, ow), np.nan)
    ok = np.zeros((oh, ow), dtype=bool)
    for r in rows:
        if r.level == 1:
            ys = slice(r.tile_y * bs, r.tile_y * bs + r.height)
            xs = slice(r.tile_x * bs, r.tile_x * bs + r.width)
            v = np.frombuffer(r.data, dtype="<f8").reshape(bs, bs)
            m = np.unpackbits(
                np.frombuffer(r.vmask, dtype=np.uint8), count=bs * bs
            ).astype(bool).reshape(bs, bs)
            ok[ys, xs] = m[: r.height, : r.width]
            vals[ys, xs] = np.where(ok[ys, xs], v[: r.height, : r.width], np.nan)
    return vals, ok


def test_interp_pyramid_valid_false_rows_stay_invalid_without_nodata(spark):
    """Round-13 ADVICE (medium): with nodata=None the re-tile fill is
    0.0 and the old sentinel round-trip declared EVERY pixel valid —
    input rows explicitly marked valid=false became valid zeros in the
    overview convolution. The packed vmask now rides with each tile, so
    the level-1 validity must equal the all-taps-valid rule applied to
    the TRUE input mask, and valid values must match the reference
    convolution that zero-weights the invalid pixels."""
    h, w = 32, 32
    rng = np.random.default_rng(21)
    arr = np.floor(rng.uniform(1, 9, (h, w)))
    valid = np.ones((h, w), dtype=bool)
    valid[5:9, 10:14] = False  # explicit valid=false patch
    arr[~valid] = 0.0  # at the nodata=None fill value — the trap
    vals = [
        (1, y, x, float(arr[y, x]), bool(valid[y, x]))
        for y in range(h)
        for x in range(w)
    ]
    px = spark.createDataFrame(
        vals, "band int, y int, x int, value double, valid boolean"
    )
    out = _pyramid_interp(px, "cubic", 16, w, h, None)
    got_v, got_ok = _level1_grids(out.collect(), h, w, 16)
    want, want_ok = interp_decimate_reference(arr, valid, "cubic", None)
    assert not want_ok.all()  # the patch must invalidate some outputs
    assert np.array_equal(got_ok, want_ok)
    assert np.array_equal(got_v[got_ok], want[want_ok])


def test_interp_pyramid_valid_pixel_at_nodata_value_stays_valid(spark):
    """Symmetric half of the same ADVICE item: with nodata set, a
    genuinely VALID pixel whose value equals nodata used to be flipped
    invalid by the sentinel re-derivation. With the mask it stays valid
    and contributes its (nodata-valued) sample to the convolution."""
    h, w = 32, 32
    arr = np.fromfunction(lambda y, x: (3 * y + 5 * x) % 11, (h, w))
    arr[8, 8] = NODATA  # valid pixel that HAPPENS to hold -9999.0
    valid = np.ones((h, w), dtype=bool)
    vals = [
        (1, y, x, float(arr[y, x]), True)
        for y in range(h)
        for x in range(w)
    ]
    px = spark.createDataFrame(
        vals, "band int, y int, x int, value double, valid boolean"
    )
    out = _pyramid_interp(px, "bilinear", 16, w, h, NODATA)
    got_v, got_ok = _level1_grids(out.collect(), h, w, 16)
    want, want_ok = interp_decimate_reference(arr, valid, "bilinear", NODATA)
    assert want_ok.all()  # true mask: every output pixel valid
    assert np.array_equal(got_ok, want_ok)
    assert np.array_equal(got_v, want)


@pytest.mark.parametrize("kernel", ["cubic", "average"])
def test_write_cog_unpersists_level_frames(spark, tmp_path, kernel):
    """Round-13 ADVICE (low): write_cog must release the pyramid level
    persists when the upload completes — repeated writes (the streaming
    foreachBatch COG sink) must not accumulate cached level frames."""
    spark.catalog.clearCache()
    px = pixels_df(spark)
    out = str(tmp_path / f"nopersistleak_{kernel}.tif")
    write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel=kernel, nodata=NODATA,
    )
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) == 0, [str(i.name()) for i in infos]
