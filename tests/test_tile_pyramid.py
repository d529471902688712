"""The writer's tile pyramid (raster.pyramid.build_tile_pyramid +
raster.tiles.cast_tiles) against the pixel-level oracle it replaced:
SQL ``decimate`` per level, then ``tiles_from_pixels`` per level. Both
must give the same tile keys, the same ``valid_count`` and the same
payload bytes, for every kernel and output dtype."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ccog_spark.raster.pyramid import KERNELS, build_pyramid, build_tile_pyramid
from ccog_spark.raster.tiles import cast_tiles, tiles_from_pixels

BS = 16
H, W = 53, 75  # odd dims; overview_count(75, 53, 16) == 3
LEVELS = 3
NODATA = 7.0
PIXEL_SCHEMA = "band int, y int, x int, value double, valid boolean"


def _pixels(spark, value, valid, skip_tile=(0, 2)):
    """(bands, H, W) arrays → long-form pixels; the input tile
    ``skip_tile`` is absent (sparse input). NaN values become SQL NULL."""
    yy, xx = np.mgrid[0:H, 0:W]
    keep = ~((yy // BS == skip_tile[0]) & (xx // BS == skip_tile[1]))
    return spark.createDataFrame(
        pd.concat(
            [
                pd.DataFrame({
                    "band": b,
                    "y": yy[keep],
                    "x": xx[keep],
                    "value": value[b][keep],
                    "valid": valid[b][keep],
                })
                for b in range(value.shape[0])
            ],
            ignore_index=True,
        ),
        PIXEL_SCHEMA,
    )


def _fixture(spark):
    rng = np.random.default_rng(5)
    # few distinct values so mode has real votes and ties
    value = rng.integers(1, 9, (2, H, W)).astype("f8") * 20
    valid = np.ones((2, H, W), dtype=bool)
    valid[:, 16:32, 0:16] = False  # tile (1, 0) wholly invalid
    valid[:, 28:37, 20:27] = rng.random((9, 7)) > 0.5  # ragged, crosses y=32
    value[:, 3, 5:11] = NODATA  # valid pixels equal to nodata
    value[0, 40, 40:44] = np.nan  # valid pixels without a value
    return _pixels(spark, value, valid)


def _oracle(px, kernel, dtype):
    return tiles_from_pixels(
        build_pyramid(px, LEVELS, kernel, persist_levels=False),
        BS, NODATA, W, H, dtype=dtype,
    )


def _tile_path(px, kernel, dtype):
    level0 = tiles_from_pixels(
        px.selectExpr("0 AS level", "*"), BS, NODATA, W, H,
        dtype="float64", with_mask=True,
    )
    pyr = build_tile_pyramid(level0, LEVELS, kernel, BS, W, H, persist_levels=False)
    return cast_tiles(pyr, BS, NODATA, dtype)


def _by_key(tiles):
    return {
        (r.level, r.band, r.tile_y, r.tile_x): (r.height, r.width, r.valid_count, r.data)
        for r in tiles.collect()
    }


def _assert_same(got, want):
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], k
        assert got[k][3] == want[k][3], k


@pytest.mark.parametrize("kernel", KERNELS)
def test_tile_pyramid_matches_pixel_pyramid(spark, kernel):
    px = _fixture(spark)
    for dtype in ("uint8", "float32"):
        want = _by_key(_oracle(px, kernel, dtype))
        assert {k[0] for k in want} == set(range(LEVELS + 1))
        _assert_same(_by_key(_tile_path(px, kernel, dtype)), want)


def test_tile_average_keeps_sql_null_and_nan_rules(spark):
    """A level-0 NaN is a SQL NULL (skipped by the corner sums); a NaN
    the average itself makes from +inf and -inf is a real value, which
    the next level keeps."""
    value = np.full((1, H, W), 40.0)
    valid = np.ones((1, H, W), dtype=bool)
    value[0, 0, 0], value[0, 0, 1] = np.inf, -np.inf  # level 1: NaN at (0, 0)
    value[0, 2, 0] = np.nan  # level 1: NULL skipped at (1, 0)
    px = _pixels(spark, value, valid)
    want = _by_key(_oracle(px, "average", "float64"))
    _assert_same(_by_key(_tile_path(px, "average", "float64")), want)
