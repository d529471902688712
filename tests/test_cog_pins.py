"""Byte-identity pins for the COG writer.

Each variant writes a small seeded raster and compares the file's
sha256 with a digest recorded from the pixel-pyramid writer (one row
per pixel, SQL ``decimate`` per level, ``tiles_from_pixels`` per
level). The tile-native writer must keep every written file
byte-identical, so a digest only changes together with a deliberate
format change.

The raster has odd dims (83×71 at blocksize 32, two overviews), one
wholly invalid tile, a ragged invalid patch across tile edges and valid
pixels that equal nodata; the ``write_cog`` variant also leaves one
input tile out entirely (sparse input).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

BS = 32
H, W = 71, 83


def pin_raster() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(2026)
    yy, xx = np.mgrid[0:H, 0:W]
    base = (2 * yy + xx) % 200 + 30
    arr = np.stack(
        [np.clip(base + rng.normal(0, 12, (H, W)) + 10 * b, 0, 255) for b in range(3)]
    ).astype(np.uint8)
    arr[:, 5:9, 60:70] = 0  # valid pixels equal to nodata (0)
    mask = np.ones((H, W), dtype=bool)
    mask[32:64, 0:32] = False  # tile (1, 0) wholly invalid
    mask[20:40, 25:45] &= rng.random((20, 20)) > 0.4  # ragged, crosses y=32 and x=32
    return arr, mask


def pin_pixels(spark, arr: np.ndarray, mask: np.ndarray, nodata: float):
    """Long-form pixels with 1-based band labels; tile (0, 2) is absent."""
    bands = arr.shape[0]
    yy, xx = np.mgrid[0:H, 0:W]
    keep = ~((yy < BS) & (xx >= 2 * BS) & (xx < 3 * BS))
    valid = mask & (arr[0] != nodata)
    frames = [
        pd.DataFrame({
            "band": b + 1,
            "y": yy[keep],
            "x": xx[keep],
            "value": np.where(valid, arr[b], np.nan)[keep].astype("f8"),
            "valid": valid[keep],
        })
        for b in range(bands)
    ]
    return spark.createDataFrame(
        pd.concat(frames, ignore_index=True),
        "band int, y int, x int, value double, valid boolean",
    )


def write_variant(spark, name: str, path: str) -> None:
    from ccog_spark.raster.cog import write_ccog, write_cog

    arr, mask = pin_raster()
    if name == "deflate_pred2":
        write_ccog(spark, arr, path, mask=mask, blocksize=BS, nodata=0,
                   codec="deflate", predictor=2)
    elif name == "jpeg_interleaved":
        write_ccog(spark, arr, path, mask=mask, blocksize=BS, nodata=0,
                   codec="jpeg", pixel_interleave=True, compress_level=75)
    elif name == "internal_mask":
        write_ccog(spark, arr, path, mask=mask, blocksize=BS, nodata=0,
                   overview_resampling="nearest", internal_mask=True)
    elif name == "ghost":
        write_ccog(spark, arr, path, mask=mask, blocksize=BS, nodata=0,
                   overview_resampling="mode", ghost=True)
    elif name == "statistics":
        write_ccog(spark, arr.astype("f4") * 0.5 - 20, path, mask=mask,
                   blocksize=BS, nodata=-20.0, overview_resampling="rms",
                   statistics=True)
    elif name == "write_cog_pixels":
        px = pin_pixels(spark, arr, mask, 0.0)
        write_cog(spark, px, W, H, 3, path, blocksize=BS, nodata=0.0,
                  dtype="float32", predictor=3, internal_mask=True)
    elif name == "cubic":
        write_ccog(spark, arr.astype("f4"), path, mask=mask, blocksize=BS,
                   nodata=0, overview_resampling="cubic")
    else:
        raise ValueError(name)


PINS = {
    "deflate_pred2": (
        "469ede53b04afd0e668e0cdf55d20810"
        "f7b5cda3da0d3e2cde6ea161ac24a313"
    ),
    "jpeg_interleaved": (
        "5af324c32e291526224af250494dded6"
        "b459ee4090b0d45f3ab0bae68677dfd2"
    ),
    "internal_mask": (
        "fa2ae0401e076ac08204c7e6009b3d4f"
        "e815c1356a31534eef7088d8542f6490"
    ),
    "ghost": (
        "08abd0d96959b6ae94433a1039e57443"
        "5d9eeab8c15ace91a00b7c4643974e7e"
    ),
    "statistics": (
        "0f6f8e5bb2b54555b2a1e11aaf81c8d4"
        "2a1175f98eb62a543a73e52234a9a615"
    ),
    "write_cog_pixels": (
        "abe676879c262e917baacbd8ac8d320b"
        "ef52fc4957460280aa2a17dafa1953a5"
    ),
    "cubic": (
        "5b640e78c4d717c18de60d1c76d40c9b"
        "1747e8f9007b500420f3f97b0fd2ca56"
    ),
}


@pytest.mark.parametrize("name", sorted(PINS))
def test_written_cog_matches_pinned_digest(spark, tmp_path, name):
    path = str(tmp_path / f"{name}.tif")
    write_variant(spark, name, path)
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    assert digest == PINS[name]
