"""Raster ingest (E3 ≙ ccog R1's array intake).

The reference accepts dask/xarray/numpy arrays with a chunking contract
(every spatial chunk a multiple of blocksize except the last,
ccog/ccog.py:940-946). Here:

- ``ingest_numpy``: a (bands, H, W) numpy array (+ optional validity
  mask, GDAL convention: non-zero = valid, ccog/ccog.py:817-819) →
  tile DataFrame. The driver plans tile keys; pixel payloads are
  shipped via Arrow ``createDataFrame`` already tiled — one row per
  tile, no per-pixel rows on the driver.
- ``ingest_windowed``: the 100 TB path — the driver creates only the
  tile-key DataFrame; executors read their own windows via a
  user-supplied reader callable inside mapInPandas (in production the
  reader is rasterio/zarr over object storage; not available in this
  container, so tests inject a numpy-backed reader).

Both emit the COG writer's level-0 tiles (raster.tiles.TILE_MASK_SCHEMA).
A pixel is valid iff the mask says so AND its value is not nodata.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from ccog_spark.raster.tiles import TILE_MASK_SCHEMA


def _tile_maker(bs: int, nd: float):
    """``to_tile(block, m)``: (h, w) values + mask → (full-blocksize
    float64 payload, packed vmask, valid count); edge padding is nodata
    and invalid. Self-contained, so it ships to executors by value."""

    def to_tile(block, m):
        import numpy as np

        h, w = block.shape
        full = np.full((bs, bs), nd, dtype="<f8")
        full[:h, :w] = np.where(m, block.astype("<f8"), nd)
        valid = np.zeros((bs, bs), dtype=bool)
        valid[:h, :w] = full[:h, :w] != nd
        return full.tobytes(), np.packbits(valid.ravel()).tobytes(), int(valid.sum())

    return to_tile


def plan_tiles(width: int, height: int, bands: int, blocksize: int):
    """Driver-side tile-key plan (pure math, ≙ chunk contract checks)."""
    tx = (width + blocksize - 1) // blocksize
    ty = (height + blocksize - 1) // blocksize
    keys = []
    for b in range(bands):
        for iy in range(ty):
            for ix in range(tx):
                h = min(blocksize, height - iy * blocksize)
                w = min(blocksize, width - ix * blocksize)
                keys.append((0, b, iy, ix, h, w))
    return keys


def ingest_numpy(
    spark: SparkSession,
    arr: np.ndarray,
    mask: np.ndarray | None = None,
    blocksize: int = 512,
    nodata: float = -9999.0,
) -> DataFrame:
    """(bands,H,W) array (2-D promoted to 3-D like ccog/ccog.py:935-939)
    → tile DataFrame."""
    if arr.ndim == 2:
        arr = arr[None, :, :]
    bands, height, width = arr.shape
    if mask is None:
        mask = np.ones((height, width), dtype=bool)
    to_tile = _tile_maker(blocksize, nodata)
    rows = []
    for (lvl, b, iy, ix, h, w) in plan_tiles(width, height, bands, blocksize):
        sl = (
            slice(iy * blocksize, iy * blocksize + h),
            slice(ix * blocksize, ix * blocksize + w),
        )
        data, vmask, n_valid = to_tile(arr[b][sl], mask[sl] != 0)
        rows.append((lvl, b, iy, ix, h, w, data, n_valid, vmask))
    return spark.createDataFrame(rows, TILE_MASK_SCHEMA)


def ingest_windowed(
    spark: SparkSession,
    width: int,
    height: int,
    bands: int,
    blocksize: int,
    reader,
    nodata: float = -9999.0,
) -> DataFrame:
    """Scale path: only (tile-key) rows leave the driver; each executor
    calls ``reader(band, y0, x0, h, w) -> (ndarray, mask)`` for its own
    tiles (the reader must be a self-contained picklable callable)."""
    keys = plan_tiles(width, height, bands, blocksize)
    keys_df = spark.createDataFrame(
        keys, "level int, band int, tile_y int, tile_x int, height int, width int"
    ).repartition(max(1, len(keys) // 4), "band", "tile_y", "tile_x")

    def make_kernel(rd, bs: int, to_tile):
        def read_tiles(it):
            for pdf in it:
                data, vmask, n_valid = [], [], []
                for r in pdf.itertuples(index=False):
                    block, m = rd(r.band, r.tile_y * bs, r.tile_x * bs, r.height, r.width)
                    d, vm, n = to_tile(block, m)
                    data.append(d)
                    vmask.append(vm)
                    n_valid.append(n)
                yield pdf.assign(data=data, valid_count=n_valid, vmask=vmask)

        return read_tiles

    return keys_df.mapInPandas(
        make_kernel(reader, blocksize, _tile_maker(blocksize, nodata)),
        TILE_MASK_SCHEMA,
    )


# --------------------------------------------------------------- xarray
def is_xarray_like(arr) -> bool:
    """True for xarray.DataArray and duck-typed equivalents (has
    .values/.dims/.attrs and is not a plain ndarray). Checked
    structurally so the path works whether or not xarray is installed
    in the runtime (it is not in this container)."""
    return (
        not isinstance(arr, np.ndarray)
        and hasattr(arr, "values")
        and hasattr(arr, "dims")
        and hasattr(arr, "attrs")
    )


def infer_geo_metadata(arr) -> dict:
    """nodata / transform / CRS inference from an xarray-like
    DataArray, mirroring the reference's rioxarray-accessor reads with
    user-override precedence handled by the caller (the reference fills
    profile['transform'/'crs'/'nodata'] from arr.rio and then layers
    user creation options on top, ccog/ccog.py:921-927).

    Sources, in preference order:

    - a rioxarray accessor (``arr.rio``) when that library is present;
    - CF/GDAL-convention attrs: ``_FillValue`` / ``nodata``;
      ``epsg`` / ``crs`` (int or "EPSG:nnnn" string);
    - 1-D cell-center coordinates named x/y — the same derivation
      rioxarray uses: pixel size from coordinate spacing, origin =
      first center minus half a pixel.

    Returns a dict with any of ``nodata`` (float) and ``geo``
    ({"origin", "px_size", "epsg"} — emitted only when complete, since
    GeoTIFF keys need all three); absent keys mean "nothing inferable".
    """
    out: dict = {}
    rio = getattr(arr, "rio", None)
    attrs = getattr(arr, "attrs", None) or {}

    nodata = None
    if rio is not None:
        try:
            nodata = rio.nodata
        except Exception:
            nodata = None
    if nodata is None:
        nodata = attrs.get("_FillValue", attrs.get("nodata"))
    if nodata is not None:
        out["nodata"] = float(nodata)

    origin = px_size = None
    if rio is not None:
        try:
            t = rio.transform()
            origin, px_size = (t.c, t.f), (t.a, t.e)
        except Exception:
            pass
    if origin is None:
        coords = getattr(arr, "coords", None) or {}
        try:
            xs = np.asarray(coords["x"], dtype="float64")
            ys = np.asarray(coords["y"], dtype="float64")
            if xs.ndim == ys.ndim == 1 and len(xs) > 1 and len(ys) > 1:
                sx = float(xs[1] - xs[0])
                sy = float(ys[1] - ys[0])
                origin = (float(xs[0]) - sx / 2.0, float(ys[0]) - sy / 2.0)
                px_size = (sx, sy)
        except (KeyError, TypeError, ValueError):
            pass

    epsg = None
    if rio is not None:
        try:
            crs = rio.crs
            epsg = crs.to_epsg() if crs is not None else None
        except Exception:
            pass
    if epsg is None:
        v = attrs.get("epsg", attrs.get("crs"))
        if isinstance(v, str) and v.upper().startswith("EPSG:"):
            epsg = int(v.split(":", 1)[1])
        elif isinstance(v, (int, np.integer)):
            epsg = int(v)

    if origin is not None and px_size is not None and epsg is not None:
        out["geo"] = {"origin": origin, "px_size": px_size, "epsg": epsg}
    return out
