"""Tile rows and the pixel ↔ tile conversions (SURVEY.md §1.4).

The reference's fundamental unit is the blocksize×blocksize compressed
tile (ccog/ccog.py:930-933). Here a tile is one DataFrame row:

    (level INT, band INT, tile_y INT, tile_x INT,
     height INT, width INT, data BINARY, valid_count INT)

``data`` is ALWAYS the full blocksize×blocksize little-endian row-major
block in the OUTPUT sample dtype (float64 by default; uint8 rasters
ship 1-byte samples — no 8× float64 inflation in flight) with invalid
pixels holding ``nodata`` — including edge tiles, which are padded with
nodata beyond the image clip (TIFF 6.0 requires every tile payload to
decompress to the full tile size; GDAL pads the same way). ``height``/``width`` carry the image-clip dims of
the tile, derived from the LEVEL GEOMETRY (image dims + blocksize), not
from the observed pixel indices — sparse input missing a tile's
trailing rows/columns must not shrink the tile.

The COG writer stays in tile form from ingest to encode: float64 +
validity-mask tiles (TILE_MASK_SCHEMA) through the pyramid, then
``cast_tiles`` to the output dtype. Pixels appear only at boundaries:
``tiles_from_pixels`` (``write_cog``'s level 0, the halo kernels'
output) and ``pixels_from_tiles`` (queries, statistics). Conversion
runs in Arrow-batched ``applyInPandas``/``mapInPandas``.

All UDF kernels are self-contained closures (no module references) so
executors need no importable ccog_spark package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TILE_SCHEMA = (
    "level int, band int, tile_y int, tile_x int, "
    "height int, width int, data binary, valid_count int"
)

# The writer's tile form: a float64 payload plus the packed validity
# grid ``vmask`` — np.packbits of the full blocksize×blocksize boolean
# mask (True only where a VALID pixel sits; sparse gaps, valid=false
# rows and edge padding are all False) — and valid_count equal to its
# popcount. Invalid pixels hold nodata; a valid pixel without a value
# (SQL NULL, or NaN from the input array) holds NaN. Kernels read
# validity from the mask, never from the nodata sentinel, so invalid
# pixels at the fill value and valid pixels whose value EQUALS nodata
# both survive (round-13 ADVICE). Cost: bs²/8 bytes per tile ≈ 1.6% of
# a float64 payload.
TILE_MASK_SCHEMA = TILE_SCHEMA + ", vmask binary"

PIXEL_SCHEMA = "level int, band int, y int, x int, value double, valid boolean"

# numpy dtype char per supported sample type (mirrors tiff.DTYPES;
# duplicated as a plain literal so UDF closures stay self-contained)
_NP_CHAR = {
    "uint8": "u1", "uint16": "u2", "uint32": "u4",
    "int8": "i1", "int16": "i2", "int32": "i4",
    "float32": "f4", "float64": "f8",
}


def tiles_from_pixels(
    pixels: DataFrame,
    blocksize: int,
    nodata: float = -9999.0,
    width: int | None = None,
    height: int | None = None,
    dtype: str = "float64",
    with_mask: bool = False,
) -> DataFrame:
    """Long-form pixels (level,band,y,x,value,valid) → tile rows.

    ``with_mask=True`` appends a ``vmask`` column (packed validity
    bits, see TILE_MASK_SCHEMA) so downstream kernels never have to
    infer validity from the nodata sentinel; valid rows without a value
    then hold NaN instead of nodata (float64 payloads only).

    One shuffle on the tile key; each group materializes its dense
    full-blocksize block in numpy and emits a single binary row.

    ``width``/``height`` are the LEVEL-0 image dims; per-tile clip dims
    follow from them (min(blocksize, level_dim - tile*blocksize)). When
    omitted (legacy/tests over dense fixtures), the clip is inferred
    from the max observed index — only safe when every tile's trailing
    row/column is present in the input.

    ``dtype`` sets the PAYLOAD dtype: blocks are assembled directly in
    the output sample type (same C-cast the encoder used to apply),
    so a uint8 raster ships 1-byte samples through the shuffle and the
    encode stage instead of 8-byte float64 working blocks — an 8×
    in-flight reduction at 100 TB, byte-identical output files.
    """
    np_dt = "<" + _NP_CHAR[dtype]
    if "level" not in pixels.columns:
        pixels = pixels.withColumn("level", F.lit(0))
    keyed = pixels.select(
        "level",
        "band",
        F.floor(F.col("y") / blocksize).cast("int").alias("tile_y"),
        F.floor(F.col("x") / blocksize).cast("int").alias("tile_x"),
        (F.col("y") % blocksize).cast("int").alias("iy"),
        (F.col("x") % blocksize).cast("int").alias("ix"),
        "value",
        "valid",
    )

    def make_kernel(bs: int, nd: float, im_w, im_h, np_dtype: str, mask: bool):
        def to_tile(pdf):
            import numpy as np
            import pandas as pd

            level = int(pdf["level"].iloc[0])
            band = int(pdf["band"].iloc[0])
            ty = int(pdf["tile_y"].iloc[0])
            tx = int(pdf["tile_x"].iloc[0])
            if im_w is not None:
                s = 1 << level
                lw, lh = -(-im_w // s), -(-im_h // s)
                h = max(0, min(bs, lh - ty * bs))
                w = max(0, min(bs, lw - tx * bs))
            else:
                h = int(pdf["iy"].max()) + 1
                w = int(pdf["ix"].max()) + 1
            dt = np.dtype(np_dtype)
            # C-cast of nodata into the sample type (identical to the
            # old float64-block-then-astype path, incl. int wrapping)
            fill = np.array(nd, dtype="f8").astype(dt).item()
            arr = np.full((bs, bs), fill, dtype=dt)
            valid = pdf["valid"].to_numpy()
            vals = pdf["value"].to_numpy(
                dtype="f8", na_value=np.nan if mask else nd
            )
            iy = pdf["iy"].to_numpy()
            ix = pdf["ix"].to_numpy()
            # same C-cast the encode kernel applied when payloads were
            # float64 working blocks
            arr[iy[valid], ix[valid]] = vals[valid].astype(dt)
            out = {
                "level": [level],
                "band": [band],
                "tile_y": [ty],
                "tile_x": [tx],
                "height": [h],
                "width": [w],
                "data": [arr.tobytes()],
                "valid_count": [int(valid.sum())],
            }
            if mask:
                vgrid = np.zeros((bs, bs), dtype=bool)
                vgrid[iy[valid], ix[valid]] = True
                out["vmask"] = [np.packbits(vgrid.ravel()).tobytes()]
            return pd.DataFrame(out)

        return to_tile

    return keyed.groupBy("level", "band", "tile_y", "tile_x").applyInPandas(
        make_kernel(blocksize, nodata, width, height, np_dt, with_mask),
        TILE_MASK_SCHEMA if with_mask else TILE_SCHEMA,
    )


def interleave_tiles(
    tiles: DataFrame,
    bands: int,
    blocksize: int,
    nodata: float = -9999.0,
    dtype: str = "uint8",
) -> DataFrame:
    """Merge per-band tile planes into ONE pixel-interleaved payload
    per (level, tile_y, tile_x) — the PlanarConfiguration=1 ("chunky")
    tile shape a color-JPEG COG stores (blocksize × blocksize × bands,
    band-last). Output rows carry band=0 (the interleaved tile IS all
    bands); valid_count is the sum over bands so a tile is sparse only
    when every band is.

    One shuffle keyed by the tile — same key cardinality as the tile
    grid, so this costs what the assembly groupBy cost; payload bytes
    move once. Missing band planes (fully-sparse in one band only) are
    filled with nodata, mirroring the writer's padding rule."""
    np_dt = "<" + _NP_CHAR[dtype]

    def make_kernel(bs: int, nb: int, nd: float, np_dtype: str):
        def merge(pdf):
            import numpy as np
            import pandas as pd

            dt = np.dtype(np_dtype)
            fill = np.array(nd, dtype="f8").astype(dt).item()
            arr = np.full((bs, bs, nb), fill, dtype=dt)
            for r in pdf.itertuples(index=False):
                arr[:, :, int(r.band)] = np.frombuffer(
                    r.data, dtype=dt
                ).reshape(bs, bs)
            first = pdf.iloc[0]
            return pd.DataFrame(
                {
                    "level": [int(first.level)],
                    "band": [0],
                    "tile_y": [int(first.tile_y)],
                    "tile_x": [int(first.tile_x)],
                    "height": [int(first.height)],
                    "width": [int(first.width)],
                    "data": [arr.tobytes()],
                    "valid_count": [int(pdf["valid_count"].sum())],
                }
            )

        return merge

    return tiles.groupBy("level", "tile_y", "tile_x").applyInPandas(
        make_kernel(blocksize, bands, nodata, np_dt), TILE_SCHEMA
    )


def cast_tiles(
    tiles: DataFrame,
    blocksize: int,
    nodata: float = -9999.0,
    dtype: str = "float64",
) -> DataFrame:
    """Writer tiles (TILE_MASK_SCHEMA, float64) → TILE_SCHEMA rows in
    the OUTPUT ``dtype``, map-side: valid pixels C-cast, invalid and
    valueless (NaN) ones at ``nodata`` — tiles_from_pixels' placement
    and cast, so payloads are byte-identical to re-tiling pixels."""
    np_dt = "<" + _NP_CHAR[dtype]

    def make_kernel(bs: int, nd: float, np_dtype: str):
        def cast(it):
            import numpy as np

            dt = np.dtype(np_dtype)
            fill = np.array(nd, dtype="f8").astype(dt).item()
            for pdf in it:
                data = []
                for d, vm in zip(pdf["data"], pdf["vmask"]):
                    v = np.frombuffer(d, dtype="<f8")
                    keep = np.unpackbits(
                        np.frombuffer(vm, dtype=np.uint8), count=bs * bs
                    ).astype(bool) & ~np.isnan(v)
                    arr = np.full(bs * bs, fill, dtype=dt)
                    arr[keep] = v[keep].astype(dt)
                    data.append(arr.tobytes())
                yield pdf.drop(columns="vmask").assign(data=data)

        return cast

    return tiles.mapInPandas(make_kernel(blocksize, nodata, np_dt), TILE_SCHEMA)


def pixels_from_tiles(
    tiles: DataFrame, blocksize: int, nodata: float = -9999.0,
    dtype: str = "float64",
) -> DataFrame:
    """Inverse transform: tile rows → long-form pixels (map-side only,
    no shuffle — each tile expands within its partition). Only the
    (height, width) image clip of each padded block is emitted.
    ``dtype`` must match the payload dtype the tiles were built with."""
    np_dt = "<" + _NP_CHAR[dtype]

    def make_kernel(bs: int, nd: float, np_dtype: str):
        def to_pixels(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                outs = []
                for r in pdf.itertuples(index=False):
                    arr = np.frombuffer(r.data, dtype=np_dtype).reshape(
                        bs, bs
                    )[: r.height, : r.width]
                    yy, xx = np.meshgrid(
                        np.arange(r.height), np.arange(r.width), indexing="ij"
                    )
                    valid = arr != nd
                    outs.append(
                        pd.DataFrame(
                            {
                                "level": r.level,
                                "band": r.band,
                                "y": (r.tile_y * bs + yy).ravel(),
                                "x": (r.tile_x * bs + xx).ravel(),
                                "value": np.where(valid, arr, np.nan).ravel(),
                                "valid": valid.ravel(),
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return to_pixels

    return tiles.mapInPandas(make_kernel(blocksize, nodata, np_dt), PIXEL_SCHEMA)
