"""Resolution pyramid: iterative 2× decimation (ccog/ccog.py:558-666).

The reference builds each overview level by running GDAL per chunk and
reassembling (ccog/ccog.py:603-659). Here a level is one
``groupBy(band, tile_y // 2, tile_x // 2).applyInPandas`` over the ≤4
child tiles of each parent tile (``build_tile_pyramid``; float64 +
validity-mask tiles, raster.tiles.TILE_MASK_SCHEMA) — one shuffle per
level, 4× smaller than its input, in a driver-side ``for level`` loop.

Non-interpolating kernels (overlap 0 in ccog's table, ccog/ccog.py:
43-53):

- ``average``: mean of the valid pixels in each 2×2 block. The sum is
  computed in a FIXED order (tl+tr)+(bl+br) so results are
  bit-deterministic regardless of row order — a plain AVG() would vary
  in the last ulp with partitioning.
- ``nearest``: the top-left pixel of each 2×2 block (GDAL picks the
  first sample).
- ``rms``: sqrt(mean(v²)) over valid pixels, same fixed-order sums.
- ``mode``: most frequent valid value; ties break to the smallest
  value (deterministic; GDAL takes first-seen, which is row-order
  dependent — we pin a stable rule instead).

An output pixel is valid when any contributing pixel is valid
(``average``/``rms``/``mode`` aggregate only valid inputs; ``nearest``
inherits the top-left pixel's validity).

``decimate``/``build_pyramid`` state the same rules as SQL over
long-form pixels: the registry queries (``pyramid_avg``, ``decim_*``)
and the tile kernel's bit-for-bit test oracle.

Interpolating kernels (bilinear/cubic/…) need halo exchange — see
raster.halo and ``build_tile_pyramid``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KERNELS = ("average", "nearest", "rms", "mode")


def _corner(name: str, dy: int, dx: int) -> Column:
    """Value of the 2×2-block corner (NULL when absent or invalid)."""
    return F.max(
        F.when(
            (F.col("y") % 2 == dy) & (F.col("x") % 2 == dx) & F.col("valid"),
            F.col(name),
        )
    )


def decimate(pixels: DataFrame, kernel: str = "average") -> DataFrame:
    """One 2× decimation step: (band,y,x,value,valid) → same schema at
    half resolution."""
    if kernel not in KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; expected one of {KERNELS}")
    oy = F.floor(F.col("y") / 2.0).cast("int")
    ox = F.floor(F.col("x") / 2.0).cast("int")
    g = pixels.groupBy(F.col("band"), oy.alias("y"), ox.alias("x"))

    if kernel == "nearest":
        agg = g.agg(
            F.max(
                F.when((F.col("y") % 2 == 0) & (F.col("x") % 2 == 0), F.col("value"))
            ).alias("value"),
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("y") % 2 == 0) & (F.col("x") % 2 == 0), F.col("valid")
                    )
                ),
                F.lit(False),
            ).alias("valid"),
        )
        return agg.select("band", "y", "x", "value", "valid")

    if kernel == "mode":
        # two-stage: count per (block, value) over valid pixels, then
        # pick max count with smallest-value tiebreak
        counted = (
            pixels.where("valid")
            .groupBy(F.col("band"), oy.alias("y"), ox.alias("x"), F.col("value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        picked = counted.groupBy("band", "y", "x").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("value")).alias("nv"))).alias("top")
        )
        with_mode = picked.select(
            "band", "y", "x", (-F.col("top.nv")).alias("value"), F.lit(True).alias("valid")
        )
        # blocks with no valid pixel: emit invalid NULL-value rows so the
        # grid stays dense (mirrors GDAL writing nodata)
        all_blocks = pixels.groupBy(F.col("band"), oy.alias("y"), ox.alias("x")).agg(
            F.lit(1).alias("_one")
        ).drop("_one")
        return all_blocks.join(with_mode, ["band", "y", "x"], "left").select(
            "band",
            "y",
            "x",
            "value",
            F.coalesce(F.col("valid"), F.lit(False)).alias("valid"),
        )

    # average / rms: fixed-order conditional sums
    src = F.col("value") if kernel == "average" else F.col("value") * F.col("value")
    tmp = pixels.select(
        "band", "y", "x", "valid", src.alias("v")
    )
    g2 = tmp.groupBy(F.col("band"), oy.alias("y"), ox.alias("x"))
    corners = g2.agg(
        _corner("v", 0, 0).alias("tl"),
        _corner("v", 0, 1).alias("tr"),
        _corner("v", 1, 0).alias("bl"),
        _corner("v", 1, 1).alias("br"),
    )
    cnt = (
        F.when(F.col("tl").isNotNull(), 1).otherwise(0)
        + F.when(F.col("tr").isNotNull(), 1).otherwise(0)
        + F.when(F.col("bl").isNotNull(), 1).otherwise(0)
        + F.when(F.col("br").isNotNull(), 1).otherwise(0)
    )
    total = (
        F.coalesce(F.col("tl"), F.lit(0.0)) + F.coalesce(F.col("tr"), F.lit(0.0))
    ) + (F.coalesce(F.col("bl"), F.lit(0.0)) + F.coalesce(F.col("br"), F.lit(0.0)))
    mean = total / cnt.cast("double")
    value = F.when(cnt > 0, mean if kernel == "average" else F.sqrt(mean))
    return corners.select(
        "band",
        "y",
        "x",
        value.alias("value"),
        (cnt > 0).alias("valid"),
    )


def overview_count(width: int, height: int, blocksize: int, cap: int = 30) -> int:
    """Pyramid depth: halve until the largest dim fits one block
    (GDAL-compatible rule, ccog/ccog.py:56-100)."""
    n = 0
    w, h = width, height
    while max(w, h) > blocksize and n < cap:
        w, h = (w + 1) // 2, (h + 1) // 2
        n += 1
    return n


def _tile_decimate_kernel(bs: int, kernel: str, im_w: int, im_h: int):
    """applyInPandas kernel: ≤4 child tiles → their parent tile, equal
    to ``decimate`` bit for bit. A valid NaN at level 0 is a SQL NULL
    (the corner sums skip it); higher up an average pyramid it is a
    real NaN from ±inf inputs (kept). Self-contained closure."""

    cols = ["level", "band", "tile_y", "tile_x", "height", "width",
            "data", "valid_count", "vmask"]

    def step(pdf):
        import numpy as np
        import pandas as pd

        level = int(pdf["level"].iloc[0]) + 1
        band = int(pdf["band"].iloc[0])
        py = int(pdf["tile_y"].iloc[0]) // 2
        px = int(pdf["tile_x"].iloc[0]) // 2
        v = np.full((2 * bs, 2 * bs), np.nan)
        m = np.zeros((2 * bs, 2 * bs), dtype=bool)
        for r in pdf.itertuples(index=False):
            ys = slice((r.tile_y - 2 * py) * bs, (r.tile_y - 2 * py + 1) * bs)
            xs = slice((r.tile_x - 2 * px) * bs, (r.tile_x - 2 * px + 1) * bs)
            v[ys, xs] = np.frombuffer(r.data, dtype="<f8").reshape(bs, bs)
            m[ys, xs] = np.unpackbits(
                np.frombuffer(r.vmask, dtype=np.uint8), count=bs * bs
            ).astype(bool).reshape(bs, bs)
        # 2×2 block corners in the fixed order tl, tr, bl, br
        cv = [v[dy::2, dx::2] for dy, dx in ((0, 0), (0, 1), (1, 0), (1, 1))]
        cm = [m[dy::2, dx::2] for dy, dx in ((0, 0), (0, 1), (1, 0), (1, 1))]
        if kernel == "nearest":
            out_v, out_m = cv[0], cm[0]
        elif kernel == "mode":
            nan = [np.isnan(c) for c in cv]
            # votes for corner i's value among the valid corners; NaN
            # (NULL) values form one group, as in SQL GROUP BY
            cnt = [
                np.where(cm[i], sum(
                    cm[j] & ((cv[i] == cv[j]) | (nan[i] & nan[j]))
                    for j in range(4)
                ), -1)
                for i in range(4)
            ]
            best_v, best_n, best_nan = cv[0], cnt[0], nan[0]
            for i in range(1, 4):
                # count ties go to the smaller value; NULL loses them all
                smaller = (cv[i] < best_v) | (best_nan & ~nan[i])
                take = (cnt[i] > best_n) | ((cnt[i] == best_n) & smaller)
                best_v = np.where(take, cv[i], best_v)
                best_n = np.where(take, cnt[i], best_n)
                best_nan = np.where(take, nan[i], best_nan)
            # + 0.0: SQL groups -0.0 with 0.0 and returns 0.0
            out_v, out_m = best_v + 0.0, cm[0] | cm[1] | cm[2] | cm[3]
        else:
            if level == 1:
                cm = [c & ~np.isnan(x) for c, x in zip(cm, cv)]
            if kernel == "rms":
                cv = [x * x for x in cv]
            s = [np.where(c, x, 0.0) for c, x in zip(cm, cv)]
            n = sum(c.astype("f8") for c in cm)
            out_m = n > 0
            total = (s[0] + s[1]) + (s[2] + s[3])
            mean = np.where(out_m, total / np.maximum(n, 1.0), np.nan)
            out_v = np.sqrt(mean) if kernel == "rms" else mean
        sc = 1 << level
        h = max(0, min(bs, -(-im_h // sc) - py * bs))
        w = max(0, min(bs, -(-im_w // sc) - px * bs))
        data = np.ascontiguousarray(out_v, dtype="<f8").tobytes()
        vmask = np.packbits(out_m.ravel()).tobytes()
        return pd.DataFrame(
            [[level, band, py, px, h, w, data, int(out_m.sum()), vmask]],
            columns=cols,
        )

    return step


def _stack_levels(base, levels, step, persist_levels, persist_registry):
    """Driver loop ≙ ccog's level loop (ccog/ccog.py:603-659): level k
    = step(level k-1, k); returns the union of levels 0..``levels``.
    Each intermediate level is persisted before deriving the next so
    it is computed once, not re-derived from level 0 for every consumer
    — the Spark analogue of the reference's
    ``to_delayed(optimize_graph=False)`` tradeoff (ccog/ccog.py:618-621).
    ``persist_registry``: when a list is passed, every persisted level
    frame is appended so the CALLER can unpersist them once the pyramid
    is consumed (write_cog does — otherwise repeated writes, e.g. a
    streaming foreachBatch COG sink, would leak cached level frames for
    the session's lifetime)."""
    out = cur = base
    for lvl in range(1, levels + 1):
        cur = step(cur, lvl)
        if persist_levels and lvl < levels:
            cur = cur.persist()
            if persist_registry is not None:
                persist_registry.append(cur)
        out = out.unionByName(cur)
    return out


def build_tile_pyramid(
    tiles: DataFrame,
    levels: int,
    kernel: str,
    blocksize: int,
    width: int,
    height: int,
    nodata: float | None = None,
    persist_levels: bool = True,
    persist_registry: list | None = None,
) -> DataFrame:
    """The writer's pyramid: level-0 writer tiles (TILE_MASK_SCHEMA,
    float64, 0-based bands) → union of the tiles of levels
    0..``levels``. ``width``/``height`` are the LEVEL-0 image dims.

    KERNELS run the tile kernel above. Interpolating kernels (closes R7:
    the reference runs all 9 GDAL kernels per chunk, ccog/ccog.py:
    41-53,905-915,292-360) run raster.halo.interp_decimate (strip emit
    + one tile-key shuffle, float64 so the convolution is exact), then
    one groupBy-tile shuffle re-tiles the output with its validity
    mask; the halo adds ~2·halo/blocksize (<2%) over the re-tile.
    Their validity rule (pinned GDAL divergence): an output pixel is
    valid iff ALL taps are valid, so the last row/col of an ODD level
    dim (taps past the edge) is nodata. The mask keeps valid=false rows
    invalid under nodata=None and valid pixels equal to nodata valid
    (round-13 ADVICE fix).
    """
    from ccog_spark.raster.halo import INTERP_KERNELS, interp_decimate
    from ccog_spark.raster.tiles import TILE_MASK_SCHEMA, tiles_from_pixels

    if kernel in KERNELS:
        def step(cur, lvl):
            return cur.groupBy(
                "level", "band", F.expr("tile_y div 2"), F.expr("tile_x div 2")
            ).applyInPandas(
                _tile_decimate_kernel(blocksize, kernel, width, height),
                TILE_MASK_SCHEMA,
            )
    elif kernel in INTERP_KERNELS:
        def step(cur, lvl):
            px = interp_decimate(cur, blocksize, kernel, nodata)
            return tiles_from_pixels(
                px.withColumn("level", F.lit(lvl)), blocksize,
                0.0 if nodata is None else nodata, width, height,
                dtype="float64", with_mask=True,
            )
    else:
        raise ValueError(
            f"unknown resampling kernel {kernel!r}; expected one of "
            f"{sorted((*KERNELS, *INTERP_KERNELS))}"
        )
    return _stack_levels(tiles, levels, step, persist_levels, persist_registry)


def build_pyramid(
    pixels: DataFrame,
    levels: int,
    kernel: str = "average",
    persist_levels: bool = True,
    persist_registry: list | None = None,
) -> DataFrame:
    """Pixel-level pyramid: a union of level-tagged long-form pixel
    DataFrames, one ``decimate`` aggregate per level (the registry's
    ``pyramid_avg`` query and the tile pyramid's test oracle)."""
    return _stack_levels(
        pixels.withColumn("level", F.lit(0)), levels,
        lambda cur, lvl: decimate(cur, kernel).withColumn("level", F.lit(lvl)),
        persist_levels, persist_registry,
    )
