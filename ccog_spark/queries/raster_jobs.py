"""Raster job corpus entries that are NOT SQL-expressible (no oracle →
driver records the weaker rows-only check): the full COG write job.

The strong correctness gate for the writer lives in tests/test_raster.py
(structure, pixel round-trip per level, multipart byte-identity) since
the duckdb oracle cannot parse TIFF bytes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ccog_spark.raster.cog import write_cog
from ccog_spark.raster.fixtures import BANDS, BLOCK, H, W, pixels_df
from ccog_spark.raster.tiff import read_cog


def cog_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end COG write of the fixture raster + read-back summary,
    in BOTH a float64/deflate profile and a uint8/predictor-2 profile
    (native dtypes + horizontal differencing, ≙ ccog profile dtype and
    predictor forwarding, ccog/ccog.py:452-478,952-955).

    Returns one row per (profile, IFD) of the produced files
    (deterministic: zlib at a fixed level, fixed layout), proving
    pyramid → tiles → encode → offset plan → ordered multipart write →
    parseable file for each dtype path.
    """
    from pyspark.sql import functions as F

    px = pixels_df(spark)
    profiles = [
        ("f64", px, dict(nodata=-9999.0)),
        # uint8 variant: values folded into [0, 200), nodata 255
        (
            "u8_pred2",
            px.select(
                "band", "y", "x",
                (F.floor(F.col("value")) % 200).cast("double").alias("value"),
                "valid",
            ),
            dict(nodata=255.0, dtype="uint8", predictor=2),
        ),
    ]
    rows = []
    for name, pixels, kw in profiles:
        out = os.path.join(tempfile.gettempdir(), f"ccog_corpus_{name}.tif")
        res = write_cog(
            spark, pixels, width=W, height=H, bands=BANDS, target_path=out,
            blocksize=BLOCK, kernel="average", **kw,
        )
        with open(res.path, "rb") as f:
            data = f.read()
        for i, ifd in enumerate(read_cog(data)):
            rows.append(
                (
                    name,
                    i,
                    ifd.width,
                    ifd.height,
                    ifd.subfile_type,
                    ifd.bits_per_sample,
                    ifd.predictor,
                    sum(1 for c in ifd.bytecounts if c == 0),
                    sum(1 for c in ifd.bytecounts if c > 0),
                    res.n_parts,
                    len(data),
                )
            )
    return spark.createDataFrame(
        rows,
        "profile string, ifd int, width int, height int, subfile_type int, "
        "bits int, predictor int, sparse_tiles int, data_tiles int, "
        "n_parts int, file_size int",
    )


def _interp_decimate_q(spark: SparkSession, kernel: str) -> DataFrame:
    """Halo-exchange interpolating 2× decimation (E21 ≙ ccog's
    interpolating resamplers, overlap table ccog/ccog.py:41-53).

    Oracle-checked: the DuckDB side re-expresses the separable
    convolution with conditional-pivot taps in the SAME association
    order as the numpy kernel, so doubles match bit-for-bit; the
    tiling-invariance test (tests/test_halo.py) additionally proves
    distributed tiled+halo == untiled numpy.
    """
    from pyspark.sql import functions as F

    from ccog_spark.raster.halo import interp_decimate
    from ccog_spark.raster.tiles import tiles_from_pixels

    px = pixels_df(spark)
    tiles = tiles_from_pixels(px, BLOCK, -9999.0, W, H)
    out = interp_decimate(tiles, BLOCK, kernel, -9999.0)
    return out.select(
        "band",
        "y",
        "x",
        # invalid outputs carry NaN in the kernel; emit NULL for the
        # oracle comparison. FLOOR(x*1e4+0.5)/1e4 instead of ROUND:
        # engines disagree on exact .xxxx5 boundaries (Spark rounds the
        # shortest-decimal repr, DuckDB the raw binary), while this
        # formula is plain double arithmetic — identical in both.
        F.when(
            F.col("valid"), F.floor(F.col("value") * 10000 + 0.5) / 10000.0
        ).alias("v"),
        "valid",
    ).orderBy("band", "y", "x")


def cubic_decimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cubic (Catmull-Rom) halo-exchange decimation — see
    _interp_decimate_q."""
    return _interp_decimate_q(spark, "cubic")


def cubicspline_decimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cubic-B-spline (GDAL 'cubicspline') halo-exchange decimation —
    see _interp_decimate_q; taps in raster.halo.CUBICSPLINE_TAPS."""
    return _interp_decimate_q(spark, "cubicspline")


def cog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable end-to-end proof of the COG writer (closes the
    one `no_oracle` gap): write the fixture raster (float64 / deflate /
    'average' overviews), parse the produced file with the in-repo TIFF
    reader (tiff.read_cog/read_band — the reference reads back via
    GDAL, ccog has no reader of its own), and emit every VALID pixel of
    the base image and the first overview. The DuckDB oracle recomputes
    both directly from the pixels CTE (base: identity; overview: the
    fixed-order corner-sum decimation) — a wrong byte anywhere in
    pyramid → tiles → encode → offset plan → ordered multipart
    assembly surfaces as a value-hash mismatch, not just a parse error.

    The read-back is driver-side numpy (~57k values) — verification
    convenience with the same barrier the reference has for its header
    task; the write path under test stays fully distributed.
    """
    import numpy as np
    from pyspark.sql import functions as F

    from ccog_spark.raster.tiff import read_band

    nodata = -9999.0
    px = pixels_df(spark)
    out = os.path.join(tempfile.gettempdir(), "ccog_corpus_roundtrip.tif")
    # ghost=True: the driver hash row also exercises the GDAL ghost
    # framing (structural-metadata area + per-tile leaders/trailers,
    # round 6) — transparent to pixel values, so the oracle is
    # unchanged; byte-level framing proofs live in tests/test_ghost.py
    res = write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel="average", nodata=nodata, ghost=True,
    )
    with open(res.path, "rb") as f:
        data = f.read()
    ifds = read_cog(data)
    rows = []
    for level in (0, 1):
        ifd = ifds[level]
        for b in range(BANDS):
            arr = read_band(data, ifd, b)
            ys, xs = np.nonzero(arr != nodata)
            vals = arr[ys, xs]
            rows.extend(
                (level, b + 1, int(y), int(x), float(v))
                for y, x, v in zip(ys.tolist(), xs.tolist(), vals.tolist())
            )
    df = spark.createDataFrame(
        rows, "level int, band int, y int, x int, v double"
    )
    return df.select(
        "level", "band", "y", "x", F.round("v", 4).alias("v")
    ).orderBy("level", "band", "y", "x")


def cog_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked INTERPOLATING-overview COG write (round 12 — closes
    the last R7 gap end-to-end): write the fixture raster with
    kernel='cubic' (the reference writer accepts any kernel in its
    overlap table and runs it per chunk, ccog/ccog.py:41-53,905-915,
    292-360; write_cog now routes the interpolating five through
    raster.pyramid.build_tile_pyramid), parse the produced file with
    the in-repo TIFF reader, and emit every VALID pixel of the base
    image and the first overview. The DuckDB oracle recomputes the
    overview DIRECTLY from the pixels CTE with the same
    fixed-association separable Catmull-Rom convolution the
    cubic_decimate row pins — so a wrong byte anywhere in re-tile →
    halo exchange → convolution → tiles → encode → offset plan →
    multipart assembly surfaces as a value-hash mismatch.

    Quantization uses FLOOR(v·1e4 + 0.5)/1e4 on both sides (the
    engine-stable half-up spelling; see _interp_decimate_q)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ccog_spark.raster.tiff import read_band

    nodata = -9999.0
    px = pixels_df(spark)
    out = os.path.join(tempfile.gettempdir(), "ccog_corpus_cubic.tif")
    res = write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel="cubic", nodata=nodata,
    )
    with open(res.path, "rb") as f:
        data = f.read()
    ifds = read_cog(data)
    rows = []
    for level in (0, 1):
        ifd = ifds[level]
        for b in range(BANDS):
            arr = read_band(data, ifd, b)
            ys, xs = np.nonzero(arr != nodata)
            vals = arr[ys, xs]
            rows.extend(
                (level, b + 1, int(y), int(x), float(v))
                for y, x, v in zip(ys.tolist(), xs.tolist(), vals.tolist())
            )
    df = spark.createDataFrame(
        rows, "level int, band int, y int, x int, v double"
    )
    return df.select(
        "level",
        "band",
        "y",
        "x",
        (F.floor(F.col("v") * 10000 + 0.5) / 10000.0).alias("v"),
    ).orderBy("level", "band", "y", "x")


def bilinear_decimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear (2-tap) halo-exchange decimation — see _interp_decimate_q."""
    return _interp_decimate_q(spark, "bilinear")


def gauss_decimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian (3-tap) halo-exchange decimation — see _interp_decimate_q."""
    return _interp_decimate_q(spark, "gauss")


def lanczos_decimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lanczos a=3 (6-tap) halo-exchange decimation — see
    _interp_decimate_q."""
    return _interp_decimate_q(spark, "lanczos")


def cog_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked WINDOWED read (round 7): write the fixture COG,
    reopen a pixel bbox through the distributed reader — tiles outside
    the window never enter the index (spatial pruning, the access
    pattern COG exists for) — and emit the in-window valid pixels. The
    oracle is the fixture pixels CTE filtered to the same half-open
    bbox (identity values: float64/deflate is lossless), so a fault in
    the tile-range math, the edge-tile clip, or the coordinate offsets
    shows as a hash mismatch."""
    from pyspark.sql import functions as F

    from ccog_spark.sources.cog_reader import read_cog_pixels

    nodata = -9999.0
    px = pixels_df(spark)
    out = os.path.join(tempfile.gettempdir(), "ccog_corpus_window.tif")
    write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel="average", nodata=nodata,
    )
    # window spans partial tiles on every edge (BLOCK=32): x 40..120, y 16..80
    df = read_cog_pixels(spark, out, window=(40, 16, 120, 80))
    return (
        df.where("valid")
        .select(
            (F.col("band") + 1).alias("band"),  # fixture bands are 1-based
            "y",
            "x",
            F.round(F.col("value"), 4).alias("v"),
        )
        .orderBy("band", "y", "x")
    )


def cog_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked 3-band COLOR JPEG COG row (round 7): write the
    smooth uint8 RGB fixture as pixel-interleaved YCbCr JPEG COGs in
    BOTH 4:4:4 and 4:2:0, multi-part (min_part_size forces >1 part, so
    the shared-JPEGTables invariant runs across parts like the
    reference's _test_jpegtables, ccog/ccog.py:261-289), then read each
    file back with the in-repo TIFF reader and emit per-IFD structure
    plus verdict flags.

    JPEG is lossy, so pixel values cannot be recomputed in SQL; what
    IS exactly checkable is everything structural — per-level
    dimensions, tile counts, PlanarConfiguration=1, Photometric=YCbCr
    subsampling tags, one shared tables copy, multi-part — which the
    DuckDB oracle derives independently from the fixture constants via
    a recursive ceil-halving CTE, plus a bounded-reconstruction-error
    verdict computed Spark-side against the exact integer fixture
    (tolerances with wide margin; a codec regression flips the flag and
    the row hash). Smooth ramps (pure integer arithmetic, no value
    wraps) keep JPEG error small and the verdict stable."""
    import numpy as np
    from pyspark.sql import functions as F

    from ccog_spark.raster import jpegcodec
    from ccog_spark.raster.tiff import read_band

    # smooth uint8 RGB ramps — deterministic integer arithmetic
    ids = spark.range(BANDS * H * W)
    band = F.floor(F.col("id") / (H * W)).cast("int") + 1
    y = F.floor((F.col("id") % (H * W)) / W).cast("int")
    x = (F.col("id") % W).cast("int")
    ramp_y = F.floor(y * 255 / (H - 1))
    ramp_x = F.floor(x * 255 / (W - 1))
    value = (
        F.when(band == 1, ramp_y)
        .when(band == 2, ramp_x)
        .otherwise(F.floor((ramp_y + ramp_x) / 2))
    ).cast("double")
    px = ids.select(
        band.alias("band"), y.alias("y"), x.alias("x"),
        value.alias("value"), F.lit(True).alias("valid"),
    )
    # driver-side exact original for the tolerance verdict
    yy, xx = np.mgrid[0:H, 0:W]
    ry = (yy * 255) // (H - 1)
    rx = (xx * 255) // (W - 1)
    orig = np.stack([ry, rx, (ry + rx) // 2]).astype(np.int64)

    tol = {"444": 24, "420": 48}  # measured ~8/~16; wide margin
    rows = []
    for sub in ("444", "420"):
        out = os.path.join(
            tempfile.gettempdir(), f"ccog_corpus_color_{sub}.tif"
        )
        res = write_cog(
            spark, px, width=W, height=H, bands=BANDS, target_path=out,
            blocksize=BLOCK, kernel="average", nodata=255.0,
            dtype="uint8", codec="jpeg", compress_level=90,
            pixel_interleave=True, jpeg_subsampling=sub,
            min_part_size=2 << 10,
        )
        with open(res.path, "rb") as f:
            data = f.read()
        tables = jpegcodec.make_tables(90)
        shared = data.count(tables) == 1
        ifds = read_cog(data)
        for i, ifd in enumerate(ifds):
            ok = True
            if i == 0:
                for b in range(BANDS):
                    got = read_band(data, ifd, b).astype(np.int64)
                    ok = ok and (
                        np.abs(got - orig[b]).max() <= tol[sub]
                    )
            else:
                # overviews: decoding works and fills the clip
                got = read_band(data, ifd, 0)
                ok = got.shape == (ifd.height, ifd.width)
            rows.append(
                (
                    sub, i, ifd.width, ifd.height, ifd.bands,
                    ifd.planar_config,
                    ifd.ycbcr_subsampling[0], ifd.ycbcr_subsampling[1],
                    sum(1 for c in ifd.bytecounts if c > 0),
                    sum(1 for c in ifd.bytecounts if c == 0),
                    res.n_parts > 1, shared, bool(ok),
                )
            )
    return spark.createDataFrame(
        rows,
        "sub string, ifd int, width int, height int, bands int, "
        "planar int, ych int, ycv int, data_tiles int, sparse_tiles int, "
        "multi_part boolean, tables_shared boolean, within_tol boolean",
    ).orderBy("sub", "ifd")


def cog_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED read-back proof (round 6; complements cog_roundtrip,
    whose read is driver-side numpy): write the fixture COG, reopen it
    through sources.cog_reader — header parsed on the driver, tile byte
    ranges seek+read+decoded on EXECUTORS — and emit every valid
    level-0 pixel. The oracle is the fixture pixels CTE itself
    (identity values), so any fault in the index build, range reads,
    codec dispatch, predictor inversion, or edge-tile clipping shows as
    a value-hash mismatch."""
    from pyspark.sql import functions as F

    from ccog_spark.sources.cog_reader import read_cog_pixels

    nodata = -9999.0
    px = pixels_df(spark)
    out = os.path.join(tempfile.gettempdir(), "ccog_corpus_read.tif")
    write_cog(
        spark, px, width=W, height=H, bands=BANDS, target_path=out,
        blocksize=BLOCK, kernel="average", nodata=nodata,
    )
    df = read_cog_pixels(spark, out)
    return (
        df.where("valid")
        .select(
            (F.col("band") + 1).alias("band"),  # fixture bands are 1-based
            "y",
            "x",
            F.round(F.col("value"), 4).alias("v"),
        )
        .orderBy("band", "y", "x")
    )


def cog_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked PALETTE COG row (round 10, closing R4): write a
    single-band uint8 raster of deterministic palette indices with
    write_cog(colormap=..., band_meta colorinterp), read the file back
    with the in-repo TIFF reader, and emit — for level 0 AND the
    first (nearest-kernel) overview — every pixel's index JOINED WITH
    ITS READ-BACK COLOR from that IFD's parsed ColorMap (tag 320,
    16-bit ×257 round trip) plus the parsed role="colorinterp"
    COLORINTERP metadata item (≙ reference write_colormap/colorinterp
    profile keys, ccog/ccog.py:229-235). The DuckDB oracle recomputes
    indices, the nearest decimation, and the palette arithmetic
    independently — a wrong palette byte, a broken per-page tag, or a
    scaling mistake shifts r/g/b and fails the value hash."""
    import re

    import numpy as np
    from pyspark.sql import functions as F

    from ccog_spark.raster.tiff import read_band

    pal = {i: (30 * i, 25 * i + 5, 40 * i + 10) for i in range(7)}
    ids = spark.range(H * W)
    y = F.floor(F.col("id") / W).cast("int")
    x = (F.col("id") % W).cast("int")
    px = ids.select(
        F.lit(1).alias("band"),
        y.alias("y"),
        x.alias("x"),
        ((y + 2 * x) % 7).cast("double").alias("value"),
        F.lit(True).alias("valid"),
    )
    out = os.path.join(tempfile.gettempdir(), "ccog_corpus_palette.tif")
    res = write_cog(
        spark, px, width=W, height=H, bands=1, target_path=out,
        blocksize=BLOCK, kernel="nearest", nodata=250.0, dtype="uint8",
        colormap=pal, band_meta={0: {"colorinterp": "Palette"}},
    )
    with open(res.path, "rb") as f:
        data = f.read()
    ifds = read_cog(data)
    m = re.search(
        r'<Item name="COLORINTERP" sample="0" role="colorinterp">'
        r"([^<]*)</Item>",
        ifds[0].metadata or "",
    )
    ci = m.group(1) if m else "MISSING"
    rows = []
    for level in (0, 1):
        ifd = ifds[level]
        cm = ifd.colormap or {}
        arr = read_band(data, ifd, 0)
        ys, xs = np.indices(arr.shape)
        for yy, xx, v in zip(
            ys.ravel().tolist(), xs.ravel().tolist(), arr.ravel().tolist()
        ):
            r, g, b = cm.get(int(v), (-1, -1, -1))
            rows.append((level, yy, xx, int(v), r, g, b, ci))
    return (
        spark.createDataFrame(
            rows,
            "level int, y int, x int, idx int, r int, g int, b int, "
            "ci string",
        )
        .orderBy("level", "y", "x")
    )
