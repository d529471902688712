"""Distributed COG writer (E3/E4/E23/E24 ≙ ccog write_ccog).

The end-to-end job, re-architected for Spark from the reference's dask
graph (ccog/ccog.py:558-666 + aws_tools.py:181-245):

1. level-0 tiles: ``write_ccog`` ingests the array as dense float64
   tiles with a packed validity mask (sources.raster_ingest ≙ the chunk
   layout contract, ccog/ccog.py:940-946); ``write_cog`` tiles its
   long-form pixels once, at level 0 (raster.tiles.tiles_from_pixels).
2. pyramid: driver level loop, one tile-level shuffle per level —
   ``groupBy(band, tile_y // 2, tile_x // 2)`` over the ≤4 child tiles
   (raster.pyramid ≙ ccog's _COG_graph_builder loop). Pixels never
   appear as rows here.
3. encode: cast each tile to the output dtype (raster.tiles.cast_tiles),
   then Arrow-batched mapInPandas, zlib deflate per tile; tiles with
   zero valid pixels are elided BEFORE encoding (sparse tiles,
   ccog/ccog.py:443) — they cost neither CPU nor bytes. Mask tiles pack
   band 0's validity mask directly.
4. index collect: only (tile key, nbytes) reaches the driver — a few
   ints per tile, which is what keeps this safe at 100 TB
   (ccog/ccog.py:661-663 has the same property; SURVEY §4.4).
5. plan: raster.tiff.build_cog_plan computes the header + final offsets
   (≙ _ifd_offset_adjustments + prep_tiff_header, ccog/ccog.py:669-799).
6. ordered multipart write: sinks.mpu two-pass protocol (≙
   mpu_upload_dask_partitioned); header is segment 0.

Returns the CogPlan and the completed object path.
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ccog_spark.raster import codecs as codecs_mod
from ccog_spark.raster import tiff
from ccog_spark.raster.pyramid import build_tile_pyramid, overview_count
from ccog_spark.raster.tiles import cast_tiles, tiles_from_pixels
from ccog_spark.sinks.mpu import pack_parts, resolve_store, upload_segments

ENC_SCHEMA = (
    "level int, band int, tile_y int, tile_x int, "
    "height int, width int, nbytes int, data binary"
)


def encode_tiles(
    tiles: DataFrame,
    compress_level: int = 6,
    overview_compress_level: int | None = None,
    codec: str = "deflate",
    blocksize: int = 512,
    dtype: str = "float64",
    predictor: int = 1,
    overview_codec: str | None = None,
    overview_predictor: int | None = None,
    encode_override=None,
) -> DataFrame:
    """Encode tile payloads (map-side, Arrow-batched); sparse tiles (no
    valid pixels) are filtered out up front.

    Payloads arrive as full blocksize² blocks ALREADY in the output
    ``dtype`` (raster.tiles.cast_tiles); the kernel
    applies the TIFF predictor (2 = integer horizontal differencing,
    3 = float byte differencing — same math as tiff.predict_tile,
    inlined so the closure stays self-contained), then compresses.

    ``overview_*`` let overviews use different settings than level 0
    (≙ ccog's overview_compress/quality derivation, _adjust_compression
    ccog/ccog.py:452-478)."""
    np_dt = tiff.np_dtype_le(dtype)

    def make_kernel(
        bs, np_dtype, lvl0, ov_lvl, cdc0, ov_cdc, pr0, ov_pr,
        exp_tables, tables_fn, exp_tables_ov, tables_fn_ov, enc0, enc_ov,
    ):
        # ONE predictor implementation (codecs.predict_tile), pickled
        # by value like the codec fns — no worker import, no inline
        # mirror to drift (round-6 review)
        predict = codecs_mod.predict_tile

        def enc(it):
            import lzma
            import zlib

            import numpy as np
            import pandas as pd

            # SELF-CONTAINED closure: no ccog_spark import may run here
            # — workers only see the package when the driver's cwd
            # happens to make it importable. Codec encode/tables fns
            # arrive pickled BY VALUE (encode_tiles registers the
            # codecs module with cloudpickle's by-value pickling).

            # Per-part shared-tables invariant (≙ ccog _test_jpegtables,
            # ccog/ccog.py:261-289): THIS part re-derives the codec's
            # global side tables and they must byte-match the plan's.
            # Checked for BOTH the level-0 codec and the overview codec
            # (either may carry tables independently — e.g. deflate
            # level 0 with jpeg overviews, or differing quality levels).
            # Runs once per partition, before any tile.
            if tables_fn is not None and tables_fn(lvl0) != exp_tables:
                raise ValueError("different JPEGTables")
            if (
                tables_fn_ov is not None
                and tables_fn_ov(ov_lvl) != exp_tables_ov
            ):
                raise ValueError("different JPEGTables")

            def comp(d, level):
                cdc = cdc0 if level == 0 else ov_cdc
                lv = lvl0 if level == 0 else ov_lvl
                if cdc == "lzma":
                    return lzma.compress(d, preset=lv)
                if cdc == "deflate":
                    return zlib.compress(d, lv)
                return (enc0 if level == 0 else enc_ov)(d, lv)

            dt = np.dtype(np_dtype)
            for pdf in it:
                data = []
                for d, level in zip(pdf["data"], pdf["level"]):
                    # payload already native dtype (cast_tiles);
                    # interleaved payloads (bs×bs×n) flatten the extra
                    # samples into the row — predictors are rejected
                    # for those upstream, so row shape is immaterial
                    native = np.frombuffer(d, dtype=dt).reshape(bs, -1)
                    p = pr0 if level == 0 else ov_pr
                    data.append(comp(predict(native, p), level))
                yield pd.DataFrame(
                    {
                        "level": pdf["level"],
                        "band": pdf["band"],
                        "tile_y": pdf["tile_y"],
                        "tile_x": pdf["tile_x"],
                        "height": pdf["height"],
                        "width": pdf["width"],
                        "nbytes": [len(d) for d in data],
                        "data": data,
                    }
                )

        return enc

    dense = tiles.where(F.col("valid_count") > 0)
    ov = compress_level if overview_compress_level is None else overview_compress_level
    ov_cdc = overview_codec or codec
    ov_pr = predictor if overview_predictor is None else overview_predictor
    exp_tables = codecs_mod.shared_tables(codec, compress_level)
    exp_tables_ov = codecs_mod.shared_tables(ov_cdc, ov)
    spec = codecs_mod.REGISTRY.get(codec)
    spec_ov = codecs_mod.REGISTRY.get(ov_cdc)
    if spec is None or spec_ov is None:
        raise ValueError(f"unknown codec {codec if spec is None else ov_cdc!r}")
    # Ship the codec module's functions BY VALUE: workers must not need
    # a ccog_spark import (the driver may run from any cwd), and
    # runtime-registered codecs don't exist in worker processes at all.
    codecs_mod.register_worker_modules()
    enc0 = encode_override or spec.encode
    enc_ov = encode_override or spec_ov.encode
    return dense.mapInPandas(
        make_kernel(
            blocksize, np_dt, compress_level, ov, codec, ov_cdc,
            predictor, ov_pr, exp_tables, spec.make_tables,
            exp_tables_ov, spec_ov.make_tables,
            enc0, enc_ov,
        ),
        ENC_SCHEMA,
    )


MASK_ENC_SCHEMA = (
    "level int, tile_y int, tile_x int, nbytes int, data binary, "
    "valid_count int"
)


def encode_mask_tiles(pyr: DataFrame, mask_band: int = 0) -> DataFrame:
    """Dataset-mask tiles from the tile pyramid's validity masks (band
    ``mask_band`` — the dataset mask is ONE plane shared by all bands,
    matching the reference's 2-D mask argument, ccog/ccog.py:957-962;
    mask tile bytes ≙ :415-427).

    Map-side: a tile's ``vmask`` (np.packbits of the row-major block)
    is already the 1-bit TIFF layout, because blocksize is a multiple of
    16 and rows are byte-aligned — it is only deflated. All-zero tiles
    are emitted with valid_count 0 so the caller can elide them as
    sparse."""

    def to_mask_tiles(it):
        import zlib

        for pdf in it:
            data = [zlib.compress(bytes(vm), 6) for vm in pdf["vmask"]]
            yield pdf[["level", "tile_y", "tile_x", "valid_count"]].assign(
                nbytes=[len(d) for d in data], data=data
            )

    return pyr.where(F.col("band") == mask_band).mapInPandas(
        to_mask_tiles, MASK_ENC_SCHEMA
    )


@dataclass
class CogWriteResult:
    path: str
    plan: tiff.CogPlan
    n_parts: int
    n_tiles_written: int
    n_tiles_sparse: int


def write_cog(
    spark: SparkSession,
    pixels: DataFrame,
    width: int,
    height: int,
    bands: int,
    target_path: str,
    blocksize: int = 512,
    kernel: str = "average",
    nodata: float | None = -9999.0,
    n_overviews: int | None = None,
    min_part_size: int | None = None,
    fmt: str = "auto",
    statistics: bool = False,
    band_meta: dict[int, dict] | None = None,
    compress_level: int = 6,
    overview_compress_level: int | None = None,
    codec: str = "deflate",
    geo: dict | None = None,
    dtype: str = "float64",
    predictor: int = 1,
    overview_codec: str | None = None,
    overview_predictor: int | None = None,
    storage_options: dict | None = None,
    internal_mask: bool = False,
    ghost: bool = False,
    pixel_interleave: bool = False,
    jpeg_subsampling: str = "444",
    colormap: dict[int, tuple[int, int, int]] | None = None,
) -> CogWriteResult:
    """Write long-form pixels (band,y,x,value,valid) as a COG.

    ``pixel_interleave``: store ONE pixel-interleaved (PlanarConfig=1)
    tile per grid cell instead of separate band planes — required for
    color-JPEG output (Photometric=YCbCr, the GDAL RGB JPEG-in-COG
    shape; reference profile options /root/reference/ccog/ccog.py:24-39
    reach the same layout through GDAL). Only valid with codec='jpeg',
    3 uint8 bands, no predictor. ``jpeg_subsampling``: '444' (no
    chroma subsampling) or '420' (2x2 box — GDAL/libjpeg default,
    roughly half the bytes); written as TIFF tag 530.

    ``ghost``: write GDAL's COG ghost optimisation — the structural-
    metadata area after the header plus a 4-byte size leader and
    last-4-bytes-repeated trailer around every stored tile, letting
    sequential readers stream tiles without fetching TileByteCounts
    (reference parity: ghost retention decision ccog/ccog.py:948-950,
    leader/trailer re-add :430-441; tiff.zero_ghost_header mirrors
    the delete path :238-258).

    ``internal_mask``: also write per-level internal MASK pages
    (NewSubfileType bit 2, 1-bit tiles, interleaved data/mask IFDs —
    reference parity ccog/ccog.py:680-713). The dataset mask is the
    validity plane of the FIRST band; consumers that rely on an
    explicit mask rather than nodata semantics read it via
    tiff.read_mask.

    ``storage_options``: fsspec/s3fs-style credential/endpoint overrides
    for ``s3://`` targets (sinks.mpu.resolve_store); ignored for local
    paths.

    ``min_part_size`` exists so tests can exercise multi-part uploads
    on small files; production keeps the S3 5 MiB default.

    ``statistics`` (default False, matching the reference's code-over-
    docstring default, ccog/ccog.py:38/SURVEY quirks) adds one small
    per-band aggregate job and folds STATISTICS_* items into the
    GDAL_METADATA tag (≙ _calc_stats_for_profile +
    _add_stats_to_profile_tags, ccog/ccog.py:511-555); stats are only
    written for bands with valid_percent > 0, like the reference.

    ``band_meta``: {band_index: {"description":…, "scale":…,
    "offset":…, "unit":…, "colorinterp":…}} → per-band GDAL_METADATA
    items (≙ _add_metadata, ccog/ccog.py:213-235). ``colorinterp``
    (e.g. "Red", "Gray", "Palette") is written as GDAL's
    role="colorinterp" COLORINTERP item — the GeoTIFF driver's
    spelling for interpretations TIFF tags cannot express (≙ the
    reference's colorinterp profile key, ccog/ccog.py:229-230).

    ``colormap``: {pixel_value: (r, g, b)} 8-bit palette for a
    single-band uint8/uint16 raster — written as PhotometricInterp=3
    + TIFF ColorMap (tag 320, 16-bit ×257 scaling, one shared
    external array across all IFDs) and read back by tiff.read_cog /
    sources.cog_reader into IfdInfo.colormap (≙ the reference's
    write_colormap profile key, ccog/ccog.py:231-235).
    """
    opts = dict(locals())
    del opts["spark"], opts["pixels"]
    # Normalize band labels to dense 0-based plane indices (the fixture
    # uses 1-based bands; TIFF planes are positional).
    band_values = sorted(
        r.band for r in pixels.select("band").distinct().collect()
    )
    if len(band_values) != bands:
        raise ValueError(f"expected {bands} bands, found {band_values}")
    band_map = F.create_map(
        *[F.lit(x) for pair in ((b, i) for i, b in enumerate(band_values)) for x in pair]
    )
    pixels = pixels.withColumn("band", band_map[F.col("band")])
    # the only pixel → tile step: level 0, float64 with the validity
    # mask; the pyramid and encode stay in tile form from here on.
    # Persisted: level 0 feeds both its own encode and level 1.
    tiles = tiles_from_pixels(
        pixels.withColumn("level", F.lit(0)),
        blocksize,
        0.0 if nodata is None else nodata,
        width,
        height,
        dtype="float64",
        with_mask=True,
    ).persist()
    try:
        return _write_tiles(spark, tiles, pixels, **opts)
    finally:
        tiles.unpersist()


_WRITE_COG_DEFAULTS = {
    k: p.default
    for k, p in inspect.signature(write_cog).parameters.items()
    if p.default is not inspect.Parameter.empty
}


def _write_tiles(
    spark: SparkSession, tiles: DataFrame, level0_pixels: DataFrame,
    width: int, height: int, bands: int, target_path: str, **opts,
) -> CogWriteResult:
    """The writer core behind ``write_cog`` and ``write_ccog`` (options
    documented on ``write_cog``). ``tiles`` are the level-0 writer tiles
    (raster.tiles.TILE_MASK_SCHEMA: float64 payload + packed vmask,
    0-based bands); ``level0_pixels`` is the same level as long-form
    pixels, read only by the ``statistics`` aggregate. ``opts`` are
    ``write_cog``'s keyword options, defaulted like its signature."""
    unknown = opts.keys() - _WRITE_COG_DEFAULTS.keys()
    if unknown:
        raise TypeError(f"unknown write_cog option(s) {sorted(unknown)}")
    o = SimpleNamespace(**{**_WRITE_COG_DEFAULTS, **opts})
    if o.n_overviews is None:
        o.n_overviews = overview_count(width, height, o.blocksize)

    # dtype/predictor validation (≙ ccog forwarding dtype into the
    # profile, ccog/ccog.py:952-955; predictor rules per TIFF spec)
    if o.dtype not in tiff.DTYPES:
        raise ValueError(
            f"unsupported dtype {o.dtype!r}; expected one of {sorted(tiff.DTYPES)}"
        )
    import numpy as _np

    _dt = _np.dtype(tiff.np_dtype_le(o.dtype))
    # nodata=None: the file declares NO nodata (no GDAL_NODATA tag);
    # tile padding / sparse fill use 0 — GDAL's fill for sparse files
    # without a declared nodata — and readers treat every pixel as
    # valid. This is how rebuild_cog preserves "source never declared
    # nodata" instead of inventing a sentinel that wraps for int
    # dtypes (round-7 ADVICE).
    fill = 0.0 if o.nodata is None else o.nodata
    if _dt.kind in "ui" and o.nodata is not None:
        if o.nodata != int(o.nodata) or not (
            _np.iinfo(_dt).min <= int(o.nodata) <= _np.iinfo(_dt).max
        ):
            raise ValueError(
                f"nodata {o.nodata} not representable in dtype {o.dtype}"
            )
    for p in (o.predictor, o.overview_predictor):
        if p is None or p == 1:
            continue
        if p == 2 and _dt.kind not in "ui":
            raise ValueError("predictor=2 requires an integer dtype")
        if p == 3 and _dt.kind != "f":
            raise ValueError("predictor=3 requires a float dtype")
        if p not in (2, 3):
            raise ValueError(f"unknown predictor {p}")
    # codec-declared constraints (e.g. baseline JPEG operates on 8-bit
    # samples in the pixel domain: a non-uint8 dtype or a differencing
    # predictor would make the lossy codec reconstruct garbage — the
    # same constraint GDAL enforces for JPEG-in-TIFF)
    for c, p in ((o.codec, o.predictor), (o.overview_codec or o.codec,
                 o.predictor if o.overview_predictor is None
                 else o.overview_predictor)):
        spec_c = codecs_mod.REGISTRY.get(c)
        if spec_c is None:
            raise ValueError(f"unknown codec {c!r}")
        if spec_c.sample_dtypes is not None and o.dtype not in spec_c.sample_dtypes:
            raise ValueError(
                f"codec {c!r} requires dtype in {spec_c.sample_dtypes}, "
                f"got {o.dtype!r}"
            )
        if not spec_c.predictor_ok and p not in (None, 1):
            raise ValueError(f"codec {c!r} does not compose with predictors")

    if o.pixel_interleave:
        if o.codec != "jpeg" or (o.overview_codec or o.codec) != "jpeg":
            raise ValueError(
                "pixel_interleave requires codec='jpeg' on all levels"
            )
        if bands != 3:
            raise ValueError(
                f"pixel_interleave (YCbCr JPEG) requires exactly 3 "
                f"bands, got {bands}"
            )
        if o.dtype != "uint8":
            raise ValueError("pixel_interleave requires dtype='uint8'")
        if o.jpeg_subsampling not in ("444", "420", "422", "440"):
            raise ValueError(
                f"jpeg_subsampling must be one of 444/420/422/440, "
                f"got {o.jpeg_subsampling!r}"
            )
        if o.internal_mask:
            raise ValueError(
                "internal_mask with pixel_interleave is not supported"
            )
    if o.colormap is not None:
        # fail BEFORE the pyramid/encode jobs run (build_cog_plan
        # re-validates, but only after the expensive distributed work)
        if bands != 1:
            raise ValueError("colormap requires a single band")
        if o.dtype not in ("uint8", "uint16"):
            raise ValueError(
                f"colormap requires dtype uint8/uint16, got {o.dtype!r}"
            )
        if o.pixel_interleave:
            raise ValueError("colormap and pixel_interleave conflict")

    meta_items: list[tuple] = []
    if o.band_meta:
        key_of = {
            "description": "DESCRIPTION",
            "scale": "SCALE",
            "offset": "OFFSET",
            "unit": "UNITTYPE",
        }
        for b, kv in sorted(o.band_meta.items()):
            for k, v in kv.items():
                if k == "colorinterp":
                    # GDAL's role="colorinterp" item (GeoTIFF driver
                    # spelling; ≙ reference ccog/ccog.py:229-230)
                    meta_items.append(
                        ("COLORINTERP", b, str(v), "colorinterp")
                    )
                else:
                    meta_items.append((key_of.get(k, k.upper()), b, str(v)))
    if o.statistics:
        # one small job: 5 scalars per band (≙ ccog/ccog.py:511-541)
        vv = F.when(F.col("valid"), F.col("value"))
        stats = (
            level0_pixels.groupBy("band")
            .agg(
                F.max(vv).alias("mx"),
                F.avg(vv).alias("mean"),
                F.min(vv).alias("mn"),
                F.stddev_pop(vv).alias("std"),
                (100.0 * F.avg(F.when(F.col("valid"), 1.0).otherwise(0.0))).alias(
                    "vp"
                ),
            )
            .collect()
        )
        for r in sorted(stats, key=lambda r: r.band):
            if r.vp and r.vp > 0:
                meta_items += [
                    ("STATISTICS_MAXIMUM", r.band, f"{r.mx:.14g}"),
                    ("STATISTICS_MEAN", r.band, f"{r.mean:.14g}"),
                    ("STATISTICS_MINIMUM", r.band, f"{r.mn:.14g}"),
                    ("STATISTICS_STDDEV", r.band, f"{r.std:.14g}"),
                    ("STATISTICS_VALID_PERCENT", r.band, f"{r.vp:.4g}"),
                ]
    metadata_xml = tiff.gdal_metadata_xml(meta_items) if meta_items else None

    # level persists are collected and unpersisted in the finally below
    # (round-13 ADVICE: without this, repeated writes — e.g. the
    # streaming foreachBatch COG sink — leak cached level frames for
    # the session's lifetime). Any kernel in the reference's overlap
    # table is accepted (ccog/ccog.py:41-53,905-915).
    level_persists: list = []
    pyr = build_tile_pyramid(
        tiles, o.n_overviews, o.kernel, o.blocksize, width, height, o.nodata,
        persist_registry=level_persists,
    )
    tiles = cast_tiles(pyr, o.blocksize, fill, o.dtype)
    encode_override = None
    if o.pixel_interleave:
        from functools import partial

        from ccog_spark.raster import jpegcodec as _jc
        from ccog_spark.raster.tiles import interleave_tiles

        tiles = interleave_tiles(
            tiles, bands, o.blocksize, nodata=fill, dtype=o.dtype
        )
        # encode_color ships by value with the jpegcodec module
        # (register_worker_modules) — partial binds only the subsampling
        encode_override = partial(
            _jc.encode_color, subsampling=o.jpeg_subsampling
        )
    enc = encode_tiles(
        tiles,
        compress_level=o.compress_level,
        overview_compress_level=o.overview_compress_level,
        codec=o.codec,
        blocksize=o.blocksize,
        dtype=o.dtype,
        predictor=o.predictor,
        overview_codec=o.overview_codec,
        overview_predictor=o.overview_predictor,
        encode_override=encode_override,
    ).persist()

    mask_enc = None
    mask_tile_nbytes = None
    if o.internal_mask:
        mask_enc = encode_mask_tiles(pyr).where(
            F.col("valid_count") > 0
        ).persist()
        mask_tile_nbytes = {
            (r.level, r.tile_y, r.tile_x): r.nbytes
            for r in mask_enc.select(
                "level", "tile_y", "tile_x", "nbytes"
            ).collect()
        }

    index = enc.select("level", "band", "tile_y", "tile_x", "nbytes").collect()
    tile_nbytes = {
        (r.level, r.band, r.tile_y, r.tile_x): r.nbytes for r in index
    }
    plan = tiff.build_cog_plan(
        width,
        height,
        bands,
        o.blocksize,
        o.n_overviews,
        tile_nbytes,
        o.nodata,
        fmt=o.fmt,
        metadata_xml=metadata_xml,
        codec=o.codec,
        geo=o.geo,
        dtype=o.dtype,
        predictor=o.predictor,
        overview_codec=o.overview_codec,
        overview_predictor=o.overview_predictor,
        # JPEG-family port point: global JPEGTables copies (level-0 and
        # overview codecs each carry their own when they differ),
        # already per-part-asserted identical inside encode_tiles
        shared_tables=codecs_mod.shared_tables(o.codec, o.compress_level),
        overview_shared_tables=codecs_mod.shared_tables(
            o.overview_codec or o.codec,
            o.compress_level
            if o.overview_compress_level is None
            else o.overview_compress_level,
        ),
        mask_tile_nbytes=mask_tile_nbytes,
        ghost=o.ghost,
        planar_config=1 if o.pixel_interleave else 2,
        photometric=6 if o.pixel_interleave else 1,
        ycbcr_subsampling=(
            {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}[
                o.jpeg_subsampling
            ]
            if o.pixel_interleave
            else None
        ),
        colormap=o.colormap,
    )

    # file_seq: header is 0; tiles follow in plan order. The tile-key →
    # (seq, part_no) mapping is a DataFrame broadcast-joined on the tile
    # key — a few ints per WRITTEN tile, no Python UDF and no driver
    # dict pickled into tasks (the old O(#tiles) closure was the one
    # scale-killer in this path).
    import bisect

    all_nbytes = dict(tile_nbytes)
    if mask_tile_nbytes:
        all_nbytes.update(
            {
                (lvl, -1, ty, tx): nb
                for (lvl, ty, tx), nb in mask_tile_nbytes.items()
            }
        )
    ghost_pad = tiff.GHOST_TILE_PAD if o.ghost else 0
    sizes = [len(plan.header)] + [
        all_nbytes[k] + ghost_pad for k in plan.file_order
    ]
    kwargs = {} if o.min_part_size is None else {"min_part": o.min_part_size}
    parts = pack_parts(sizes, **kwargs)
    part_firsts = [p.first_seq for p in parts]

    def part_of(seq: int) -> int:
        return parts[bisect.bisect_right(part_firsts, seq) - 1].part_no

    seq_schema = T.StructType([
        T.StructField("level", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("part_no", T.IntegerType()),
    ])
    seq_map = spark.createDataFrame(
        [
            (k[0], k[1], k[2], k[3], i + 1, part_of(i + 1))
            for i, k in enumerate(plan.file_order)
        ],
        seq_schema,
    )
    enc_seg = enc.select("level", "band", "tile_y", "tile_x", "data")
    if mask_enc is not None:
        enc_seg = enc_seg.unionByName(
            mask_enc.select(
                "level",
                F.lit(-1).alias("band"),
                "tile_y",
                "tile_x",
                "data",
            )
        )
    if o.ghost:
        # wrap each stored tile with the GDAL ghost leader/trailer
        # (≙ the reference re-adding them per part, ccog/ccog.py:430-441)
        from pyspark.sql.functions import pandas_udf

        trailer_n = tiff.GHOST_TRAILER

        @pandas_udf("binary")
        def _ghost_wrap(data):  # self-contained Arrow kernel
            import struct

            def wrap(b):
                # the plan reserved a FIXED leader+trailer per tile; a
                # sub-trailer-size payload would write short and shift
                # every later offset silently (round-6 review) — no
                # registered codec emits one, so fail loudly if found
                if len(b) < trailer_n:
                    raise ValueError(
                        f"tile payload {len(b)}B shorter than the "
                        f"{trailer_n}B ghost trailer"
                    )
                return struct.pack("<I", len(b)) + bytes(b) + bytes(b[-trailer_n:])

            return data.map(wrap)

        enc_seg = enc_seg.withColumn("data", _ghost_wrap(F.col("data")))
    tile_segments = enc_seg.join(
        F.broadcast(seq_map), ["level", "band", "tile_y", "tile_x"]
    ).select("seq", "data", "part_no")
    header_segment = spark.createDataFrame(
        [(0, bytearray(plan.header), part_of(0))],
        T.StructType([
            T.StructField("seq", T.LongType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("part_no", T.IntegerType()),
        ]),
    )
    segments = header_segment.unionByName(tile_segments)

    store = resolve_store(target_path, o.storage_options)
    store.create()
    try:
        receipts = upload_segments(segments, len(parts), store.part_putter())
        path = store.complete(receipts)
    except Exception:
        store.abort()
        raise
    finally:
        enc.unpersist()
        if mask_enc is not None:
            mask_enc.unpersist()
        for lv in level_persists:
            lv.unpersist()

    total_tiles = sum(bands * lp.n_tiles for lp in plan.levels)
    n_data_written = sum(1 for k in plan.file_order if k[1] != -1)
    return CogWriteResult(
        path=path,
        plan=plan,
        n_parts=len(parts),
        n_tiles_written=n_data_written,
        n_tiles_sparse=total_tiles - n_data_written,
    )


def collect_cog_bytes(
    spark: SparkSession,
    pixels: DataFrame,
    width: int,
    height: int,
    bands: int,
    blocksize: int = 512,
    kernel: str = "average",
    nodata: float | None = -9999.0,
    n_overviews: int | None = None,
    fmt: str = "auto",
    ghost: bool = False,
) -> tuple[bytes, tiff.CogPlan]:
    """No-store path (≙ ccog collapse_bytes, ccog/ccog.py:973-978 and
    the store=None branch :967-970): ordered collect of the encoded
    segments + driver-side join. Small outputs only — every byte
    converges on the driver, same caveat as the reference."""
    import tempfile
    import uuid

    out = f"{tempfile.gettempdir()}/cogbytes_{uuid.uuid4().hex}.tif"
    res = write_cog(
        spark, pixels, width, height, bands, out,
        blocksize=blocksize, kernel=kernel, nodata=nodata,
        n_overviews=n_overviews, fmt=fmt, ghost=ghost,
    )
    import os

    with open(res.path, "rb") as f:
        data = f.read()
    os.unlink(res.path)
    return data, res.plan


def rebuild_cog(
    spark: SparkSession,
    src_path: str,
    target_path: str,
    kernel: str = "average",
    **write_kwargs,
) -> CogWriteResult:
    """Regenerate a COG from an existing file's level 0 — the
    gdaladdo/gdal_translate maintenance verb: rebuild overviews with a
    different kernel, recompress with a different codec/level, add an
    internal mask or ghost area, or fix a file whose overviews are
    stale. Fully distributed end-to-end: level 0 decodes on executors
    (sources.cog_reader), flows straight into the pyramid/tile/encode
    pipeline, and nothing but the header region touches the driver.

    Geometry, band count, dtype, and nodata come from the source
    header; any ``write_cog`` keyword (codec, compress_level,
    blocksize, internal_mask, ghost, pixel_interleave, geo, …)
    overrides the defaults. Sparsity is preserved for free: elided
    source tiles yield no pixel rows, so their tiles re-elide."""
    from ccog_spark.sources.cog_reader import read_cog_pixels, read_header

    ifds = [i for i in read_header(src_path) if not tiff.is_mask_ifd(i)]
    ifd = ifds[0]
    np_name = {
        "u1": "uint8", "u2": "uint16", "u4": "uint32",
        "i1": "int8", "i2": "int16", "i4": "int32",
        "f4": "float32", "f8": "float64",
    }[ifd.np_dtype.lstrip("<>")]  # source may be big-endian (MM)
    write_kwargs.setdefault("dtype", np_name)
    # pass the source's nodata through VERBATIM — including None when
    # the source never declared one (the rebuilt file then carries no
    # GDAL_NODATA tag either; inventing -9999.0 here wrapped modulo
    # for int dtypes and made real pixels read back invalid —
    # round-7 ADVICE)
    write_kwargs.setdefault("nodata", ifd.nodata)
    write_kwargs.setdefault("blocksize", ifd.tile_width)
    px = read_cog_pixels(spark, src_path, level=0)
    return write_cog(
        spark,
        px,
        width=ifd.width,
        height=ifd.height,
        bands=ifd.bands,
        target_path=target_path,
        kernel=kernel,
        **write_kwargs,
    )


def write_ccog(
    spark: SparkSession,
    arr,
    store: str,
    mask=None,
    blocksize: int = 512,
    overview_resampling: str = "average",
    nodata: float | None = None,
    **kwargs,
):
    """Reference-shaped convenience entry point (≙ ccog write_ccog,
    ccog/ccog.py:801-971): numpy array OR xarray-like DataArray in
    (2-D promoted to 3-D, mask optional with non-zero = valid, GDAL
    convention), COG out via the distributed job. Validation mirrors
    the reference's client-side checks: blocksize must be a multiple of
    16 (ccog/ccog.py:930-933), mask must match the spatial shape
    (:957-962), resampling must be a known kernel (:905-915).

    xarray-like inputs get nodata / transform / CRS inferred (rioxarray
    accessor when installed, else CF attrs + x/y center coordinates —
    sources.raster_ingest.infer_geo_metadata) with the reference's
    precedence rule: explicitly passed ``nodata=`` / ``geo=`` /
    ``dtype=`` always win over inferred values (the reference layers
    user creation options over the rio-accessor profile,
    ccog/ccog.py:921-929). ``nodata=None`` with nothing inferable
    falls back to -9999.0.
    """
    import numpy as np

    from ccog_spark.sources.raster_ingest import (
        infer_geo_metadata,
        is_xarray_like,
    )

    if is_xarray_like(arr):
        inferred = infer_geo_metadata(arr)
        if nodata is None and "nodata" in inferred:
            nodata = inferred["nodata"]
        if "geo" in inferred:
            kwargs.setdefault("geo", inferred["geo"])
        arr = np.asarray(arr.values)
    if mask is not None and is_xarray_like(mask):
        mask = np.asarray(mask.values)
    if nodata is None:
        nodata = -9999.0

    from ccog_spark.raster.halo import INTERP_KERNELS
    from ccog_spark.raster.pyramid import KERNELS
    from ccog_spark.raster.tiles import pixels_from_tiles
    from ccog_spark.sources.raster_ingest import ingest_numpy

    if blocksize % 16 != 0:
        raise ValueError(f"blocksize {blocksize} must be a multiple of 16")
    if overview_resampling not in KERNELS and (
        overview_resampling not in INTERP_KERNELS
    ):
        # ≙ the reference's kernel validation (ccog/ccog.py:905-915):
        # any kernel in the overlap table is accepted — SQL kernels and
        # the interpolating five both reach the write path (round 12)
        raise ValueError(f"unknown resampling {overview_resampling!r}")
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[None, :, :]
    if arr.ndim != 3:
        raise ValueError(f"expected 2-D or 3-D array, got {arr.ndim}-D")
    bands, height, width = arr.shape
    if mask is not None and mask.shape != (height, width):
        raise ValueError(
            f"mask shape {mask.shape} != spatial shape {(height, width)}"
        )
    # dtype forwarded from the array like the reference's profile
    # (ccog/ccog.py:952-955); explicit dtype= wins.
    kwargs.setdefault(
        "dtype",
        arr.dtype.name if arr.dtype.name in tiff.DTYPES else "float64",
    )

    # the ingest tiles ARE the writer's level-0 tiles: no pixel rows
    # unless statistics=True asks for the level-0 aggregate
    tiles = ingest_numpy(spark, arr, mask, blocksize=blocksize, nodata=nodata)
    return _write_tiles(
        spark,
        tiles,
        pixels_from_tiles(tiles, blocksize, nodata),
        width,
        height,
        bands,
        store,
        blocksize=blocksize,
        kernel=overview_resampling,
        nodata=nodata,
        **kwargs,
    )
