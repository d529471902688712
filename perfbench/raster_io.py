"""raster_io workload: each pass writes one seeded array as a COG with
each codec (``write_ccog``) and reads seeded windows back from the file
it just wrote (``read_cog_pixels`` + ``toPandas``). An untimed warm-up
pass runs first."""

from __future__ import annotations

import hashlib
import os

import numpy as np

from perfbench import gen
from perfbench.eventlog import self_time
from perfbench.harness import Clock, tail, timings

SIZE = 512
BLOCKSIZE = 256
N_OVERVIEWS = 1  # levels 0-1: 512², 256²
MIN_PART_SIZE = 128 * 1024  # the deflate file spans several parts
READS_PER_WRITE = 3
WARM_READS_PER_WRITE = 1
NODATA = 0
CODECS = {
    "deflate": {"codec": "deflate", "predictor": 2},
    # compress_level is the JPEG quality here; 75 is GDAL's default
    "jpeg": {"codec": "jpeg", "pixel_interleave": True, "compress_level": 75},
}
# JPEG decode bounds over valid pixels at least 8 px from any invalid
# one (nodata fill bleeds through the 8x8 DCT blocks of edge blocks).
# Quality 75 smooths most of the generator's sigma-8 noise away, so the
# mean error sits near 6.
JPEG_MAX_MEAN_ABS = 8.0
JPEG_MAX_P999_ABS = 40.0


def _write_kwargs(codec: str) -> dict:
    return dict(blocksize=BLOCKSIZE, nodata=NODATA, n_overviews=N_OVERVIEWS,
                min_part_size=MIN_PART_SIZE, **CODECS[codec])


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark = self.tr = None
        self.n_pass = 0
        self.arr, self.mask = gen.raster(seed, SIZE, BLOCKSIZE)
        dims = [SIZE >> lv for lv in range(N_OVERVIEWS + 1)]
        self.windows = gen.windows(seed, 256, dims)
        self.cog_dir = os.path.join(work, "cog")
        os.makedirs(self.cog_dir, exist_ok=True)
        self.writes: list[dict] = []
        self.reads: list[dict] = []
        self.passes: list[Clock] = []
        self.timed = False  # samples of the warm-up pass are not timings
        self.errors: list[str] = []
        self.op_times: list[tuple[str, float]] = []  # (op, end offset in pass)
        self.attempted = 0

    def warm_up(self) -> None:
        """One untimed pass with ``write_ccog`` itself (traced or not)
        and fewer reads: the JVM's JIT and code generation, the Python
        workers and every codec path are warm before timing. Its outputs
        are checked like any other."""
        self.run_pass(WARM_READS_PER_WRITE)
        self.timed = True

    # -- ops ---------------------------------------------------------
    def _write(self, codec: str, op: str) -> dict:
        from ccog_spark.raster.cog import write_ccog

        path = os.path.join(self.cog_dir, f"{op}_{codec}.tif")
        kw = _write_kwargs(codec)
        with Clock() as clock:
            if self.tr.enabled and self.timed:
                res = self._write_decomposed(path, kw, op)
            else:
                res = write_ccog(self.spark, self.arr, path, mask=self.mask, **kw)
        return {"op": op, "codec": codec, "path": path, "clock": clock,
                "timed": self.timed, "bytes": os.path.getsize(path),
                "parts": res.n_parts,
                "tiles_written": res.n_tiles_written,
                "tiles_sparse": res.n_tiles_sparse}

    def _write_decomposed(self, path: str, kw: dict, op: str):
        """``write_ccog`` as the three public calls it composes, each
        in its own span; ``check`` asserts the bytes are identical to
        the warm-up pass's ``write_ccog`` output."""
        from ccog_spark.raster.cog import write_cog
        from ccog_spark.raster.tiles import pixels_from_tiles
        from ccog_spark.sources.raster_ingest import ingest_numpy

        bands, h, w = self.arr.shape
        with self.tr.span("sources.raster_ingest.ingest_numpy", op):
            tiles = ingest_numpy(self.spark, self.arr, self.mask,
                                 blocksize=BLOCKSIZE, nodata=NODATA)
        with self.tr.span("raster.tiles.pixels_from_tiles", op):
            px = pixels_from_tiles(tiles, BLOCKSIZE, NODATA).drop("level")
        with self.tr.span("raster.cog.write_cog", op):
            return write_cog(self.spark, px, w, h, bands, path,
                             kernel="average", dtype=self.arr.dtype.name, **kw)

    def _read(self, path: str, codec: str, req, op: str) -> dict:
        from ccog_spark.sources.cog_reader import read_cog_pixels, read_header

        level, window, bands = req
        header = None
        if self.tr.enabled and self.timed:
            with self.tr.span("sources.cog_reader.read_header", op):
                header = read_header(path)
        with Clock() as clock:
            with self.tr.span("sources.cog_reader.read_cog_pixels", op):
                df = read_cog_pixels(self.spark, path, level=level, bands=bands,
                                     window=window)
            with self.tr.span("sources.cog_reader.fetch", op):
                pdf = df.toPandas()
        return {"op": op, "codec": codec, "path": path, "req": req, "clock": clock,
                "timed": self.timed, "pdf": pdf, "header": header}

    def run_pass(self, reads: int = READS_PER_WRITE) -> None:
        k = self.n_pass
        self.n_pass += 1
        with Clock() as clock:
            for codec in CODECS:
                op = f"p{k}w{codec}"
                self.attempted += 1
                try:
                    w = self._write(codec, op)
                except Exception as e:  # count the failure, keep measuring
                    self.errors.append(f"{op}: {e!r}"[:300])
                    continue
                self.writes.append(w)
                self.op_times.append((op, clock.elapsed()))
                for j in range(reads):
                    rop = f"p{k}r{codec}{j}"
                    self.attempted += 1
                    req = self.windows[self.attempted % len(self.windows)]
                    try:
                        self.reads.append(self._read(w["path"], codec, req, rop))
                        self.op_times.append((rop, clock.elapsed()))
                    except Exception as e:
                        self.errors.append(f"{rop}: {e!r}"[:300])
        if self.timed:
            self.passes.append(clock)

    # -- correctness (outside the timed window) ------------------------
    def check(self, digests: dict) -> list[str]:
        from ccog_spark.raster import tiff

        bad = []
        want = np.where(self.mask[None] != 0, self.arr, NODATA)
        decoded: dict[str, dict] = {}
        first_digest: dict[str, str] = {}
        for w in self.writes:
            with open(w["path"], "rb") as f:
                data = f.read()
            digest = hashlib.sha256(data).hexdigest()
            codec = w["codec"]
            first_digest.setdefault(codec, digest)  # the warm-up's write_ccog
            if digest != first_digest[codec]:
                how = ("decomposed write differs from write_ccog"
                       if self.tr.enabled else "bytes differ between passes")
                bad.append(f"{w['op']}: {codec} {how}")
            key = f"{self.seed}:{SIZE}:{sorted(_write_kwargs(codec).items())}"
            if digests.setdefault(key, digest) != digest:
                bad.append(f"{w['op']}: {codec} bytes differ from an earlier run of seed {self.seed}")
            ifds = [i for i in tiff.read_cog(data) if not tiff.is_mask_ifd(i)]
            planes = [[tiff.read_band(data, ifd, b) for b in range(ifd.bands)]
                      for ifd in ifds]
            decoded[w["path"]] = {"ifds": ifds, "planes": planes}
            got = np.stack(planes[0])
            if codec == "deflate":
                if not np.array_equal(got, want):
                    bad.append(f"{w['op']}: deflate level 0 is not bit-exact")
            else:
                bad += self._check_jpeg(w["op"], got)
        for r in self.reads:
            bad += self._check_read(r, decoded[r["path"]])
        return bad

    def _check_jpeg(self, op: str, got: np.ndarray) -> list[str]:
        inner = _far_from_invalid(self.mask, 8)
        err = np.abs(got.astype(np.int16) - self.arr.astype(np.int16))[:, inner]
        mean, p999 = float(err.mean()), float(np.quantile(err, 0.999))
        if mean > JPEG_MAX_MEAN_ABS or p999 > JPEG_MAX_P999_ABS:
            return [f"{op}: jpeg error mean {mean:.2f} p99.9 {p999:.1f} over bound"]
        return []

    def _check_read(self, r: dict, dec: dict) -> list[str]:
        level, (x0, y0, x1, y1), bands = r["req"]
        ifd = dec["ifds"][level]
        pdf = r["pdf"]
        want_bands = list(range(ifd.bands)) if bands is None else bands
        n_expect = sum(
            (min(y1, (ty + 1) * ifd.tile_height) - max(y0, ty * ifd.tile_height))
            * (min(x1, (tx + 1) * ifd.tile_width) - max(x0, tx * ifd.tile_width))
            for _, ty, tx, _ in window_tiles(ifd, r["req"])
        )
        if _interleaved(ifd):  # one tile per cell holds every band
            n_expect *= len(want_bands)
        if len(pdf) != n_expect or set(pdf["band"].unique()) - set(want_bands):
            return [f"{r['op']}: {len(pdf)} rows, expected {n_expect}"]
        for b, g in pdf.groupby("band"):
            plane = dec["planes"][level][b]
            ref = plane[g["y"].to_numpy(), g["x"].to_numpy()].astype("f8")
            val = g["value"].to_numpy()
            ok = np.where(g["valid"].to_numpy(), val == ref, ref == NODATA)
            if not ok.all():
                return [f"{r['op']}: band {b} values differ from the file"]
        return []

    # -- metrics -----------------------------------------------------
    def end_to_end(self) -> dict:
        writes = [w for w in self.writes if w["timed"]]
        reads = [r for r in self.reads if r["timed"]]
        raw = self.arr.nbytes * len(writes)
        return dict(
            timings(self.passes, [w["clock"] for w in writes],
                    [r["clock"] for r in reads]),
            stored_bytes_per_raw_byte=sum(w["bytes"] for w in writes) / raw)

    def per_layer(self, attr, notes: list[str]) -> dict:
        from ccog_spark.raster import tiff

        out = {}
        tr = self.tr
        writes = [w for w in self.writes if w["timed"]]
        reads = [r for r in self.reads if r["timed"]]
        n_w = len(writes)
        ingest = tr.named("sources.raster_ingest.ingest_numpy")
        out["sources.raster_ingest.wall_s"] = sum(s["dur"] for s in ingest) / n_w
        cog = tr.named("raster.cog.write_cog")
        enc = {k: 0.0 for k in ("wall_s", "executor_cpu_s", "tasks",
                                "shuffle_bytes", "spill_bytes")}
        up = {"wall_s": 0.0, "executor_cpu_s": 0.0}
        driver = 0.0
        for s in cog:
            jobs = attr.total(group=s["group"])
            mpu = attr.total(group=s["group"], site="sinks/mpu.py")
            enc_iv = [iv for iv in jobs["intervals"] if iv not in mpu["intervals"]]
            driver += self_time((s["start"], s["end"]), jobs["intervals"])
            enc["wall_s"] += sum(b - a for a, b in enc_iv)
            up["wall_s"] += sum(b - a for a, b in mpu["intervals"])
            up["executor_cpu_s"] += mpu["executor_cpu_s"]
            for k in ("executor_cpu_s", "tasks", "shuffle_bytes", "spill_bytes"):
                enc[k] += jobs[k] - mpu[k]
        out["raster.cog.write_cog.driver_s"] = driver / n_w
        for k, v in enc.items():
            out[f"raster.cog.encode_pass.{k}"] = v / n_w
        for k, v in up.items():
            out[f"sinks.mpu.upload.{k}"] = v / n_w
        out["sinks.mpu.parts"] = sum(w["parts"] for w in writes) / n_w
        out["sinks.mpu.bytes_out"] = sum(w["bytes"] for w in writes) / n_w
        out["raster.cog.tiles_written"] = sum(w["tiles_written"] for w in writes) / n_w
        out["raster.cog.tiles_sparse"] = sum(w["tiles_sparse"] for w in writes) / n_w
        out["raster.write_mb_per_s"] = (
            self.arr.nbytes * n_w / 1e6 / sum(w["clock"].wall_s for w in writes))

        n_r = len(reads)
        for name, key in (("read_header", "sources.cog_reader.read_header.wall_s"),
                          ("read_cog_pixels", "sources.cog_reader.read_cog_pixels.build_s")):
            out[key] = sum(s["dur"] for s in tr.named(f"sources.cog_reader.{name}")) / n_r
        fetch = tr.named("sources.cog_reader.fetch")
        out["sources.cog_reader.fetch.wall_s"] = sum(s["dur"] for s in fetch) / n_r
        fj = [attr.total(group=s["group"]) for s in fetch]
        out["sources.cog_reader.fetch.executor_cpu_s"] = sum(j["executor_cpu_s"] for j in fj) / n_r
        out["sources.cog_reader.fetch.tasks"] = sum(j["tasks"] for j in fj) / n_r
        tiles = nbytes = pixels = 0
        for r in reads:
            level, (x0, y0, x1, y1), bands = r["req"]
            ifd = [i for i in r["header"] if not tiff.is_mask_ifd(i)][level]
            hit = window_tiles(ifd, r["req"])
            tiles += len(hit)
            nbytes += sum(n for *_, n in hit)
            pixels += (x1 - x0) * (y1 - y0) * (ifd.bands if bands is None else len(bands))
        out["sources.cog_reader.tiles_read"] = tiles / n_r
        out["sources.cog_reader.bytes_read"] = nbytes / n_r
        out["sources.cog_reader.bytes_read_per_pixel"] = nbytes / pixels
        out["sources.cog_reader.read_mpix_per_s"] = (
            sum(len(r["pdf"]) for r in reads) / 1e6 / sum(r["clock"].wall_s for r in reads))
        out["sources.cog_reader.read_samples"] = n_r
        t = tail([r["clock"].wall_s for r in reads])
        if t is None:
            notes.append(f"read tail: {n_r} reads, the tail rule needs more than 10")
        else:
            notes.append(f"read tail: p{t[1]:.1f} = {t[0]:.4f} s over {t[2]} reads")
        return out


def _interleaved(ifd) -> bool:
    return ifd.planar_config == 1 and ifd.bands > 1


def _far_from_invalid(mask: np.ndarray, r: int) -> np.ndarray:
    """Valid pixels with no invalid pixel within ``r`` (Chebyshev)."""
    bad = np.pad((mask == 0).astype(np.int32), r + 1)
    c = bad.cumsum(0).cumsum(1)
    k = 2 * r + 1
    box = c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]
    return box[: mask.shape[0], : mask.shape[1]] == 0


def window_tiles(ifd, req):
    """Stored (non-sparse) tiles a window read touches:
    [(band, tile_y, tile_x, nbytes)], one entry per requested band of a
    planar file; band is -1 for a pixel-interleaved tile."""
    level, (x0, y0, x1, y1), bands = req
    tx_n = (ifd.width + ifd.tile_width - 1) // ifd.tile_width
    ty_n = (ifd.height + ifd.tile_height - 1) // ifd.tile_height
    cells = [(ty, tx) for ty in range(y0 // ifd.tile_height, (y1 - 1) // ifd.tile_height + 1)
             for tx in range(x0 // ifd.tile_width, (x1 - 1) // ifd.tile_width + 1)]
    out = []
    if _interleaved(ifd):
        for ty, tx in cells:
            n = ifd.bytecounts[ty * tx_n + tx]
            if n:
                out.append((-1, ty, tx, n))
        return out
    for b in range(ifd.bands):
        if bands is not None and b not in bands:
            continue
        for ty, tx in cells:
            n = ifd.bytecounts[b * tx_n * ty_n + ty * tx_n + tx]
            if n:
                out.append((b, ty, tx, n))
    return out
