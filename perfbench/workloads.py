"""The seeded workloads: inputs, references, jobs and output checks.

``raster`` is the pixel path: ``slice_tiles`` and ``submit.py``'s polygons
job over a PNG mask corpus (:class:`Masks`), then ``read_windows`` and
``zonal_stats_poly`` over tiled GeoTIFF scenes (:class:`Scenes`).
``joins`` is the vector path, with no Python: ``pip_join``,
``bbox_range_join`` and ``knn_join`` over points and footprints with one
densely built-up cell, and ``pip_join`` over a uniform set as its control.

Every input is drawn from the run's seed.  The seed moves positions, image
sizes and rectangle layouts; the amount of work stays fixed (image sides
are stratified over 200..2000 px, so the pixel total moves by about 1%).
The engine receives only the generated tables and files.

Each workload is a list of jobs.  A job calls the engine's public
functions and runs the one action whose result is checked; its time runs
from the call into the public function to the result in the driver.  The
check compares that result with a reference built here without the
engine: closed forms, DuckDB and numpy.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark import DEFAULT_CONFIG as CFG
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import kernels_morph as km
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions import kernels_vector as kv
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import WORLD_GRID
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import codec, codec_tiff
from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import images as IMG

WORLD = WORLD_GRID.size
CELL = CFG.cell_size_m

# Sizes per job.  A run pays a JVM start, a cold pass and warm-up passes
# before it measures; these sizes keep a whole run near a minute on a
# 4-core host.
TILES_IMAGES = 120
POLY_IMAGES = 6         # the subset the polygons job vectorises
JOIN_POINTS = 6_000
JOIN_FOOTPRINTS = 1_000
JOIN_IMAGES = 200          # image footprints whose tiles the points are assigned to
# The joins' hot inputs pack a fixed share of the points and of the
# footprints into one index cell.  The shape follows the repo's skew policy
# and study: SURVEY.md section 4.2 names densely built-up cells (many
# footprints per cell) as what skews the PIP join, and BENCH.md's skew study
# puts points and footprints in ONE cell.  That study packs everything; no
# measurement in the repo gives a partial share, so HOT_SHARE is a chosen
# value, and the workload runs pip_join over uniform inputs (share 0) too.
HOT_SHARE = 0.2
SCENES = 2
SCENE_PX = 1536
SCENE_TILE = 256
CHIPS_PER_SCENE = 25
CHIP_PX = 64
ZONES = 16
SAMPLE_IMAGES = 3          # fixed driver-side codec / kernel sample


@dataclass(frozen=True)
class Image:
    image_id: str
    idx: int
    pk: int
    w: int
    h: int
    ulx: float
    uly: float


@dataclass
class Job:
    name: str                            # the public function the job calls
    run: Callable[[Any, Any], Any]       # (spark, tracer) -> action result
    check: Callable[[Any], int]          # result -> output rows; raises on mismatch


class CheckFailed(Exception):
    pass


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def image_specs(rng: np.random.Generator, n: int) -> list[Image]:
    """``n`` images with stratified sides in [200, 2000] px, random
    rectangle layouts (``pk``) and random origins."""
    def sides():
        return 200 + ((rng.permutation(n) + rng.random(n)) * 1801 / n).astype(int)

    w, h = sides(), sides()
    pk = rng.choice(1_000_000, size=n, replace=False) + 1
    ulx = rng.uniform(0.0, WORLD - 250.0, n)
    uly = rng.uniform(250.0, WORLD, n)
    return [
        Image(f"img_{i:06d}", i, int(pk[i]), int(w[i]), int(h[i]),
              float(ulx[i]), float(uly[i]))
        for i in range(n)
    ]


def render_png(img: Image) -> bytes:
    """The mask image of ``img`` as the PNG an images table carries."""
    return codec.encode(IMG.render_mask(img.pk, img.w, img.h), "png")


def scene_tiff(s: Image) -> bytes:
    """Scene ``s`` as a tiled, deflate-compressed RGB GeoTIFF."""
    return codec_tiff.encode_tiff(
        IMG.render_rgb(s.pk, s.w, s.h), compression="deflate",
        tiling=(SCENE_TILE, SCENE_TILE), geo=(s.ulx, s.uly, CELL, -CELL, IMG.CRS_TOKEN))


def write_images(pool, images: list[Image], path: str) -> None:
    blobs = list(pool.map(render_png, images, chunksize=8))
    table = pa.table({
        "image_id": [i.image_id for i in images],
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array([i.w for i in images], pa.int32()),
        "h": pa.array([i.h for i in images], pa.int32()),
        "fmt": ["png"] * len(images),
        "ulx": [i.ulx for i in images],
        "uly": [i.uly for i in images],
        "crs": [IMG.CRS_TOKEN] * len(images),
    })
    pq.write_table(table, path)


def tile_grid(w: int, h: int, t: int = CFG.tile_size, ov: int = CFG.overlap_px):
    """The tile grid closed form: (tiy, tix, off_x, off_y, tw, th, digits)."""
    step = t - ov
    nx = 1 + (max(w - t, 0) + step - 1) // step
    ny = 1 + (max(h - t, 0) + step - 1) // step
    digits = len(str(max(nx, ny)))
    for tiy in range(1, ny + 1):
        off_y = (tiy - 1) * step
        for tix in range(1, nx + 1):
            off_x = (tix - 1) * step
            yield tiy, tix, off_x, off_y, min(t, w - off_x), min(t, h - off_y), digits


def _crc(s: str) -> int:
    return zlib.crc32(s.encode())


def _timed(fn, *args) -> tuple[Any, float]:
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def codec_sample(images: list[Image], blobs: list[bytes], tile_fmt: str) -> dict:
    """Driver-side timings of the public codec functions on a fixed sample:
    decode each image, then encode every tile window the way the tiling
    kernel does."""
    dec_s = enc_s = 0.0
    mpix = tile_bytes = n_tiles = 0
    for img, blob in zip(images, blobs):
        arr, dt = _timed(codec.decode, blob, "png", img.w, img.h)
        dec_s += dt
        mpix += img.w * img.h / 1e6
        for _, _, ox, oy, tw, th, _ in tile_grid(img.w, img.h):
            win = np.ascontiguousarray(arr[oy : oy + th, ox : ox + tw])
            out, dt = _timed(codec.encode, win, tile_fmt, 1)
            enc_s += dt
            tile_bytes += len(out)
            n_tiles += 1
    return {
        "codec.decode_ms_per_mpix": 1e3 * dec_s / mpix,
        "codec.encode_us_per_tile": 1e6 * enc_s / n_tiles,
        "codec.encode_share": enc_s / (enc_s + dec_s),
        "codec.tile_bytes_ratio": tile_bytes / sum(len(b) for b in blobs),
    }


class Workload:
    """Seeded inputs, their reference, and the jobs that run over them."""

    name = ""
    spark_conf: dict = {}
    """Session settings the workload adds to the package's own."""
    layers = frozenset({
        "scan.mb", "scan.s", "codegen.s", "tasks.skew", "jvm.gc_s", "cold_job_s",
        "driver.plan_s", "driver.jobs", "driver.tasks", "parallel_eff", "trace.overhead"})
    """Per-layer metrics a traced run must collect: the layers the jobs run."""
    warmup = 1
    """Untimed passes after the cold one: the JIT is still compiling the
    hot paths, and each pass runs faster than the last until it is done."""
    passes = 2
    """Measured passes at the least, however short ``--seconds`` is."""

    def __init__(self, seed: int, work: str, tile_fmt: str):
        self.work = work
        self.tile_fmt = tile_fmt
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])

    def materialise(self, pool, out_dir: str) -> None:
        """Write the seeded inputs under ``out_dir`` (the timed set-up)."""
        raise NotImplementedError

    def use(self, out_dir: str) -> None:
        """Point the jobs at one materialised copy of the inputs."""
        self.data = out_dir

    def build_reference(self) -> None:
        raise NotImplementedError

    def corrupt_reference(self) -> None:
        """Make every job's expected row count wrong by one."""
        self.expected_rows = {k: v + 1 for k, v in self.expected_rows.items()}

    def jobs(self) -> list[Job]:
        raise NotImplementedError

    def sample(self) -> dict:
        """Driver-side timings of public codec / kernel functions."""
        return {}

    def trace_once(self, spark) -> dict:
        """Per-layer counts that need one extra action per traced run."""
        return {}

    def layer_extras(self, results: list, tracer) -> dict:
        """Workload-specific per-layer metrics of one traced iteration;
        ``results`` are its jobs' :class:`run.JobResult` records."""
        return {}

    def cleanup_job(self) -> None:
        """Remove what one job wrote (outside its timed region)."""


# --------------------------------------------------------------------------- #
# masks: the PNG mask corpus, tiled, then vectorised
# --------------------------------------------------------------------------- #


class Masks(Workload):
    """Two jobs over one seeded PNG mask corpus: ``raster.slice_tiles`` over
    all of it, then ``submit.py --job polygons`` (``run_resumable`` over
    ``mask_to_polygons``) over a fixed subset, written to a fresh directory
    and read back."""

    name = "masks"
    layers = Workload.layers | {
        "shuffle.write_mb", "shuffle.write_s", "shuffle.records", "sort.peak_mb",
        "arrow.sent_mb", "arrow.recv_mb", "python.s", "python.boot_s",
        "codec.decode_ms_per_mpix", "codec.encode_us_per_tile", "codec.encode_share",
        "codec.tile_bytes_ratio", "morph.ms_per_mpix", "vector.polygonize_ms_per_image",
        "tiles.slice_s", "write.s", "write.mb", "readback.s"}

    def __init__(self, seed, work, tile_fmt):
        super().__init__(seed, work, tile_fmt)
        self.images = image_specs(self.rng, TILES_IMAGES)
        self.poly_images = self.images[:POLY_IMAGES]
        self.job_no = 0
        # sampled tiles: first and last tile of four images
        self.samples = {}
        for img in self.images[:4]:
            grid = list(tile_grid(img.w, img.h))
            for tiy, tix, ox, oy, tw, th, d in (grid[0], grid[-1]):
                tid = f"{img.image_id}_{tiy:0{d}d}_{tix:0{d}d}"
                self.samples[tid] = (img, ox, oy, tw, th)

    def materialise(self, pool, out_dir):
        path = os.path.join(out_dir, "images.parquet")
        write_images(pool, self.images, path)
        pq.write_table(pq.read_table(path).slice(0, POLY_IMAGES),
                       os.path.join(out_dir, "poly_images.parquet"))

    def build_reference(self):
        rows = key_sum = id_crc = 0
        for img in self.images:
            for tiy, tix, ox, oy, tw, th, d in tile_grid(img.w, img.h):
                rows += 1
                key_sum += _tile_key(img.idx, tiy, tix, ox, oy, tw, th)
                id_crc += _crc(f"{img.image_id}_{tiy:0{d}d}_{tix:0{d}d}")
        polys = area = weighted = 0
        for img in self.poly_images:
            for _, _, rw, rh in IMG.rect_params(img.pk, img.w, img.h):
                polys += 1
                area += rw * rh
                weighted += (_crc(img.image_id) % 1_000_003) * rw * rh
        self.expected_rows = {"raster.slice_tiles": rows,
                              "streaming.manifest.run_resumable": polys}
        self.expected = {"key_sum": key_sum, "id_crc": id_crc,
                         "area_px": area, "weighted": weighted}

    def jobs(self):
        return [
            Job("raster.slice_tiles", self._slice, self._check_tiles),
            Job("streaming.manifest.run_resumable", self._polygons, self._check_polygons),
        ]

    def _slice(self, spark, tracer):
        from pyspark.sql import functions as F

        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster

        imgs = spark.read.parquet(os.path.join(self.data, "images.parquet"))
        tiles = raster.slice_tiles(imgs, CFG, tile_fmt=self.tile_fmt)
        return tiles.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(_tile_key_col(F)).alias("key_sum"),
            F.sum(F.crc32(F.col("tile_id").cast("binary"))).alias("id_crc"),
            F.collect_list(
                F.when(
                    F.col("tile_id").isin(list(self.samples)),
                    F.struct("tile_id", "bytes", "fmt", "tw", "th"),
                )
            ).alias("sample"),
        ).collect()[0]

    def _check_tiles(self, row) -> int:
        _expect("tile rows", row["rows"], self.expected_rows["raster.slice_tiles"])
        _expect("tile key checksum", row["key_sum"], self.expected["key_sum"])
        _expect("tile id checksum", row["id_crc"], self.expected["id_crc"])
        _expect("sampled tiles", sorted(s["tile_id"] for s in row["sample"]),
                sorted(self.samples))
        for s in row["sample"]:
            img, ox, oy, tw, th = self.samples[s["tile_id"]]
            want = IMG.render_mask(img.pk, img.w, img.h)[oy : oy + th, ox : ox + tw]
            got = codec.decode(bytes(s["bytes"]), s["fmt"], s["tw"], s["th"])
            if got.shape != want.shape or not np.array_equal(got, want):
                raise CheckFailed(f"tile {s['tile_id']}: decoded pixels differ")
        return row["rows"]

    def _out(self) -> str:
        return os.path.join(self.work, "polygons-out", f"job-{self.job_no}")

    def _polygons(self, spark, tracer):
        from pyspark.sql import functions as F

        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.plans import pipeline
        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.streaming import manifest as MF

        self.job_no += 1
        imgs = spark.read.parquet(os.path.join(self.data, "poly_images.parquet"))
        with tracer.span("write"):
            result = MF.run_resumable(
                imgs, lambda df: pipeline.mask_to_polygons(df, CFG), "polygons", self._out()
            )
        with tracer.span("readback"):
            area = F.round(F.col("area_m2") * 100).cast("long")
            return result.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(area).alias("area_px"),
                F.sum((F.crc32(F.col("image_id").cast("binary")) % 1_000_003) * area)
                .alias("weighted"),
            ).collect()[0]

    def _check_polygons(self, row) -> int:
        _expect("polygon rows", row["rows"],
                self.expected_rows["streaming.manifest.run_resumable"])
        _expect("polygon area (px)", row["area_px"], self.expected["area_px"])
        _expect("per-image area checksum", row["weighted"], self.expected["weighted"])
        return row["rows"]

    def layer_extras(self, results, tracer):
        total = 0
        for base, _, files in os.walk(self._out()):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
        return {
            "tiles.slice_s": results[0].wall,
            "write.s": tracer.last("write"),
            "write.mb": total / 1e6,
            "readback.s": tracer.last("readback"),
        }

    def cleanup_job(self):
        shutil.rmtree(self._out(), ignore_errors=True)

    def sample(self):
        """Codec timings on the first images, with the workload's tile
        format; morphology and polygonize kernels on the same masks."""
        imgs = self.images[:SAMPLE_IMAGES]
        out = codec_sample(imgs, [render_png(i) for i in imgs], self.tile_fmt)
        morph_s = poly_s = mpix = 0.0
        for img in imgs:
            mask = IMG.render_mask(img.pk, img.w, img.h)
            t0 = time.perf_counter()
            cleaned = km.erosion_clean(mask, CFG.erosion_filter, CFG.min_object_area_px)
            labels = km.label(cleaned, connectivity=1).astype(np.int32)
            t1 = time.perf_counter()
            kv.polygonize(labels, (img.ulx, CELL, 0.0, img.uly, 0.0, -CELL))
            poly_s += time.perf_counter() - t1
            morph_s += t1 - t0
            mpix += img.w * img.h / 1e6
        out["morph.ms_per_mpix"] = 1e3 * morph_s / mpix
        out["vector.polygonize_ms_per_image"] = 1e3 * poly_s / len(imgs)
        return out


def _tile_key(idx, tiy, tix, ox, oy, tw, th) -> int:
    return idx * 7919 + tiy * 104729 + tix * 1299709 + ox * 31 + oy * 37 + tw * 41 + th * 43


def _tile_key_col(F):
    idx = F.substring("image_id", 5, 6).cast("long")
    return (idx * 7919 + F.col("tiy") * 104729 + F.col("tix") * 1299709
            + F.col("off_x") * 31 + F.col("off_y") * 37 + F.col("tw") * 41
            + F.col("th") * 43)


# --------------------------------------------------------------------------- #
# joins
# --------------------------------------------------------------------------- #


class Joins(Workload):
    """``pip_join``, ``bbox_range_join`` to ``gen_tiles`` tiles and
    ``knn_join`` (k=5) over seeded points and footprints, ``HOT_SHARE`` of
    both in one index cell; then ``pip_join`` once more over a uniform set
    of the same size, the control for the hot cell."""

    name = "joins"
    layers = Workload.layers | {
        "shuffle.write_mb", "shuffle.write_s", "shuffle.records", "sort.peak_mb",
        "joins.cover_rows", "joins.candidates", "joins.matches", "joins.refine_yield",
        "joins.pip_s", "joins.pip_skew", "joins.pip_uniform_s", "joins.pip_uniform_skew",
        "joins.assign_s", "joins.knn_s"}
    # The joins run on the shuffle path, as they do at scale, where neither
    # side fits a broadcast.  Inputs this small would fall under Spark's 10 MB
    # broadcast threshold, so it is switched off, as BENCH.md's explode-side
    # study does to model the same regime.  Adaptive execution would likewise
    # coalesce the join into one task (its partitions are at least 1 MB),
    # where no cell can skew a task; a 1 KB floor lets it split the join over
    # the cores as it would at scale, so the hot cell's partition shows in
    # the task times.
    spark_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                  "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k"}
    # on a 4-core host the second to fourth passes after the cold one took
    # 6.2, 5.8, 5.4 s, then 4.3-4.8 s from the fifth on: the many small join
    # and knn-round plans keep the JIT busy for longer than raster's jobs
    # do.  One more warm-up pass than raster's and a median over three
    # measured passes keep most of that slope out of the figure, in a run
    # of about a minute.
    warmup = 2
    passes = 3

    def __init__(self, seed, work, tile_fmt):
        super().__init__(seed, work, tile_fmt)
        rng = self.rng
        side = WORLD_GRID.side
        # the hot cell and every point keep 1 km from the world's edge: a
        # point near a corner sees a clipped ring of centres and can send
        # knn_join into an extra round, which would make the round count
        # move with the seed
        edge = int(1000.0 // side) + 1
        hot_lo = rng.integers(edge, WORLD_GRID.n - edge, 2) * side

        def place(n: int, margin: float, share: float) -> np.ndarray:
            xy = rng.uniform(margin, WORLD - margin, (n, 2))
            n_hot = int(n * share)
            xy[:n_hot] = hot_lo + rng.uniform(0.0, side, (n_hot, 2))
            return xy[rng.permutation(n)]

        self.inputs = {}
        for kind, share in (("hot", HOT_SHARE), ("uniform", 0.0)):
            pts = place(JOIN_POINTS, 1000.0, share)
            points = pd.DataFrame({"pt_id": np.arange(JOIN_POINTS, dtype=np.int64),
                                   "px": pts[:, 0], "py": pts[:, 1]})
            self.inputs[kind] = points, footprints(rng, place(JOIN_FOOTPRINTS, 60.0, share))
        self.points, self.footprints = self.inputs["hot"]
        self.images = image_specs(rng, JOIN_IMAGES)

    def materialise(self, pool, out_dir):
        for kind, (points, fps) in self.inputs.items():
            pq.write_table(pa.Table.from_pandas(points, preserve_index=False),
                           os.path.join(out_dir, f"points_{kind}.parquet"))
            pq.write_table(pa.Table.from_pandas(fps, preserve_index=False),
                           os.path.join(out_dir, f"footprints_{kind}.parquet"))
        pq.write_table(pa.table({
            "image_id": [i.image_id for i in self.images],
            "w": pa.array([i.w for i in self.images], pa.int32()),
            "h": pa.array([i.h for i in self.images], pa.int32()),
            "ulx": [i.ulx for i in self.images],
            "uly": [i.uly for i in self.images],
        }), os.path.join(out_dir, "image_meta.parquet"))

    def build_reference(self):
        con = duckdb.connect()
        try:
            pip = {kind: self._pip_reference(con, *self.inputs[kind]) for kind in self.inputs}
            con.register("points_meta", self.points)
            con.register("tiles_geo", self._tiles_geo())
            assign = con.execute("""
SELECT p.pt_id, t.tile_id
FROM points_meta p, tiles_geo t
WHERE p.px > t.tminx AND p.px < t.tmaxx
  AND p.py > t.tminy AND p.py < t.tmaxy""").fetchall()
        finally:
            con.close()
        knn = self._knn_reference(5)
        pairs = {
            "joins.pip_join": [f"{p}|{f}" for p, f in pip["hot"]],
            "joins.bbox_range_join": [f"{p}|{t}" for p, t in assign],
            "joins.knn_join": [f"{p}|{f}|{r}" for p, f, r in knn],
            "joins.pip_join:uniform": [f"{p}|{f}" for p, f in pip["uniform"]],
        }
        self.expected_rows = {job: len(keys) for job, keys in pairs.items()}
        self.expected = {job: sum(map(_crc, keys)) for job, keys in pairs.items()}

    @staticmethod
    def _pip_reference(con, points, fps) -> list[tuple]:
        con.register("points_meta", points)
        con.register("footprints_meta", fps.drop(columns="ring"))
        return con.execute("""
SELECT p.pt_id, f.fp_id
FROM points_meta p JOIN footprints_meta f
  ON p.px BETWEEN f.minx AND f.maxx AND p.py BETWEEN f.miny AND f.maxy
WHERE abs( (p.px - f.cx) * cos(radians(f.theta_deg)) + (p.py - f.cy) * sin(radians(f.theta_deg))) <= f.a
  AND abs(-(p.px - f.cx) * sin(radians(f.theta_deg)) + (p.py - f.cy) * cos(radians(f.theta_deg))) <= f.b
""").fetchall()

    def _tiles_geo(self) -> pd.DataFrame:
        """gen_tiles' closed form with its per-tile geo bbox."""
        rows = []
        for img in self.images:
            for tiy, tix, ox, oy, tw, th, d in tile_grid(img.w, img.h):
                gx0 = img.ulx + ox * CELL
                gy0 = img.uly + oy * -CELL
                rows.append((f"{img.image_id}_{tiy:0{d}d}_{tix:0{d}d}",
                             gx0, gy0 + th * -CELL, gx0 + tw * CELL, gy0))
        return pd.DataFrame(rows, columns=["tile_id", "tminx", "tminy", "tmaxx", "tmaxy"])

    def _knn_reference(self, k: int) -> list[tuple]:
        """Exact k nearest centres per point by brute force, ordered by
        (dist2, fp_id) — the kNN oracle's order."""
        px = self.points.px.to_numpy()[:, None]
        py = self.points.py.to_numpy()[:, None]
        cx = self.footprints.cx.to_numpy()[None, :]
        cy = self.footprints.cy.to_numpy()[None, :]
        ids = self.footprints.fp_id.to_numpy()
        out = []
        for s in range(0, len(px), 2048):
            dx, dy = px[s : s + 2048] - cx, py[s : s + 2048] - cy
            d2 = dx * dx + dy * dy
            top = np.argpartition(d2, k, axis=1)[:, : k + 1]
            for r, cand in enumerate(top):
                order = sorted(cand, key=lambda j: (d2[r, j], j))[:k]
                out.extend((s + r, ids[j], rank + 1) for rank, j in enumerate(order))
        return out

    def jobs(self):
        return [
            Job("joins.pip_join", self._pip("hot"), self._checker("joins.pip_join")),
            Job("joins.bbox_range_join", self._assign, self._checker("joins.bbox_range_join")),
            Job("joins.knn_join", self._knn, self._checker("joins.knn_join")),
            Job("joins.pip_join:uniform", self._pip("uniform"),
                self._checker("joins.pip_join:uniform")),
        ]

    def _read(self, spark, name):
        return spark.read.parquet(os.path.join(self.data, name))

    @staticmethod
    def _summary(df, *key_cols):
        from pyspark.sql import functions as F

        key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        return df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32(key.cast("binary"))).alias("crc"),
        ).collect()[0]

    def _pip(self, kind: str):
        def run(spark, tracer):
            from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import joins

            polys = self._read(spark, f"footprints_{kind}.parquet").select(
                "fp_id", "ring", "minx", "miny", "maxx", "maxy")
            pairs = joins.pip_join(self._read(spark, f"points_{kind}.parquet"), polys, WORLD_GRID)
            return self._summary(pairs, "pt_id", "fp_id")

        return run

    def _assign(self, spark, tracer):
        from pyspark.sql import functions as F

        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import grid, joins

        pts = self._read(spark, "points_hot.parquet").select(
            "pt_id", F.col("px").alias("minx"), F.col("py").alias("miny"),
            F.col("px").alias("maxx"), F.col("py").alias("maxy"))
        tiles = grid.gen_tiles(self._read(spark, "image_meta.parquet"), CFG).select(
            "tile_id", F.col("tminx").alias("minx"), F.col("tminy").alias("miny"),
            F.col("tmaxx").alias("maxx"), F.col("tmaxy").alias("maxy"))
        pairs = joins.bbox_range_join(pts, tiles, WORLD_GRID)
        return self._summary(pairs, "l_pt_id", "r_tile_id")

    def _knn(self, spark, tracer):
        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import joins

        centers = self._read(spark, "footprints_hot.parquet").select("fp_id", "cx", "cy")
        nn = joins.knn_join(self._read(spark, "points_hot.parquet"), centers, WORLD_GRID, k=5)
        return self._summary(nn, "pt_id", "fp_id", "rank")

    def layer_extras(self, results, tracer):
        by = {r.name: r for r in results}
        pip, uniform = by["joins.pip_join"], by["joins.pip_join:uniform"]
        return {
            "joins.matches": float(pip.rows),
            "joins.pip_s": pip.wall,
            "joins.pip_skew": pip.ledger["tasks.skew"],
            "joins.pip_uniform_s": uniform.wall,
            "joins.pip_uniform_skew": uniform.ledger["tasks.skew"],
            "joins.assign_s": by["joins.bbox_range_join"].wall,
            "joins.knn_s": by["joins.knn_join"].wall,
        }

    def trace_once(self, spark):
        """pip_join's cell prefilter on the hot inputs, counted with the
        cell index's public functions: cover rows of the polygon side, and
        the (point, polygon) candidates of the cell equi-join that reach the
        ray-cast refine.  (Catalyst folds the refine into the join
        condition, so the executed join's output rows are the matches, not
        the candidates.)"""
        from pyspark.sql import functions as F

        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.functions.cellindex import explode_cover, with_cell

        pts = with_cell(self._read(spark, "points_hot.parquet"), WORLD_GRID, "px", "py")
        cover = explode_cover(self._read(spark, "footprints_hot.parquet").select(
            "fp_id", "minx", "miny", "maxx", "maxy"), WORLD_GRID)
        cover_rows = cover.count()
        candidates = pts.join(cover, "cell_id").agg(F.count(F.lit(1))).collect()[0][0]
        matches = self.expected_rows["joins.pip_join"]
        return {
            "joins.cover_rows": float(cover_rows),
            "joins.candidates": float(candidates),
            "joins.refine_yield": matches / candidates if candidates else 0.0,
        }

    def _checker(self, job: str):
        def check(row) -> int:
            _expect(f"{job} rows", row["rows"], self.expected_rows[job])
            _expect(f"{job} pair checksum", row["crc"] or 0, self.expected[job])
            return row["rows"]

        return check


def footprints(rng: np.random.Generator, centres: np.ndarray) -> pd.DataFrame:
    """Rotated-rectangle footprints around ``centres``: id, centre, half
    sides, angle, closed ring and bbox."""
    n = len(centres)
    fp = pd.DataFrame({
        "fp_id": [f"fp_{i:06d}" for i in range(n)],
        "cx": centres[:, 0], "cy": centres[:, 1],
        "a": rng.uniform(5.375, 45.375, n),
        "b": rng.uniform(5.375, 35.375, n),
        "theta_deg": rng.integers(0, 12, n) * 15.0,
    })
    th = np.radians(fp["theta_deg"].to_numpy())
    ct, st = np.cos(th), np.sin(th)
    corners = [(-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1)]
    xs = np.stack([fp.cx + su * fp.a * ct - sv * fp.b * st for su, sv in corners], 1)
    ys = np.stack([fp.cy + su * fp.a * st + sv * fp.b * ct for su, sv in corners], 1)
    fp["ring"] = [np.stack([x, y], 1).tolist() for x, y in zip(xs, ys)]
    fp["minx"], fp["maxx"] = xs.min(1), xs.max(1)
    fp["miny"], fp["maxy"] = ys.min(1), ys.max(1)
    return fp


# --------------------------------------------------------------------------- #
# scenes: windows and zones over GeoTIFF scenes
# --------------------------------------------------------------------------- #


class Scenes(Workload):
    """Reads by location over a directory of tiled, deflate-compressed RGB
    GeoTIFF scenes much larger than a chip: ``read_windows`` chips at label
    points and ``zonal_stats_poly`` over footprint zones."""

    name = "scenes"
    layers = Workload.layers | {
        "arrow.sent_mb", "arrow.recv_mb", "python.s", "python.boot_s",
        "tiff.decode_ms_per_mpix", "tiff.window_ms_per_mpix", "windows.read_s",
        "windows.useful_frac", "zonal.s", "zonal.pip_tests"}

    def __init__(self, seed, work, tile_fmt):
        super().__init__(seed, work, tile_fmt)
        rng = self.rng
        slots = rng.choice(35 * 35, size=SCENES, replace=False)
        self.scenes = []
        for i, slot in enumerate(slots):
            ox, oy = rng.uniform(0.0, 90.0, 2)
            ulx = float((slot % 35) * 300.0 + ox)
            uly = float((slot // 35) * 300.0 + oy + SCENE_PX * CELL)
            self.scenes.append(Image(f"scene_{i:03d}", i, int(rng.integers(1, 1_000_000)),
                                     SCENE_PX, SCENE_PX, ulx, uly))
        wins = []
        for s in self.scenes:
            for _ in range(CHIPS_PER_SCENE):
                x0, y0 = rng.integers(0, SCENE_PX - CHIP_PX, 2)
                wins.append((s.image_id, int(x0), int(y0), CHIP_PX, CHIP_PX))
        self.windows = pd.DataFrame(wins, columns=["image_id", "wx0", "wy0", "ww", "wh"])
        zones = []
        for z in range(ZONES):
            s = self.scenes[int(rng.integers(0, SCENES))]
            extent = SCENE_PX * CELL
            cx = s.ulx + rng.uniform(20.0, extent - 20.0)
            cy = s.uly - rng.uniform(20.0, extent - 20.0)
            a, b = rng.uniform(5.0, 30.0), rng.uniform(5.0, 25.0)
            th = np.radians(int(rng.integers(0, 12)) * 15.0)
            ct, st = np.cos(th), np.sin(th)
            corners = [(-1, -1), (1, -1), (1, 1), (-1, 1)]
            zones.append((f"zone_{z:04d}",
                          [float(cx + u * a * ct - v * b * st) for u, v in corners],
                          [float(cy + u * a * st + v * b * ct) for u, v in corners]))
        self.zones = pd.DataFrame(zones, columns=["zone_id", "xs", "ys"])
        self.arrays: dict[str, np.ndarray] = {}

    def materialise(self, pool, out_dir):
        scene_dir = os.path.join(out_dir, "scenes")
        os.makedirs(scene_dir)
        for s, blob in zip(self.scenes, pool.map(scene_tiff, self.scenes)):
            with open(os.path.join(scene_dir, f"{s.image_id}.tif"), "wb") as f:
                f.write(blob)
        pq.write_table(pa.Table.from_pandas(self.windows, preserve_index=False),
                       os.path.join(out_dir, "windows.parquet"))
        pq.write_table(pa.Table.from_pandas(self.zones, preserve_index=False),
                       os.path.join(out_dir, "zones.parquet"))

    def build_reference(self):
        self.arrays = {s.image_id: IMG.render_rgb(s.pk, s.w, s.h) for s in self.scenes}
        zonal = {}
        for z in self.zones.itertuples(index=False):
            xs, ys = np.asarray(z.xs), np.asarray(z.ys)
            acc = [0, 0, 0, 0]
            for s in self.scenes:
                band = self.arrays[s.image_id][:, :, 0]
                i0 = max(int(np.floor((xs.min() - s.ulx) / CELL)) - 1, 0)
                i1 = min(int(np.ceil((xs.max() - s.ulx) / CELL)) + 1, s.w)
                j0 = max(int(np.floor((s.uly - ys.max()) / CELL)) - 1, 0)
                j1 = min(int(np.ceil((s.uly - ys.min()) / CELL)) + 1, s.h)
                if i0 >= i1 or j0 >= j1:
                    continue
                px = s.ulx + (np.arange(i0, i1) + 0.5) * CELL
                py = s.uly - (np.arange(j0, j1) + 0.5) * CELL
                inside = _pnpoly_grid(xs, ys, px, py)
                if not inside.any():
                    continue
                win = band[j0:j1, i0:i1]
                acc[0] += 1
                acc[1] += int(inside.sum())
                acc[2] += int(((win > 0) & inside).sum())
                acc[3] += int(win[inside].sum(dtype=np.int64))
            if acc[0]:
                zonal[z.zone_id] = tuple(acc)
        self.expected = {"zonal": zonal}
        self.expected_rows = {
            "raster.read_windows": len(self.windows),
            "raster.zonal_stats_poly": len(zonal),
        }

    def jobs(self):
        return [
            Job("raster.read_windows", self._chips, self._check_chips),
            Job("raster.zonal_stats_poly", self._zonal, self._check_zonal),
        ]

    def _load(self, spark):
        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.sources import catalog

        return catalog.load_raster_dir(spark, os.path.join(self.data, "scenes"))

    def _chips(self, spark, tracer):
        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster

        wins = spark.read.parquet(os.path.join(self.data, "windows.parquet"))
        return raster.read_windows(self._load(spark), wins).collect()

    def _check_chips(self, rows) -> int:
        _expect("chip rows", len(rows), self.expected_rows["raster.read_windows"])
        _expect("chip windows",
                sorted((r.image_id, r.wx0, r.wy0, r.ww, r.wh) for r in rows),
                sorted(map(tuple, self.windows.itertuples(index=False))))
        for r in rows:
            want = self.arrays[r.image_id][r.wy0 : r.wy0 + r.wh, r.wx0 : r.wx0 + r.ww]
            got = codec.decode(bytes(r.bytes), r.fmt, r.ww, r.wh)
            if not np.array_equal(got, want):
                raise CheckFailed(f"chip {r.image_id}@{r.wx0},{r.wy0}: pixels differ")
        return len(rows)

    def layer_extras(self, results, tracer):
        """Job times, and the share of the bytes shipped to Python that the
        chips use."""
        by = {r.name: r for r in results}
        chips = by["raster.read_windows"]
        shipped = chips.ledger.get("arrow.sent_mb", 0.0) * 1e6
        useful = int((self.windows.ww * self.windows.wh).sum()) * 3
        return {
            "windows.read_s": chips.wall,
            "windows.useful_frac": useful / shipped if shipped else 0.0,
            "zonal.s": by["raster.zonal_stats_poly"].wall,
        }

    def _zonal(self, spark, tracer):
        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster

        zones = spark.read.parquet(os.path.join(self.data, "zones.parquet"))
        return raster.zonal_stats_poly(self._load(spark), zones, CFG).collect()

    def _check_zonal(self, rows) -> int:
        _expect("zonal rows", len(rows), self.expected_rows["raster.zonal_stats_poly"])
        got = {r.zone_id: (r.n_images, r.n_px, r.fg_px, r.sum_val) for r in rows}
        _expect("zonal stats", got, self.expected["zonal"])
        return len(rows)

    def sample(self):
        s = self.scenes[0]
        blob = scene_tiff(s)
        _, dec = _timed(codec.decode, blob, "tif", s.w, s.h)
        win_s = 0.0
        wins = self.windows[self.windows.image_id == s.image_id].head(8)
        for w in wins.itertuples(index=False):
            _, dt = _timed(codec_tiff.decode_tiff_window, blob, w.wx0, w.wy0, w.ww, w.wh)
            win_s += dt
        return {
            "tiff.decode_ms_per_mpix": 1e3 * dec / (s.w * s.h / 1e6),
            "tiff.window_ms_per_mpix": 1e3 * win_s / (len(wins) * CHIP_PX * CHIP_PX / 1e6),
        }

    def trace_once(self, spark):
        """Pixel-centre PIP tests zonal_stats_poly makes: the pixels of
        every (scene, zone) window the engine plans."""
        from pyspark.sql import functions as F

        from vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark.operators import raster

        zones = spark.read.parquet(os.path.join(self.data, "zones.parquet")).select(
            F.col("zone_id").alias("box_id"),
            F.array_min("xs").alias("minx"), F.array_min("ys").alias("miny"),
            F.array_max("xs").alias("maxx"), F.array_max("ys").alias("maxy"))
        wins = raster.box_windows(self._load(spark), zones, CFG)
        n = wins.agg(F.sum(F.col("ww").cast("long") * F.col("wh"))).collect()[0][0]
        return {"zonal.pip_tests": float(n or 0)}


def _pnpoly_grid(xs, ys, px, py) -> np.ndarray:
    """Even-odd crossing test of pixel centres (py rows x px columns)
    against the simple polygon (xs, ys); closing edge implicit."""
    inside = np.zeros((len(py), len(px)), dtype=bool)
    gx, gy = px[None, :], py[:, None]
    for k in range(len(xs)):
        x1, y1, x2, y2 = xs[k], ys[k], xs[(k + 1) % len(xs)], ys[(k + 1) % len(xs)]
        if y1 == y2:
            continue
        crosses = (y1 > gy) != (y2 > gy)
        inside ^= crosses & (gx < (x2 - x1) * (gy - y1) / (y2 - y1) + x1)
    return inside


class Raster(Workload):
    """The pixel path: the mask corpus jobs, then the scene window jobs.
    Every job crosses the JVM/Python Arrow boundary; none joins points."""

    name = "raster"

    layers = Masks.layers | Scenes.layers

    def __init__(self, seed, work, tile_fmt):
        self.parts = [Masks(seed, work, tile_fmt), Scenes(seed, work, tile_fmt)]

    def materialise(self, pool, out_dir):
        for part in self.parts:
            part.materialise(pool, out_dir)

    def use(self, out_dir):
        for part in self.parts:
            part.use(out_dir)

    def build_reference(self):
        for part in self.parts:
            part.build_reference()

    def corrupt_reference(self):
        for part in self.parts:
            part.corrupt_reference()

    def jobs(self):
        return [job for part in self.parts for job in part.jobs()]

    def sample(self):
        return {k: v for part in self.parts for k, v in part.sample().items()}

    def trace_once(self, spark):
        return {k: v for part in self.parts for k, v in part.trace_once(spark).items()}

    def layer_extras(self, results, tracer):
        out = {}
        for part in self.parts:
            names = {job.name for job in part.jobs()}
            out.update(part.layer_extras([r for r in results if r.name in names], tracer))
        return out

    def cleanup_job(self):
        for part in self.parts:
            part.cleanup_job()


WORKLOADS = {w.name: w for w in (Raster, Joins)}
