"""Tiling / gridding operators (SURVEY.md §2.2, O1/O2/O3/O8).

Reference semantics pinned exactly:

* tile counts   — ``tile_info``: ``count = 1 + int((size - T + (T-ov) - 1)
  / (T-ov))`` when ``size > T`` else 1 (/root/reference/src/bf_gridding.py:104-120).
* enumeration   — ``tileImage``: 1-based (yIndex, xIndex), y-then-x emission,
  ``offset = (idx-1) * (T-ov)``, border clamp ``width = size - offset``
  (/root/reference/src/bf_gridding.py:341-403 at 363-379).
* tile id       — ``getTileName``: ``{name}_{y:0Nd}_{x:0Nd}`` with
  ``N = len(str(max(countX, countY)))`` (/root/reference/src/bf_gridding.py:689-722).
* per-tile gt   — ``createTile``: ``[ulx + ox*sx, sx, 0, uly + oy*sy, 0, sy]``
  (/root/reference/src/bf_gridding.py:519-529).

Spark-first: the whole operator is ``explode(sequence(...))`` twice plus
column arithmetic — zero UDFs, fully inside whole-stage codegen, and Catalyst
can push image-level filters below the explode.  The reference fans out one
*subprocess per file* (/root/reference/src/bf_grid.py:31-36); here fan-out is
ordinary task parallelism over scan partitions, so it scales with executors
instead of local cores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig


def tile_counts(size: Column, tile: int, overlap: int) -> Column:
    """O1 closed form; int-div ceil identical to the reference expression."""
    step = tile - overlap
    return (
        F.lit(1)
        + F.floor((F.greatest(size - tile, F.lit(0)) + (step - 1)) / step)
    ).cast("int")


def with_tile_counts(
    images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG, overlap: int | None = None
) -> DataFrame:
    """images(+w,h) -> + (nx, ny) tile-grid cardinality columns."""
    ov = cfg.overlap_px if overlap is None else overlap
    return images.withColumns(
        {
            "nx": tile_counts(F.col("w"), cfg.tile_size, ov),
            "ny": tile_counts(F.col("h"), cfg.tile_size, ov),
        }
    )


def gen_tiles(
    images: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    overlap: int | None = None,
    with_geo: bool = True,
) -> DataFrame:
    """O2+O3+O8: enumerate the full tile grid of every image.

    Input needs columns ``image_id, w, h`` (+ ``ulx, uly`` when
    ``with_geo``).  Output: one row per tile with 1-based (tiy, tix), pixel
    window (off_x, off_y, tw, th), reference-format ``tile_id`` and (opt) the
    shifted geotransform + geo bbox.
    """
    t = cfg.tile_size
    ov = cfg.overlap_px if overlap is None else overlap
    step = t - ov

    df = with_tile_counts(images, cfg, ov)
    # y-then-x emission order is carried by (tiy, tix) columns, not row order:
    # Spark output order is undefined under shuffle; all consumers that need
    # the reference's emission order sort by (tiy, tix) explicitly.
    df = df.withColumn("tiy", F.explode(F.sequence(F.lit(1), F.col("ny"))))
    df = df.withColumn("tix", F.explode(F.sequence(F.lit(1), F.col("nx"))))

    off_x = (F.col("tix") - 1) * step
    off_y = (F.col("tiy") - 1) * step
    digits = F.length(F.greatest(F.col("nx"), F.col("ny")).cast("string"))

    df = df.withColumns(
        {
            "off_x": off_x.cast("int"),
            "off_y": off_y.cast("int"),
            "tw": F.least(F.lit(t), F.col("w") - off_x).cast("int"),
            "th": F.least(F.lit(t), F.col("h") - off_y).cast("int"),
            "tile_id": F.concat(
                F.col("image_id"),
                F.lit("_"),
                F.lpad(F.col("tiy").cast("string"), digits, "0"),
                F.lit("_"),
                F.lpad(F.col("tix").cast("string"), digits, "0"),
            ),
        }
    )
    if with_geo:
        sx, sy = cfg.cell_size_m, -cfg.cell_size_m
        gx0 = F.col("ulx") + F.col("off_x") * sx
        gy0 = F.col("uly") + F.col("off_y") * sy
        df = df.withColumns(
            {
                "gt": F.array(gx0, F.lit(sx), F.lit(0.0), gy0, F.lit(0.0), F.lit(sy)),
                "tminx": gx0,
                "tmaxx": gx0 + F.col("tw") * sx,
                "tmaxy": gy0,
                "tminy": gy0 + F.col("th") * sy,
            }
        )
    return df


def image_extents(images: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """O4/O6: per-image footprint bbox from (ulx, uly, w, h) — pure projection
    (``getTileIndexFromFiles``/``mosaic_info``,
    /root/reference/src/bf_gridding.py:304-332,130-175)."""
    sx, sy = cfg.cell_size_m, -cfg.cell_size_m
    return images.withColumns(
        {
            "minx": F.col("ulx"),
            "maxx": F.col("ulx") + F.col("w") * sx,
            "maxy": F.col("uly"),
            "miny": F.col("uly") + F.col("h") * sy,
        }
    )


def gen_tiles_sql(tile: int = 200, overlap: int = 10, src: str = "images_meta") -> str:
    """DuckDB CTE mirroring :func:`gen_tiles` over ``src`` (any CTE with
    image_id/w/h — the pyramid oracle feeds per-level dims).  Two-stage
    unnest because DuckDB zips multiple unnests in one SELECT."""
    step = tile - overlap
    return f"""
counts AS (
  SELECT *,
    CAST(1 + FLOOR((greatest(w - {tile}, 0) + {step - 1}) / {step}) AS INT) AS nx,
    CAST(1 + FLOOR((greatest(h - {tile}, 0) + {step - 1}) / {step}) AS INT) AS ny
  FROM {src}
),
rows_y AS (
  SELECT *, CAST(unnest(generate_series(1, ny)) AS INT) AS tiy FROM counts
),
tiles AS (
  SELECT *,
    CAST((tix - 1) * {step} AS INT) AS off_x,
    CAST((tiy - 1) * {step} AS INT) AS off_y,
    CAST(least({tile}, w - (tix - 1) * {step}) AS INT) AS tw,
    CAST(least({tile}, h - (tiy - 1) * {step}) AS INT) AS th,
    concat(
      image_id, '_',
      lpad(CAST(tiy AS VARCHAR), CAST(length(CAST(greatest(nx, ny) AS VARCHAR)) AS INT), '0'),
      '_',
      lpad(CAST(tix AS VARCHAR), CAST(length(CAST(greatest(nx, ny) AS VARCHAR)) AS INT), '0')
    ) AS tile_id
  FROM (SELECT *, CAST(unnest(generate_series(1, nx)) AS INT) AS tix FROM rows_y)
)"""


def tiles_geo_sql() -> str:
    """DuckDB CTE adding the shifted-geotransform bbox to ``tiles``."""
    return """
tiles_geo AS (
  SELECT *,
    ulx + off_x * 1e-1 AS tminx,
    ulx + off_x * 1e-1 + tw * 1e-1 AS tmaxx,
    uly + off_y * (-1e-1) AS tmaxy,
    uly + off_y * (-1e-1) + th * (-1e-1) AS tminy
  FROM tiles
)"""
