"""Tile metadata parsing and JVM-side cell emission.

``tile_meta`` derives grid placement from ``image_id`` with pure Spark
expressions (regexp_extract + arithmetic) — no UDF, so Catalyst can prune
the heavy ``bytes`` column out of every plan that only needs placement
(the scan for the candidate join reads only ``image_id``).

``tile_cells`` emits, per tile, its covering cells at BASE_RES **and every
ancestor resolution down to the polygon covers' coarsest level**, entirely
with ``sequence``/``explode`` + bit arithmetic (whole-stage codegen; no
Python).  A single equi-join of this against the polygons' compact adaptive
cover then matches every tile-overlaps-polygon pair — the distributable
replacement for the reference's whole-scene rasterisation spatial join
(reference drill.py:32-101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import BASE_RES, EPOCH, RES_BITS, WORLD
from ..datagen import GridSpec

COARSEST_COVER_RES = 4

# the int keys of a ``t%04d_x%03d_y%03d`` image id (datagen.image_id)
_IMAGE_ID_KEYS = {"ts_idx": r"^t(\d+)_", "gx": r"_x(\d+)_", "gy": r"_y(\d+)$"}


def image_id_keys(*names: str) -> dict:
    """{name: int Column aliased to name}: the ``ts_idx``/``gx``/``gy``
    keys (all three by default) parsed JVM-side from ``image_id`` —
    the one place the engine parses them."""
    return {n: F.regexp_extract("image_id", _IMAGE_ID_KEYS[n], 1)
            .cast("int").alias(n) for n in names or _IMAGE_ID_KEYS}


def tile_meta(tiles: DataFrame, grid: GridSpec) -> DataFrame:
    """(image_id, ts_idx, gx, gy, ts, x0, y0, x1, y1) — placement columns
    derived from image_id; never touches ``bytes``."""
    sx, sy = grid.tile_span_x, grid.tile_span_y
    return tiles.select(
        "image_id", *image_id_keys().values(),
    ).select(
        "image_id", "ts_idx", "gx", "gy",
        F.timestamp_add("DAY", F.col("ts_idx"),
                        F.lit(EPOCH).cast("timestamp")).alias("ts"),
        (F.lit(grid.x_off) + F.col("gx") * sx).alias("x0"),
        (F.lit(grid.y_off) + F.col("gy") * sy).alias("y0"),
        (F.lit(grid.x_off) + (F.col("gx") + 1) * sx).alias("x1"),
        (F.lit(grid.y_off) + (F.col("gy") + 1) * sy).alias("y1"),
    )


def tile_cells(meta: DataFrame, base_res: int = BASE_RES,
               coarsest: int = COARSEST_COVER_RES) -> DataFrame:
    """(image_id, cell) — tile bbox cover at every res in
    [coarsest, base_res].  All JVM-side: explode(sequence(...)) x2 plus bit
    packing; ~(base_res - coarsest) + a few dozen rows per tile."""
    df = meta.select(
        "image_id", "x0", "y0", "x1", "y1",
        F.explode(F.sequence(F.lit(coarsest), F.lit(base_res))).alias("cres"),
    ).withColumn(
        "csize", F.lit(WORLD) / F.pow(F.lit(2.0), F.col("cres"))
    )
    df = df.select(
        "image_id", "cres", "csize",
        F.floor(F.col("x0") / F.col("csize")).alias("ix0"),
        F.floor((F.col("x1") - F.lit(1e-6)) / F.col("csize")).alias("ix1"),
        F.floor(F.col("y0") / F.col("csize")).alias("iy0"),
        F.floor((F.col("y1") - F.lit(1e-6)) / F.col("csize")).alias("iy1"),
    )
    df = df.select(
        "image_id", "cres", "iy0", "iy1",
        F.explode(F.sequence("ix0", "ix1")).alias("ix"),
    ).select(
        "image_id", "cres", "ix",
        F.explode(F.sequence("iy0", "iy1")).alias("iy"),
    )
    cell = (
        F.shiftleft(F.col("cres").cast("long"), 58)
        .bitwiseOR(F.shiftleft(F.col("ix"), RES_BITS))
        .bitwiseOR(F.col("iy"))
    )
    return df.select("image_id", cell.alias("cell"))


def extents_by_ts(meta: DataFrame) -> DataFrame:
    """Per-timestep observed extent (bbox of all tiles present) — the
    engine's analogue of the reference's scene extent used for edge-direction
    flags (reference drill.py:604-616)."""
    return meta.groupBy("ts").agg(
        F.min("x0").alias("ex0"), F.min("y0").alias("ey0"),
        F.max("x1").alias("ex1"), F.max("y1").alias("ey1"),
    )
