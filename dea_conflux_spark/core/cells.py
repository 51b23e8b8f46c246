"""Hierarchical grid cell index (H3/S2-style, pure numpy).

A cell id packs ``(res, ix, iy)`` into a non-negative int64::

    cell = (res << 58) | (ix << 29) | iy       res in [0, 24], ix/iy < 2**res

Cells at resolution ``r`` are squares of side ``WORLD / 2**r`` anchored at the
origin.  Equality joins on cell ids implement the engine's spatial join: tiles
emit their covering cells at BASE_RES *plus all ancestors*, polygons emit a
**compact adaptive cover** (coarse cells where fully interior, fine cells at
the boundary), so a single equi-join on ``cell`` matches every
tile-overlaps-polygon pair regardless of cover resolution.

This plays the role of the reference's whole-scene rasterisation
(reference drill.py:32-101) as a *distributable* join key instead of a
materialised raster.  Plain (res,ix,iy) packing is used rather than Z-order
interleave: the join only needs equality, and ring arithmetic for kNN is
simpler on raw (ix, iy).
"""

from __future__ import annotations

import numpy as np

from ..config import WORLD, RES_BITS, MAX_RES
from . import geom

_IXY_MASK = (1 << RES_BITS) - 1


def cell_size(res: int) -> float:
    return WORLD / (1 << res)


def pack(res, ix, iy):
    """Pack (res, ix, iy) -> int64 cell id (vectorized)."""
    return (
        (np.int64(res) << np.int64(58))
        | (np.asarray(ix, dtype=np.int64) << np.int64(RES_BITS))
        | np.asarray(iy, dtype=np.int64)
    )


def unpack(cell):
    c = np.asarray(cell, dtype=np.int64)
    res = (c >> np.int64(58)).astype(np.int64)
    ix = (c >> np.int64(RES_BITS)) & np.int64(_IXY_MASK)
    iy = c & np.int64(_IXY_MASK)
    return res, ix, iy


def cell_of(x, y, res: int):
    """Cell id containing point(s) (x, y) at resolution ``res``."""
    s = cell_size(res)
    ix = np.floor(np.asarray(x, dtype=np.float64) / s).astype(np.int64)
    iy = np.floor(np.asarray(y, dtype=np.float64) / s).astype(np.int64)
    n = (1 << res) - 1
    ix = np.clip(ix, 0, n)
    iy = np.clip(iy, 0, n)
    return pack(res, ix, iy)


def parent(cell):
    res, ix, iy = unpack(cell)
    return pack(res - 1, ix >> 1, iy >> 1)


def children(cell):
    res, ix, iy = unpack(np.asarray(cell).reshape(-1))
    r = res + 1
    bx, by = ix << 1, iy << 1
    out = np.empty((len(bx), 4), dtype=np.int64)
    out[:, 0] = pack(r, bx, by)
    out[:, 1] = pack(r, bx + 1, by)
    out[:, 2] = pack(r, bx, by + 1)
    out[:, 3] = pack(r, bx + 1, by + 1)
    return out


def ancestors(cell, down_to: int = 0):
    """All strict ancestors of ``cell`` down to resolution ``down_to``."""
    res, ix, iy = unpack(cell)
    out = []
    r, jx, jy = int(res), int(ix), int(iy)
    while r > down_to:
        r -= 1
        jx >>= 1
        jy >>= 1
        out.append(int(pack(r, jx, jy)))
    return out


def cell_bounds(cell):
    """(x0, y0, x1, y1) of cell(s)."""
    res, ix, iy = unpack(cell)
    s = WORLD / np.power(2.0, res)
    x0 = ix * s
    y0 = iy * s
    return x0, y0, x0 + s, y0 + s


def rect_cover(x0: float, y0: float, x1: float, y1: float, res: int):
    """All cells at ``res`` whose square intersects the half-open rect
    [x0, x1) x [y0, y1)."""
    s = cell_size(res)
    n = (1 << res) - 1
    ix0 = max(0, int(np.floor(x0 / s)))
    iy0 = max(0, int(np.floor(y0 / s)))
    ix1 = min(n, int(np.floor(np.nextafter(x1, -np.inf) / s)))
    iy1 = min(n, int(np.floor(np.nextafter(y1, -np.inf) / s)))
    if ix1 < ix0 or iy1 < iy0:
        return np.empty(0, dtype=np.int64)
    gx, gy = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return pack(res, gx.ravel(), gy.ravel())


def polygon_cover(rings, base_res: int, coarsest_res: int = 4,
                  max_cells: int = 4096):
    """Compact adaptive cell cover of a polygon.

    Quadtree descent from ``coarsest_res`` to ``base_res``; cells fully
    interior to the polygon are emitted coarse (``full=True``, no refinement
    needed downstream), boundary cells are refined to ``base_res``
    (``full=False``).  The union of returned cells is a superset of the
    polygon, so the downstream cell equi-join never misses a
    tile-overlaps-polygon pair; exact PIP refinement removes false
    positives.  This is the engine's equivalent of H3 ``polyfill`` +
    ``compact``.

    Returns ``(cells int64[], full bool[])``.
    """
    prep = geom.prepare(rings)
    bx0, by0, bx1, by1 = prep.bbox
    # Start at the coarsest res where the bbox spans only a few cells.
    r0 = coarsest_res
    while r0 < base_res and (bx1 - bx0) < cell_size(r0 + 1) * 2 and (
            by1 - by0) < cell_size(r0 + 1) * 2:
        r0 += 1
    frontier = rect_cover(bx0, by0, bx1, by1, r0)
    out_cells: list[int] = []
    out_full: list[bool] = []
    for r in range(r0, base_res + 1):
        if len(frontier) == 0:
            break
        x0, y0, x1, y1 = cell_bounds(frontier)
        cls = geom.classify_rects(prep, x0, y0, x1, y1)  # 0 out, 1 partial, 2 full
        full = frontier[cls == 2]
        out_cells.extend(int(c) for c in full)
        out_full.extend([True] * len(full))
        part = frontier[cls == 1]
        if r == base_res:
            out_cells.extend(int(c) for c in part)
            out_full.extend([False] * len(part))
            frontier = np.empty(0, dtype=np.int64)
        else:
            frontier = children(part).ravel()
            if len(out_cells) + len(frontier) > max_cells:
                # Cover too large for the requested res: stop refining and
                # emit the remaining frontier as partial (over-coverage is
                # safe; it only adds candidate pairs).
                out_cells.extend(int(c) for c in frontier)
                out_full.extend([False] * len(frontier))
                frontier = np.empty(0, dtype=np.int64)
    return np.asarray(out_cells, dtype=np.int64), np.asarray(out_full, dtype=bool)


def morton_key(xcol, ycol, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer Columns —
    the storage-clustering key for spatially co-locating rows in a
    parquet/Iceberg layout (Delta/Iceberg ``ZORDER BY`` semantics).

    The join index above deliberately packs (res, ix, iy) WITHOUT
    interleaving (equality joins don't care — see module docstring);
    Morton order matters at the WRITE path: sorting a 100 TB table by
    ``morton_key(ix, iy)`` before writing makes every file a compact
    spatial blob, so a query's spatial predicate prunes to
    O(query-area) files instead of O(table).

    Built as ``bits`` pairs of shift/mask/or terms over the JVM columns
    — one codegen expression, no UDF, no shuffle.  ``x`` occupies even
    bit positions, ``y`` odd.  Inputs must already be < 2**bits (callers
    quantise floats to grid indices first).
    """
    from functools import reduce

    from pyspark.sql import functions as F

    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(
            F.shiftright(xcol, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(
            F.shiftright(ycol, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def morton_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical interleave as an ANSI-SQL expression string (for
    oracles and for engines that take SQL strings)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def cluster_by_zorder(df, xcol: str, ycol: str, bits: int = 16,
                      n_files: int | None = None):
    """Return ``df`` range-partitioned and sorted by the Morton key of
    (``xcol``, ``ycol``) — the shuffle a clustered table write performs.

    ``repartitionByRange`` samples the key distribution, so skewed
    spatial data (cities, coastlines) still yields balanced files;
    within each partition rows are sorted so parquet min/max stats on
    the key (and on x/y, which are locally coherent under Z-order) are
    tight.  Write the result with ``.write.parquet`` / your Iceberg
    sink to get the pruning layout."""
    from pyspark.sql import functions as F

    key = morton_key(F.col(xcol), F.col(ycol), bits).alias("__zkey")
    out = df.withColumn("__zkey", key)
    n = n_files or out.sparkSession.sparkContext.defaultParallelism
    return (out.repartitionByRange(n, F.col("__zkey"))
            .sortWithinPartitions("__zkey"))
