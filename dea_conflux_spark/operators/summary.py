"""Per-pixel temporal compositing: the WOfS-summary-style raster product.

dea-conflux drills per-polygon time series out of per-scene water
observation (wofl) rasters; the other canonical downstream of the same
wofls is the per-PIXEL temporal summary — for every pixel position, how
many observations were wet / clear across all time, and the wet-observation
frequency wet/clear (DEA's published "WOfS summary" layer).  The bit
semantics are the reference's (plugins/waterbodies.py:30-34: wofl =
raw & 0b11110011, wet iff wofl == 128, clear-dry iff wofl == 0).

Scale design (10^12 tiles, 100 TB):

* **Two-level aggregation.**  A naive ``groupBy(position)`` over tile rows
  shuffles every tile payload and holds all T timesteps of a position in
  one task.  Instead:

  1. *Partial* (``mapInPandas``, narrow): each input partition decodes its
     tiles and accumulates per-position ``int32`` count planes (wet,
     clear).  The shuffle then carries ONE partial row — ``2*h*w*4`` bytes
     — per (position, input-partition), never raw tile payloads, and
     memory is capped by flushing the accumulator at ``flush_positions``
     distinct positions.  With a grid-partitioned (bucketed / Iceberg
     ``PARTITIONED BY (gx, gy)``) layout each position touches one input
     partition and the exchange collapses to O(positions) rows.
  2. *Final* (``groupBy(gx, gy).applyInPandas``): vector-sums the partial
     planes into the summary raster row.

* **Skew-free by construction** — keys are uniform grid positions; no
  hot-cell problem, no salting needed.
* The exploded per-pixel view (``wofs_summary_pixels``) is for
  verification and small-area export; the production product is the
  raster row (one row per position, counts encoded as int32 planes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..core import codec
from .tilecells import image_id_keys

WOFL_MASK = 0b11110011  # reference plugins/waterbodies.py wofl mask
WET = 128

_PARTIAL_SCHEMA = ("gx int, gy int, h int, w int, n_t long, "
                   "wet binary, clear binary")
RASTER_SCHEMA = _PARTIAL_SCHEMA
PIXEL_SCHEMA = "x double, y double, n_wet long, n_clear long"


def with_grid_position(tiles: DataFrame) -> DataFrame:
    """Derive (gx, gy) from the ``image_id`` key, JVM-side
    (datagen.image_id format ``t%04d_x%03d_y%03d``)."""
    return tiles.withColumns(image_id_keys("gx", "gy"))


def wofs_summary_rasters(tiles: DataFrame,
                         flush_positions: int = 256) -> DataFrame:
    """Per-position temporal summary rasters.

    Returns one row per grid position: ``(gx, gy, h, w, n_t, wet, clear)``
    where ``wet``/``clear`` are row-major little-endian int32 count planes
    (#observations with wofl==128 / wofl in {0,128} per pixel across all
    timesteps seen).
    """

    def partial(batches):
        # Arrow-native partial pass (round 6): tile payloads are sliced
        # zero-copy out of the Arrow binary buffer — no per-row bytes
        # objects, no pandas materialisation of 16 KB cells (the
        # JVM->python transfer was the dominant cost of this stage);
        # non-'raw' payloads still decode through the codec.
        import pyarrow as pa

        acc: dict = {}
        for rb in batches:
            cols = {name: rb.column(i)
                    for i, name in enumerate(rb.schema.names)}
            gxs = cols["gx"].to_numpy()
            gys = cols["gy"].to_numpy()
            hs = cols["h"].to_numpy()
            ws = cols["w"].to_numpy()
            fmts = cols["fmt"].to_pylist()
            bcol = cols["bytes"]
            bufs = bcol.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int32)[
                bcol.offset:bcol.offset + len(bcol) + 1]
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            for k in range(rb.num_rows):
                seg = data[offs[k]:offs[k + 1]]
                h, w = int(hs[k]), int(ws[k])
                if fmts[k] == "raw":
                    arr = seg.reshape(h, w)
                else:
                    arr = codec.decode(seg.tobytes(), h, w, fmts[k])
                wofl = arr & WOFL_MASK
                wet = wofl == WET
                clear = wet | (wofl == 0)
                key = (int(gxs[k]), int(gys[k]))
                ent = acc.get(key)
                if ent is None:
                    acc[key] = [wet.astype(np.int32),
                                clear.astype(np.int32), 1]
                else:
                    ent[0] += wet
                    ent[1] += clear
                    ent[2] += 1
                if len(acc) >= flush_positions:
                    yield _acc_to_rb(acc)
                    acc = {}
        if acc:
            yield _acc_to_rb(acc)

    def _acc_to_rb(acc):
        import pyarrow as pa

        keys = list(acc.keys())
        return pa.RecordBatch.from_arrays([
            pa.array([gx for gx, _ in keys], pa.int32()),
            pa.array([gy for _, gy in keys], pa.int32()),
            pa.array([acc[k][0].shape[0] for k in keys], pa.int32()),
            pa.array([acc[k][0].shape[1] for k in keys], pa.int32()),
            pa.array([acc[k][2] for k in keys], pa.int64()),
            pa.array([acc[k][0].astype("<i4").tobytes() for k in keys],
                     pa.binary()),
            pa.array([acc[k][1].astype("<i4").tobytes() for k in keys],
                     pa.binary()),
        ], ["gx", "gy", "h", "w", "n_t", "wet", "clear"])

    def final(key, pdf):
        h, w = int(pdf.h.iloc[0]), int(pdf.w.iloc[0])
        wet = np.zeros(h * w, dtype=np.int64)
        clear = np.zeros(h * w, dtype=np.int64)
        for row in pdf.itertuples():
            wet += np.frombuffer(row.wet, dtype="<i4")
            clear += np.frombuffer(row.clear, dtype="<i4")
        return pd.DataFrame([{
            "gx": key[0], "gy": key[1], "h": h, "w": w,
            "n_t": np.int64(pdf.n_t.sum()),
            "wet": wet.astype("<i4").tobytes(),
            "clear": clear.astype("<i4").tobytes(),
        }])

    partials = (with_grid_position(tiles)
                .select("gx", "gy", "bytes", "h", "w", "fmt")
                .mapInArrow(partial, schema=_PARTIAL_SCHEMA))
    return partials.groupBy("gx", "gy").applyInPandas(
        final, schema=RASTER_SCHEMA)


def wofs_summary_pixels(tiles: DataFrame, x_off: float, y_off: float,
                        span_x: float, span_y: float,
                        px_res: float) -> DataFrame:
    """Exploded per-pixel summary ``(x, y, n_wet, n_clear, wet_freq)``.

    ``wet_freq = n_wet / n_clear`` is computed JVM-side with ``F.when`` so
    a never-clear pixel yields SQL NULL (not NaN).  Pixel centres follow
    the fixture/grid convention ``origin + (i + 0.5) * px_res``.
    """

    def explode(batches):
        for pdf in batches:
            for row in pdf.itertuples():
                h, w = int(row.h), int(row.w)
                xs = x_off + row.gx * span_x + (np.arange(w) + 0.5) * px_res
                ys = y_off + row.gy * span_y + (np.arange(h) + 0.5) * px_res
                xx, yy = np.meshgrid(xs, ys)
                yield pd.DataFrame({
                    "x": xx.ravel(), "y": yy.ravel(),
                    "n_wet": np.frombuffer(row.wet,
                                           dtype="<i4").astype(np.int64),
                    "n_clear": np.frombuffer(row.clear,
                                             dtype="<i4").astype(np.int64),
                })

    rasters = wofs_summary_rasters(tiles)
    px = rasters.mapInPandas(explode, schema=PIXEL_SCHEMA)
    return px.withColumn(
        "wet_freq",
        F.when(F.col("n_clear") > 0,
               F.col("n_wet").cast("double") / F.col("n_clear")))
