"""The flagship drill: wet/dry/invalid pixel fractions per waterbody.

Semantics match reference examples/waterbodies_c3.conflux.py:14-37 exactly:

* ``wofl = water & 0b11110011`` (disable sea / terrain-low-solar flags)
* wet iff wofl == 128; ok iff wet or wofl == 0; masked_wet = wet where ok
* per polygon: ``pc_missing = mean(isnull(masked_wet))``; when
  ``pc_missing <= 0.1``: ``px_wet = nansum``, ``pc_wet = px_wet / size``;
  otherwise both are NaN (DB column "allows nan", reference db.py:74).
"""

from __future__ import annotations

import numpy as np

from . import base
from .base import DrillSpec

class WaterbodiesC3(DrillSpec):
    name = "waterbodies_c3"
    version = "0.0.1"

    partial_fields = [("n_px", "long"), ("n_missing", "long"), ("n_wet", "long")]
    output_fields = [("px_wet", "double"), ("pc_wet", "double"),
                     ("pc_missing", "double")]

    def transform(self, raw: np.ndarray) -> dict:
        wofl = raw & 0b11110011
        is_wet = wofl == 128
        is_ok = is_wet | (wofl == 0)
        # float32 halves memory traffic; the summary values are integer
        # counts so precision is unaffected
        water = np.where(is_ok, is_wet.astype(np.float32), np.float32(np.nan))
        return {"water": water}

    def partials(self, bands: dict, mask: np.ndarray) -> tuple:
        v = bands["water"][mask]
        n_px = v.size
        n_missing = int(np.isnan(v).sum())
        n_wet = int(np.nansum(v))
        return (n_px, n_missing, n_wet)

    def stack_nbytes(self, fmt, h, w):
        return h * w if fmt == "raw" else None

    def partials_grouped_raw_batch(self, raws2d, owner, scratch=None):
        # one gather through the owner segments, two SIMD boolean passes
        # over the uint8 bitfield and one count per field over ALL T
        # tiles of the footprint.  water is NaN iff ~is_ok and ==1.0 iff
        # is_wet (wet implies ok), so every field is a boolean count:
        # bit-identical to transform() + partials_grouped() per row.
        segs = base.owner_segments(owner, scratch)
        if not segs:
            return ([],)
        gix, starts, lens, ords_out, full = segs
        sub = raws2d if full else np.take(raws2d, gix, axis=1)
        wofl = sub & 0b11110011
        wet = wofl == 128
        ok = wet | (wofl == 0)
        n_px = np.broadcast_to(lens, (raws2d.shape[0], len(lens)))
        return (ords_out, n_px, lens - base.count_segments(ok, starts, full),
                base.count_segments(wet, starts, full))

    def final_aggs(self):
        from pyspark.sql import functions as F

        n_px = F.sum("n_px")
        pc_missing = F.sum("n_missing") / n_px
        px_wet = F.when(pc_missing <= 0.1,
                        F.sum("n_wet").cast("double")).otherwise(
                            F.lit(float("nan")))
        pc_wet = F.when(pc_missing <= 0.1,
                        F.sum("n_wet") / n_px).otherwise(F.lit(float("nan")))
        return [px_wet.alias("px_wet"), pc_wet.alias("pc_wet"),
                pc_missing.cast("double").alias("pc_missing")]

    def summarise_numpy(self, bands_flat: dict) -> dict:
        v = bands_flat["water"]
        pc_missing = float(np.isnan(v).mean())
        px_wet = pc_wet = float("nan")
        if pc_missing <= 0.1:
            px_wet = float(np.nansum(v))
            pc_wet = px_wet / v.size
        return {"px_wet": px_wet, "pc_wet": pc_wet, "pc_missing": pc_missing}
