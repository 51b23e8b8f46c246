"""Minimal test drill: count wet pixels per polygon.

Matches reference tests/data/sum_wet.conflux.py: transform = (water == 128),
summarise = sum -> output column ``water``.
"""

from __future__ import annotations

import numpy as np

from . import base
from .base import DrillSpec


class SumWet(DrillSpec):
    name = "sum_wet"
    version = "0.0.1"

    partial_fields = [("wet_sum", "long")]
    output_fields = [("water", "double")]

    def transform(self, raw: np.ndarray) -> dict:
        return {"water": (raw == 128).astype(np.float32)}

    def partials(self, bands: dict, mask: np.ndarray) -> tuple:
        return (int(bands["water"][mask].sum()),)

    def stack_nbytes(self, fmt, h, w):
        return h * w if fmt == "raw" else None

    def partials_grouped_raw_batch(self, raws2d, owner, scratch=None):
        # wet iff the raw byte equals 128: one gather through the owner
        # segments and one count per footprint stack, no float band
        segs = base.owner_segments(owner, scratch)
        if not segs:
            return ([],)
        gix, starts, _lens, ords_out, full = segs
        sub = raws2d if full else np.take(raws2d, gix, axis=1)
        wet = sub == 128
        return (ords_out, base.count_segments(wet, starts, full))

    def final_aggs(self):
        from pyspark.sql import functions as F

        return [F.sum("wet_sum").cast("double").alias("water")]

    def summarise_numpy(self, bands_flat: dict) -> dict:
        return {"water": float(np.nansum(bands_flat["water"]))}
