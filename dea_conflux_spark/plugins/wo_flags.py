"""Per-flag bit counts drill.

Matches reference examples/ga_ls_wo_3_flags.conflux.py: transform is the
identity; summarise counts NaN pixels plus, for each WOfS flag bit,
``((water & (1 << bit)) > 0).sum()``.
"""

from __future__ import annotations

import numpy as np

from . import base
from .base import DrillSpec

FLAGS = {
    "nodata": 0,
    "noncontiguous": 1,
    "low_solar_angle": 2,
    "terrain_shadow": 3,
    "high_slope": 4,
    "cloud_shadow": 5,
    "cloud": 6,
    "water_observed": 7,
}


class WoFlags(DrillSpec):
    name = "ga_ls_wo_3_flags"
    version = "0.0.1"
    FLAGS = FLAGS  # per-product flag-name wiring; variants override

    def __init_subclass__(cls, **kw):
        # rebuild the schema-bearing fields from the subclass's FLAGS
        super().__init_subclass__(**kw)
        cls.partial_fields = [("nan_sum", "long")] + [
            (f"{f}_sum", "long") for f in cls.FLAGS]
        cls.output_fields = [("nan", "double")] + [
            (f, "double") for f in cls.FLAGS]

    partial_fields = [("nan_sum", "long")] + [
        (f"{f}_sum", "long") for f in FLAGS
    ]
    output_fields = [("nan", "double")] + [(f, "double") for f in FLAGS]

    def transform(self, raw: np.ndarray) -> dict:
        return {"water": raw.astype(np.float64)}

    def partials(self, bands: dict, mask: np.ndarray) -> tuple:
        v = bands["water"][mask]
        nan_sum = int(np.isnan(v).sum())
        iv = v[~np.isnan(v)].astype(np.int64)
        return (nan_sum, *[int(((iv & (1 << bit)) > 0).sum())
                           for bit in self.FLAGS.values()])

    def stack_nbytes(self, fmt, h, w):
        return h * w if fmt == "raw" else None

    def partials_grouped_raw_batch(self, raws2d, owner, scratch=None):
        # the float band is the uint8 payload upcast (never NaN, so
        # nan_sum is always 0): each flag count is one boolean pass over
        # the gathered bytes and one count per footprint stack
        segs = base.owner_segments(owner, scratch)
        if not segs:
            return ([],)
        gix, starts, _lens, ords_out, full = segs
        sub = raws2d if full else np.take(raws2d, gix, axis=1)
        counts = [base.count_segments((sub & (1 << bit)) != 0, starts, full)
                  for bit in self.FLAGS.values()]
        return (ords_out, np.zeros_like(counts[0]), *counts)

    def final_aggs(self):
        from pyspark.sql import functions as F

        return [F.sum("nan_sum").cast("double").alias("nan")] + [
            F.sum(f"{f}_sum").cast("double").alias(f) for f in self.FLAGS
        ]

    def summarise_numpy(self, bands_flat: dict) -> dict:
        v = bands_flat["water"]
        out = {"nan": float(np.isnan(v).sum())}
        iv = v[~np.isnan(v)].astype(np.int64)
        for f, bit in self.FLAGS.items():
            out[f] = float(((iv & (1 << bit)) > 0).sum())
        return out
