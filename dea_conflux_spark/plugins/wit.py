"""WIT (Wetlands Insight Tool) drill over multiband tiles.

Faithful to reference examples/wit_ls9.conflux.py:

* ``tcw`` = Tasseled Cap Wetness (Crist 1985) linear combination of six
  reflectance bands (wit_ls9.conflux.py:32-42),
* ``mask = (water & 0b01100011) == 0`` (drop noncontiguous / low-solar /
  cloud / cloud-shadow), ``open_water`` = water bit 7,
* ``wet = tcw.where(mask) > -350``; fractional-cover bands are divided by
  100, zeroed where wet, and everything (incl. wet) zeroed where open
  water; all output bands NaN-masked outside ``mask``
  (wit_ls9.conflux.py:45-98),
* summarise: ``pc_missing = 1 - nansum(mask)/n_px``; water/wet/bs/pv/npv
  are NaN-means over the polygon pixel bag (wit_ls9.conflux.py:101-117).

Tiles are fmt='multiraw' stacks (codec.encode_bands) with the band spec
below; per-band resampling choices from the reference plugin are decode
parameters in this engine (nearest for categorical, bilinear for
reflectance) — synthetic tiles are generated at target resolution so no
resampling runs in tests.
"""

from __future__ import annotations

import numpy as np

from ..core import codec
from . import base
from .base import DrillSpec

WIT_BANDS = [
    ("water", "u1"),
    ("nbart_blue", "i2"), ("nbart_green", "i2"), ("nbart_red", "i2"),
    ("nbart_nir", "i2"), ("nbart_swir_1", "i2"), ("nbart_swir_2", "i2"),
    ("bs", "u1"), ("pv", "u1"), ("npv", "u1"),
]

_TCW = {"nbart_blue": 0.0315, "nbart_green": 0.2021, "nbart_red": 0.3102,
        "nbart_nir": 0.1594, "nbart_swir_1": -0.6806,
        "nbart_swir_2": -0.6109}

OUT_BANDS = ["pv", "npv", "bs", "wet", "water"]

# bytes one pixel takes in a multiraw payload (all ten planes)
_NBYTES_PER_PX = sum(np.dtype(dt).itemsize for _, dt in WIT_BANDS)
# gathered pixels the time-stack kernel classifies per step
_CHUNK_PX = 1 << 16


def _tcw(bands: dict):
    """Tasseled Cap Wetness in float64, terms in ``_TCW`` order — the
    kernel and ``transform`` share it, so their ``wet`` is bit-identical."""
    return sum(c * bands[b].astype(np.float64) for b, c in _TCW.items())


class WitLs9(DrillSpec):
    name = "wit_ls9"
    version = "0.0.1"
    # product wiring (reference wit_ls9.conflux.py:19-30); satellite
    # variants in plugins/variants.py override ard_product only
    ard_product = "ga_ls9c_ard_3"
    input_products = ("ga_ls_wo_3", "ga_ls_fc_3")
    resolution = (-30, 30)

    partial_fields = ([("n_px", "long"), ("n_mask", "long")]
                      + [(f"sum_{b}", "double") for b in OUT_BANDS])
    output_fields = [(b, "double") for b in
                     ["water", "wet", "bs", "pv", "npv", "pc_missing"]]

    def decode(self, data: bytes, h: int, w: int, fmt: str) -> dict:
        if fmt != "multiraw":
            raise ValueError(f"{self.name} expects multiraw tiles, got {fmt}")
        return codec.decode_bands(data, h, w, WIT_BANDS)

    def transform(self, raw: dict) -> dict:
        tcw = _tcw(raw)
        mask = (raw["water"] & 0b01100011) == 0
        open_water = (raw["water"] & (1 << 7)) > 0
        wet = np.where(mask, tcw, np.nan) > -350

        out = {
            "bs": raw["bs"].astype(np.float64) / 100.0,
            "pv": raw["pv"].astype(np.float64) / 100.0,
            "npv": raw["npv"].astype(np.float64) / 100.0,
            "wet": wet.astype(np.float64),
            "water": open_water.astype(np.float64),
        }
        for b in ("pv", "npv", "bs"):
            out[b][wet] = 0.0
        for b in ("pv", "npv", "bs", "wet"):
            out[b][open_water] = 0.0
        nanm = np.where(mask, 1.0, np.nan)
        for b in OUT_BANDS:
            out[b] = np.where(mask, out[b], np.nan)
        out["mask"] = nanm
        return out

    def partials(self, bands: dict, mask: np.ndarray) -> tuple:
        n_px = int(mask.sum())
        m = bands["mask"][mask]
        n_mask = int(np.nansum(m))
        sums = tuple(float(np.nansum(bands[b][mask])) for b in OUT_BANDS)
        return (n_px, n_mask, *sums)

    def stack_nbytes(self, fmt, h, w):
        return _NBYTES_PER_PX * h * w if fmt == "multiraw" else None

    def partials_grouped_raw_batch(self, raws2d, owner, scratch=None):
        # time-stack path: each band gathered once through the owner
        # segments, one classify and two reduceats per chunk of about
        # _CHUNK_PX gathered pixels (bounds the float64 temporaries and
        # keeps them cache-sized).  n_px/n_mask/sum_wet/sum_water are the
        # per-tile counts exactly; sum_pv/npv/bs are the exact integer
        # sums / 100 (``partials`` adds the x/100 values one by one).
        segs = base.owner_segments(owner, scratch)
        if not segs:
            return ([],)
        gix, starts, lens, ords_out, full = segs
        T = raws2d.shape[0]
        counts = np.empty((3, T, len(starts)), np.int64)
        fc_sums = np.empty((3, T, len(starts)), np.int64)
        step = max(1, _CHUNK_PX // gix.size)
        for t in range(0, T, step):
            planes = codec.band_planes(raws2d[t:t + step], owner.size,
                                       WIT_BANDS)
            if not full:
                planes = {b: np.take(p, gix, axis=1)
                          for b, p in planes.items()}
            water = planes["water"]
            mask = (water & 0b01100011) == 0
            open_water = (water & (1 << 7)) > 0
            wet = mask & (_tcw(planes) > -350)
            land = mask & ~open_water
            np.add.reduceat(np.stack([mask, wet & land, mask & open_water]),
                            starts, axis=2, dtype=np.int64,
                            out=counts[:, t:t + step])
            fc = np.stack([planes[b] for b in ("pv", "npv", "bs")])
            np.add.reduceat(fc * (land & ~wet), starts, axis=2,
                            dtype=np.int64, out=fc_sums[:, t:t + step])
        return (ords_out, np.broadcast_to(lens, (T, len(lens))), counts[0],
                *(fc_sums / 100.0), counts[1].astype(np.float64),
                counts[2].astype(np.float64))

    def final_aggs(self):
        from pyspark.sql import functions as F

        n_px = F.sum("n_px")
        n_mask = F.sum("n_mask")
        pc_missing = (F.lit(1.0) - n_mask / n_px).cast("double")
        cols = []
        for b in ["water", "wet", "bs", "pv", "npv"]:
            mean = F.when(n_mask > 0, F.sum(f"sum_{b}") / n_mask).otherwise(
                F.lit(float("nan")))
            cols.append(mean.cast("double").alias(b))
        cols.append(pc_missing.alias("pc_missing"))
        return cols

    def summarise_numpy(self, bands_flat: dict) -> dict:
        m = bands_flat["mask"]
        pc_missing = 1.0 - (np.nansum(m) / len(m))
        out = {}
        for b in ["water", "wet", "bs", "pv", "npv"]:
            v = bands_flat[b]
            c = int((~np.isnan(v)).sum())
            out[b] = float(np.nansum(v) / c) if c else float("nan")
        out["pc_missing"] = float(pc_missing)
        return out
