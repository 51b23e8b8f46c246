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

    def partials_grouped(self, bands: dict, owner: np.ndarray,
                         ordinals: list, scratch: dict | None = None) -> dict:
        # single gather + two band-dependent bincounts over the assigned
        # pixels — O(pixels), independent of candidate count; the
        # owner-derived index (+ n_px) comes from the per-slot memo
        oi = base.owner_index(owner, scratch)
        if not oi:
            return {}
        sel, idx, lo, nb, n_px, nz = oi
        v = bands["water"].ravel()[sel]
        n_missing = np.bincount(idx[np.isnan(v)], minlength=nb)
        n_wet = np.bincount(idx[v == 1.0], minlength=nb)
        return {o + lo: (int(n_px[o]), int(n_missing[o]), int(n_wet[o]))
                for o in nz}

    def partials_grouped_raw(self, raw, owner: np.ndarray,
                             ordinals: list,
                             scratch: dict | None = None) -> dict:
        # bit-identical to transform()+partials_grouped() without the
        # float32 NaN band: gather the assigned pixels in owner-sorted
        # order (one fancy gather through the per-slot segment memo),
        # classify with two SIMD boolean passes over the uint8 bitfield,
        # and count each polygon's wet/missing pixels with slice-local
        # ``count_nonzero`` — no per-element bincount/LUT kernels
        # (~3 ns/element) anywhere in the per-tile path.  water is NaN
        # iff ~is_ok and ==1.0 iff is_wet (wet implies ok), so the
        # counts are pure boolean counts over the gathered bytes.
        oi = base.owner_index(owner, scratch)
        if not oi:
            return {}
        lo = oi[2]
        gix, segs = base.owner_segments(oi, scratch)
        cnz = np.count_nonzero
        full = base.full_tile_segment(owner.size, segs)
        if full is not None:
            o, n = full
            wofl = raw.ravel() & 0b11110011
            wet = wofl == 128
            ok = wet | (wofl == 0)
            return {o + lo: (n, n - int(cnz(ok)), int(cnz(wet)))}
        vv = raw.ravel()[gix]
        wofl = vv & 0b11110011
        wet = wofl == 128
        ok = wet | (wofl == 0)
        return {o + lo: (b - a, (b - a) - int(cnz(ok[a:b])),
                         int(cnz(wet[a:b])))
                for o, a, b in segs}

    def stack_nbytes(self, fmt, h, w):
        return h * w if fmt == "raw" else None

    def partials_grouped_raw_batch(self, raws2d, owner, scratch=None):
        # time-stack variant of partials_grouped_raw: one classify pass
        # + one reduceat per count over ALL T tiles of the slot.  Same
        # booleans, same integer counts — bit-identical per row.
        oi = base.owner_index(owner, scratch)
        if not oi:
            return ([],)
        lo = oi[2]
        gix, segs = base.owner_segments(oi, scratch)
        T = raws2d.shape[0]
        full = base.full_tile_segment(owner.size, segs)
        if full is not None:
            o, n = full
            wofl = raws2d & 0b11110011
            wet = wofl == 128
            ok = wet | (wofl == 0)
            n_ok = np.count_nonzero(ok, axis=1)
            n_wet = np.count_nonzero(wet, axis=1)
            n_px = np.full((T, 1), n, dtype=np.int64)
            return ([o + lo], n_px, (n - n_ok)[:, None].astype(np.int64),
                    n_wet[:, None].astype(np.int64))
        starts, lens, ords_out = base.segment_arrays(lo, segs, scratch)
        sub = raws2d[:, gix]
        wofl = sub & 0b11110011
        wet = wofl == 128
        ok = wet | (wofl == 0)
        n_ok = np.add.reduceat(ok, starts, axis=1, dtype=np.int64)
        n_wet = np.add.reduceat(wet, starts, axis=1, dtype=np.int64)
        n_px = np.broadcast_to(lens[None, :], (T, len(lens)))
        return (ords_out, n_px, lens[None, :] - n_ok, n_wet)

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
