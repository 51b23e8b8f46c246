"""DrillSpec base contract (see package docstring)."""

from __future__ import annotations

import numpy as np


def owner_segments(owner: np.ndarray, scratch: dict | None = None):
    """``(gix, starts, lens, ords_out, full)``: an owner raster as the
    batch kernels read it, or ``()`` when it assigns no pixel.

    * ``gix`` — flat indices of the assigned pixels, reordered so each
      owner's pixels are contiguous (ascending owner value);
    * ``starts``/``lens`` — int64 start and length of each owner's slice
      of ``gix``, as ``np.add.reduceat`` wants them (every slice is
      non-empty, so ``reduceat`` never meets the repeated-index case);
    * ``ords_out`` — the owner value of each slice;
    * ``full`` — one owner covers the whole tile (a huge polygon's
      interior): the gather would be a pure copy, so kernels reduce the
      payload rows full-width instead.

    A kernel gathers a stack once through ``gix`` and counts per
    contiguous slice: no per-element scatter (``bincount``, LUT ``take``:
    ~3 ns/element), only SIMD passes (~0.2 ns/element).  Everything here
    depends only on ``owner``, so the drill's per-footprint ``scratch``
    memoizes it for every timestep of the footprint."""
    if scratch is not None and "segs" in scratch:
        return scratch["segs"]
    flat = owner.ravel()
    gix = np.flatnonzero(flat >= 0)
    segs = ()
    if gix.size:
        vals = flat[gix]
        order = np.argsort(vals, kind="stable")
        gix, vals = gix[order], vals[order]
        starts = np.flatnonzero(np.r_[True, vals[1:] != vals[:-1]])
        lens = np.diff(np.r_[starts, vals.size])
        segs = (gix, starts, lens, vals[starts].tolist(),
                gix.size == flat.size and starts.size == 1)
    if scratch is not None:
        scratch["segs"] = segs
    return segs


def count_segments(mask: np.ndarray, starts: np.ndarray,
                   full: bool) -> np.ndarray:
    """int64 (T, len(starts)) True counts per :func:`owner_segments`
    slice of a (T, m) bool array.  A full tile's one slice is counted row
    by row with ``count_nonzero``, whose whole-array fast path is about
    7x faster on 128x128 tiles than ``reduceat`` or an ``axis=`` count."""
    if full:
        return np.fromiter(map(np.count_nonzero, mask), np.int64,
                           len(mask))[:, None]
    return np.add.reduceat(mask, starts, axis=1, dtype=np.int64)


class DrillSpec:
    """A drill plugin.

    The drill runs ONE kernel per plugin,
    :meth:`partials_grouped_raw_batch`, over a (T, n) stack of one
    footprint's payloads; a tile it cannot stack as stored is decoded
    (:meth:`decode`, which raises on a malformed payload) and drilled as
    a T=1 stack.  Subclasses define:

    * ``name``/``version`` — identity (written to lineage).
    * ``partial_fields`` — list of (name, spark_type) for per-(poly, tile)
      partial aggregate columns.
    * ``stack_nbytes(fmt, h, w)`` — the stored payloads the kernel takes.
    * ``partials_grouped_raw_batch(raws2d, owner, scratch)`` — the kernel.
    * ``final_aggs()`` — list of Spark Columns over the partial columns,
      aliased to the plugin's published metric names.

    and the reference-faithful formulation that the kernel must match
    (the numpy oracle and the tests use it; the drill does not):

    * ``transform(raw)`` — decoded payload -> dict of float64 band arrays
      (NaN = masked/invalid, matching the reference's ``.where``
      semantics).
    * ``partials(bands, mask)`` — tuple of partial values for the pixels
      of one polygon within one tile (``mask`` bool (h, w));
      ``partials_grouped`` applies it to every polygon of a tile.
    * ``summarise_numpy(bands_flat)`` — single-process summarise over one
      polygon's full pixel bag (mirrors the reference plugin's
      ``summarise``).
    """

    name = "base"
    version = "0.0.1"

    def decode(self, data: bytes, h: int, w: int, fmt: str):
        """bytes -> band payload (single array, or dict of planes for
        multiband plugins).  Default: the engine codec's single band."""
        from ..core import codec

        return codec.decode(data, h, w, fmt)

    def transform(self, raw) -> dict:
        raise NotImplementedError

    partial_fields: list = []

    @property
    def partial_schema(self) -> str:
        base = "poly_id string, image_id string, ts timestamp"
        extra = ", ".join(f"{n} {t}" for n, t in self.partial_fields)
        return f"{base}, {extra}"

    def partials(self, bands: dict, mask: np.ndarray) -> tuple:
        raise NotImplementedError

    def partials_grouped(self, bands: dict, owner: np.ndarray,
                         ordinals: list, scratch: dict | None = None) -> dict:
        """Reference partials for EVERY polygon of one tile: ``owner`` is
        the (h, w) int32 pixel->ordinal assignment (-1 = unassigned);
        returns {ordinal: ``partials`` tuple} for the ordinals with at
        least one pixel, one boolean mask per ordinal.  ``scratch`` is
        unused (kept for callers that pass the drill's)."""
        out = {}
        for o in ordinals:
            mask = owner == o
            if mask.any():
                out[o] = self.partials(bands, mask)
        return out

    def stack_nbytes(self, fmt: str, h: int, w: int) -> int | None:
        """The stored payloads :meth:`partials_grouped_raw_batch` takes:
        the byte length of one (h, w) tile of format ``fmt`` the drill
        may stack as stored, or ``None`` for a format it must decode
        first (the default).  Every row of another format or length is
        decoded and drilled alone, so its decode raises on a malformed
        payload."""
        return None

    def partials_grouped_raw_batch(self, raws2d: np.ndarray,
                                   owner: np.ndarray,
                                   scratch: dict | None = None):
        """THE drill kernel: grouped partials for every tile of one
        footprint at once.  ``raws2d`` is a (T, n) uint8 stack of T
        same-footprint payloads: stored payloads of the
        ``n = stack_nbytes(fmt, h, w)`` bytes the plugin declares, or one
        decoded payload (T=1) with its planes' bytes concatenated in band
        order.  The owner raster — and therefore the per-ordinal segment
        layout (:func:`owner_segments`, memoized in the per-footprint
        ``scratch``) — is shared by all T rows, so each per-segment
        reduction runs as ONE numpy call over the whole stack.

        Returns ``(ordinals_out, field_arrays...)`` with one (T, n_ords)
        array per ``partial_fields`` entry — row t = tile t of the
        stack, column k = ``ordinals_out[k]`` — or ``([],)`` when no pixel
        is assigned.  Every field MUST be bit-identical to ``transform()``
        + ``partials_grouped()`` applied per row (the drill's golden
        tests hold it to the same oracle), with one documented exception:
        a float sum of per-pixel ``x / 100`` values may come back as the
        exact integer sum divided by 100 (within ~1e-15 relative of the
        per-pixel float sum; the WIT ``sum_pv``/``sum_npv``/``sum_bs``)."""
        raise NotImplementedError

    def final_aggs(self):
        raise NotImplementedError

    @property
    def output_metrics(self) -> list:
        return [c for c, _ in self.output_fields]

    output_fields: list = []

    def summarise_numpy(self, bands_flat: dict) -> dict:
        raise NotImplementedError
