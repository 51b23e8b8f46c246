"""DrillSpec base contract (see package docstring)."""

from __future__ import annotations

import numpy as np


def owner_index(owner: np.ndarray, scratch: dict | None = None):
    """Flattened index structure of a pixel->ordinal assignment:
    ``(sel, idx, lo, nb, n_px, nz)`` where ``sel`` selects assigned pixels,
    ``idx`` is their ordinal rebased by ``lo``, ``n_px`` the per-ordinal
    pixel counts and ``nz`` the ordinals present.  Returns () for a tile
    with no assigned pixels.

    Everything here depends only on ``owner`` — never on the band values —
    so when the drill supplies a per-grid-slot ``scratch`` dict (the owner
    raster is timestep-invariant) the structure is computed once per slot
    and reused by every timestep's partials, halving the per-tile numpy
    work."""
    if scratch is not None and "oi" in scratch:
        return scratch["oi"]
    flat = owner.ravel()
    sel = flat >= 0
    if not sel.any():
        oi = ()
    else:
        idx = flat[sel]
        lo = int(idx.min())
        idx = idx - lo
        nb = int(idx.max()) + 1
        n_px = np.bincount(idx, minlength=nb)
        oi = (sel, idx, lo, nb, n_px, np.nonzero(n_px)[0])
    if scratch is not None:
        scratch["oi"] = oi
    return oi


def owner_segments(oi, scratch: dict | None = None):
    """(gix, segs): assigned-pixel flat indices REORDERED so each owner's
    pixels are contiguous, plus ``segs`` = [(owner_value_rebased, start,
    end)] slice bounds into that order.

    Like :func:`owner_index` this depends only on the owner raster, so
    the drill's per-grid-slot ``scratch`` computes it once per slot.  It
    exists because per-element kernels (``bincount``, LUT ``take``) cost
    ~3 ns/element while SIMD passes (``&``, ``==``, ``count_nonzero``)
    cost ~0.2 ns/element: a plugin that gathers through ``gix`` once and
    then counts per contiguous slice replaces every per-element scatter
    with slice-local SIMD counts — the drill UDF's hot path."""
    if scratch is not None and "segs" in scratch:
        return scratch["segs"]
    sel, idx, lo, nb, n_px, nz = oi
    order = np.argsort(idx, kind="stable")
    gix = np.flatnonzero(sel)[order]
    sidx = idx[order]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(sidx)) + 1))
    ends = np.concatenate((starts[1:], [sidx.size]))
    segs = (gix, [(int(sidx[a]), int(a), int(b))
                  for a, b in zip(starts, ends)])
    if scratch is not None:
        scratch["segs"] = segs
    return segs


def full_tile_segment(size: int, seg_list: list):
    """``(owner_value_rebased, n)`` when ONE owner covers the WHOLE tile
    (the huge-polygon interior fast path): the owner-sorted gather would
    be a pure copy, so bitfield plugins run their boolean passes
    full-width over the raw bytes instead (~0.2 ns/elem SIMD vs
    ~1 ns/elem gather).  ``None`` otherwise — sparse single-owner tiles
    stay on the gather path, where a small gather beats full-width
    passes."""
    if len(seg_list) == 1 and seg_list[0][2] - seg_list[0][1] == size:
        return seg_list[0][0], size
    return None


def segment_arrays(lo: int, seg_list: list, scratch: dict | None = None):
    """``(starts, lens, ords_out)``: the :func:`owner_segments` slices as
    ``np.add.reduceat`` wants them — segment start and length arrays and
    the segments' owner values (``lo`` added back).  Every segment is
    non-empty, so ``reduceat`` never meets the repeated-index case.
    Memoized in the per-slot ``scratch`` like the segments themselves."""
    sa = scratch.get("segarrs") if scratch is not None else None
    if sa is None:
        n = len(seg_list)
        sa = (np.fromiter((a for _, a, _ in seg_list), np.int64, n),
              np.fromiter((b - a for _, a, b in seg_list), np.int64, n),
              [o + lo for o, _, _ in seg_list])
        if scratch is not None:
            scratch["segarrs"] = sa
    return sa


class DrillSpec:
    """A drill plugin.

    Subclasses define:

    * ``name``/``version`` — identity (written to lineage).
    * ``transform(raw)`` — uint8 tile array -> dict of float64 band arrays
      (NaN = masked/invalid, matching the reference's ``.where`` semantics).
    * ``partial_fields`` — list of (name, spark_type) for per-(poly, tile)
      partial aggregate columns.
    * ``partials(bands, mask)`` — tuple of partial values for the pixels of
      one polygon within one tile (``mask`` bool (h, w)).
    * ``final_aggs()`` — list of Spark Columns over the partial columns,
      aliased to the plugin's published metric names.
    * ``summarise_numpy(bands_flat)`` — reference-faithful single-process
      summarise over one polygon's full pixel bag (used by the oracle only;
      mirrors the reference plugin's ``summarise``).
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
        """Partials for EVERY polygon of one tile in one pass.

        ``owner`` is the (h, w) int32 pixel->ordinal assignment (-1 =
        unassigned); returns {ordinal: partial tuple} for ordinals with at
        least one pixel.  ``scratch`` (optional) is a dict with the same
        lifetime as ``owner`` — the drill passes one per grid slot so
        owner-derived structures (``owner_index``) are computed once per
        slot, not once per timestep.  Default implementation loops with
        boolean masks (O(cands x pixels)); count-style plugins override
        with a single bincount pass (O(pixels)) — the per-tile hot path at
        scale."""
        out = {}
        for o in ordinals:
            mask = owner == o
            if mask.any():
                out[o] = self.partials(bands, mask)
        return out

    def partials_grouped_raw(self, raw, owner: np.ndarray,
                             ordinals: list,
                             scratch: dict | None = None):
        """Optional hot-path override: compute the grouped partials
        directly from the DECODED payload, skipping ``transform``'s
        float/NaN band materialisation (4 bytes/px of write+read traffic a
        bitfield plugin never needs — the drill worker is memory-bandwidth
        bound at high core counts).  MUST be bit-identical to
        ``transform()`` + ``partials_grouped()``; return ``None`` to use
        the generic path (default)."""
        return None

    def stack_nbytes(self, fmt: str, h: int, w: int) -> int | None:
        """The payloads :meth:`partials_grouped_raw_batch` accepts: the
        byte length of one (h, w) tile of format ``fmt`` it can take in a
        stack, or ``None`` when it takes no stack of that format (the
        default).  The drill stacks only rows of exactly this length;
        every other row takes the per-tile path, whose decode raises on
        a malformed payload."""
        return None

    def partials_grouped_raw_batch(self, raws2d: np.ndarray,
                                   owner: np.ndarray,
                                   scratch: dict | None = None):
        """Optional TIME-STACK hot path: grouped partials for EVERY tile
        of one grid slot at once.  ``raws2d`` is the (T, n) uint8 stack
        of T same-footprint payloads, each of the format and the
        ``n = stack_nbytes(fmt, h, w)`` bytes the plugin declares; the
        owner raster — and therefore the per-ordinal segment layout — is
        shared by all T rows, so each per-segment reduction runs as ONE
        numpy call over the whole stack instead of T separate calls (the
        per-tile path pays ~1-3 us of python/numpy dispatch per segment
        per tile, which dominates the drill UDF once the owner cache is
        hot).

        Returns ``(ordinals_out, field_arrays...)`` with one (T, n_ords)
        array per ``partial_fields`` entry — row t = tile t of the
        stack, column k = ``ordinals_out[k]`` — or ``None`` to use the
        per-tile path.  Every field MUST be bit-identical to
        ``transform()`` + ``partials_grouped()`` applied per row (the
        drill's golden tests hold both paths to the same oracle), with
        one documented exception: a float sum of per-pixel ``x / 100``
        values may come back as the exact integer sum divided by 100
        (within ~1e-15 relative of the per-pixel float sum; the WIT
        ``sum_pv``/``sum_npv``/``sum_bs``)."""
        return None

    def final_aggs(self):
        raise NotImplementedError

    @property
    def output_metrics(self) -> list:
        return [c for c, _ in self.output_fields]

    output_fields: list = []

    def summarise_numpy(self, bands_flat: dict) -> dict:
        raise NotImplementedError
