"""Drill-spec (plugin) registry.

The reference's entire user-function surface is the ``*.conflux.py`` plugin
module (reference __main__.py:198-235): ``transform(xr.Dataset)`` runs
per-pixel over a whole scene and ``summarise(xr.Dataset)`` reduces one
polygon's pixel bag to scalars.  Here a plugin is a :class:`DrillSpec`:

* ``partials_grouped_raw_batch`` — the one kernel: per-(polygon, tile)
  partial aggregates for a (T, payload) stack of one footprint's tiles,
  run inside the Arrow-batched ``mapInArrow`` drill UDF (Spark's
  map-side combine, SURVEY.md §2.D1); ``stack_nbytes`` declares the
  stored payloads it takes, and any other row is decoded and drilled as
  a stack of one;
* ``final_aggs`` — native Spark aggregate expressions that combine partials
  into the plugin's published metrics (whole-stage-codegen'd).

``transform`` + ``partials`` (per tile) and ``summarise_numpy`` (per
polygon) keep the reference's per-pixel formulation; the numpy oracle
and the tests hold the kernel to it.  This decomposition replaces the
reference's per-polygon Python summarise loop (reference
drill.py:675-686) with Spark's partial/final agg contract.
"""

from __future__ import annotations

from .waterbodies import WaterbodiesC3
from .sum_wet import SumWet
from .wit import WitLs9
from .wo_flags import WoFlags
from .variants import (WaterbodiesC2, WitLs5, WitLs7, WitLs8,
                       WofsAlbersFlags)

REGISTRY = {
    "waterbodies_c3": WaterbodiesC3(),
    "waterbodies": WaterbodiesC2(),
    "sum_wet": SumWet(),
    "ga_ls_wo_3_flags": WoFlags(),
    "wofs_albers_flags": WofsAlbersFlags(),
    "wit_ls9": WitLs9(),
    "wit_ls8": WitLs8(),
    "wit_ls7": WitLs7(),
    "wit_ls5": WitLs5(),
}


def get_plugin(name: str):
    return REGISTRY[name]
