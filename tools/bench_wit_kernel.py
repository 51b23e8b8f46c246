"""Spark-free timing of the WIT drill UDF body: the time-stack kernel
against the per-tile path, on drill_wit-shaped input.

Each footprint's tiles (``--steps`` stored timesteps, each repeated
``--rep`` times, adjacent, as the replicated benchmark input stores them)
go through ``_drill_rows_arrow`` as one Arrow batch, with owners already
built (a warm owner cache).  The per-tile run uses the same plugin with
its stack declaration switched off, which is the path every WIT row took
before the plugin had a batch kernel.  Both runs must give the same
partial rows: counts exactly, float sums within rtol 1e-12.

    python tools/bench_wit_kernel.py [--G 8] [--w 64] [--steps 2]
        [--rep 32] [--seed 1] [--min-s 1.0] [--repeat 3]

Prints µs per tile for both paths (best of ``--repeat`` timed runs of at
least ``--min-s`` seconds each), their ratio and the largest relative
difference of the float sums.
"""

import argparse
import os
import sys
import time

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from dea_conflux_spark import datagen  # noqa: E402
from dea_conflux_spark.operators import drill as drill_op  # noqa: E402
from dea_conflux_spark.plugins.wit import WitLs9  # noqa: E402


class PerTile(WitLs9):
    """wit_ls9 with no stack declaration: every row takes drill_one."""

    def stack_nbytes(self, fmt, h, w):
        return None


def batches(grid, polys, rep):
    """One Arrow batch per footprint, in the drill UDF's input shape,
    holding every stored timestep ``rep`` times."""
    preps = datagen.prepare_polys(polys)
    ids = [p["poly_id"] for p in polys]
    out = []
    for gx in range(grid.G):
        for gy in range(grid.G):
            rows = [datagen.wit_tile_row(grid, t, gx, gy, preps)
                    for t in range(grid.T)]
            rows = [r for r in rows for _ in range(rep)]
            n = len(rows)
            out.append(pa.RecordBatch.from_arrays(
                [pa.array([r["image_id"] for r in rows], pa.string()),
                 pa.array([r["bytes"] for r in rows], pa.binary()),
                 pa.array([grid.w] * n, pa.int32()),
                 pa.array([grid.h] * n, pa.int32()),
                 pa.array(["multiraw"] * n, pa.string()),
                 pa.array([gx] * n, pa.int32()),
                 pa.array([gy] * n, pa.int32()),
                 pa.array([ids] * n, pa.list_(pa.string()))],
                ["image_id", "bytes", "w", "h", "fmt", "gx", "gy",
                 "cand_polys"]))
    return out


def run(plugin, driller, rbs, min_s):
    """(seconds per pass, partial rows of the last pass)"""
    n, t0 = 0, time.perf_counter()
    while True:
        out = drill_op._empty_out(plugin)
        for rb in rbs:
            drill_op._drill_rows_arrow(plugin, rb, driller, out)
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            rows = (drill_op._flush_arrow(plugin, out).to_pandas()
                    .sort_values(["image_id", "poly_id"], kind="stable")
                    .reset_index(drop=True))
            return dt / n, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--G", type=int, default=8)
    ap.add_argument("--w", type=int, default=64)
    ap.add_argument("--steps", type=int, default=2)
    ap.add_argument("--rep", type=int, default=32)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--min-s", type=float, default=1.0)
    ap.add_argument("--repeat", type=int, default=3)
    a = ap.parse_args()

    grid = datagen.GridSpec(G=a.G, T=a.steps, w=a.w, h=a.w, seed=a.seed)
    polys = datagen.make_polygons(grid, n_small=300, n_medium=3, n_huge=2)
    rmap = {p["poly_id"]: (p["ordinal"], p["rings"]) for p in polys}
    rbs = batches(grid, polys, a.rep)
    n_tiles = sum(rb.num_rows for rb in rbs)

    res = {}
    for name, plugin in (("pertile", PerTile()), ("stacked", WitLs9())):
        driller = drill_op._Driller(plugin, grid, rmap, 1 << 40)
        run(plugin, driller, rbs, 0.0)  # build every owner
        res[name] = min((run(plugin, driller, rbs, a.min_s)
                         for _ in range(a.repeat)), key=lambda r: r[0])

    (t_old, old), (t_new, new) = res["pertile"], res["stacked"]
    assert list(old.columns) == list(new.columns)
    assert old[["poly_id", "image_id", "ts"]].equals(
        new[["poly_id", "image_id", "ts"]])
    rel = 0.0
    for name, typ in WitLs9.partial_fields:
        if typ == "long":
            assert (old[name] == new[name]).all(), name
        else:
            x, y = old[name].to_numpy(), new[name].to_numpy()
            np.testing.assert_allclose(y, x, rtol=1e-12, err_msg=name)
            d = np.abs(y - x) / np.maximum(np.abs(x), 1e-300)
            rel = max(rel, float(d[x != 0].max(initial=0.0)))
    print(f"tiles {n_tiles} ({a.G}x{a.G} footprints, T={a.steps * a.rep}, "
          f"{a.w}x{a.w} px), partial rows {len(new)}")
    print(f"per-tile path  {t_old / n_tiles * 1e6:8.1f} us/tile")
    print(f"stack kernel   {t_new / n_tiles * 1e6:8.1f} us/tile")
    print(f"speed-up       {t_old / t_new:8.2f}x")
    print(f"max rel diff of float sums {rel:.2e}")


if __name__ == "__main__":
    main()
