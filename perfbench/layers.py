"""The traced run: per-layer timings measured from the benchmark's own
files, around calls into each layer of the package.

* Layer prep (cover, tilecells, candidates) is timed call by call.
* The drill's own layers (scan, arrow_feed, partials, final_agg,
  edge_flags) are timed as separate actions, each a prefix of
  the drill: a layer's self time is its busy time minus the prefix it
  contains, so the self times add up to the full drill action.
* Ledger layers: whole ``run_drill_resumable`` batches and
  ``finalize_drill``, and the public steps of a batch timed one by one.
* The documents leaves are timed one query at a time.
* kernel / owner / codec are Spark-free probes of the public plugin,
  geom and codec functions on decoded input tiles.

Every Spark job started inside a span carries the span name as its job
description, which ``harness.parse_event_log`` turns into engine metrics.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import geomean
from inputs import DATA_DIR

SCAN_COLS = ("image_id", "bytes", "w", "h", "fmt")
ENGINE_LAYERS = ("cover", "candidates", "scan", "arrow_feed", "partials",
                 "final_agg", "edge_flags", "ledger", "leaf")
ENGINE_FIELDS = ("executor_cpu_s", "shuffle_bytes", "spill_bytes", "tasks",
                 "task_skew")
PY_LAYERS = ("arrow_feed", "partials")
PY_FIELDS = ("py_bytes_sent", "py_bytes_returned")
# the drill's nested prefixes, innermost first: each one's self time is
# its busy time minus that of the prefix before it
DRILL_PREFIXES = ("scan", "arrow_feed", "partials", "final_agg",
                  "edge_flags")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drain(batches):
    """mapInArrow body that consumes every batch and returns nothing: the
    JVM->Python Arrow boundary with no Python work."""
    for _ in batches:
        pass
    return
    yield  # pragma: no cover - makes this a generator


def drill_layers(ctx, tr, reps: int) -> dict:
    """Per-layer busy/self times and counts of one drill on ``ctx`` (a
    set-up ``SteadyDrill``-like object: tiles, meta, polygons, plugin,
    inp.grid, result = drill(partial=True), n_items, bytes_per_tile)."""
    from pyspark.sql import Observation, functions as F

    from dea_conflux_spark.operators import drill as drill_op
    from dea_conflux_spark.operators.cover import polygon_cover_df
    from dea_conflux_spark.operators.tilecells import (extents_by_ts,
                                                       tile_cells)

    grid, plugin = ctx.inp.grid, ctx.plugin
    m: dict = {}
    for _ in range(reps):
        with tr.span("cover"):
            m["cover.rows"] = polygon_cover_df(ctx.polygons).count()
    with tr.span("prep"):
        poly_cells = polygon_cover_df(ctx.polygons).cache()
        poly_cells.count()
        fps = (ctx.meta.select("gx", "gy", "x0", "y0", "x1", "y1").distinct()
               .withColumn("image_id", F.format_string(
                   "t0000_x%03d_y%03d", "gx", "gy")))
        m["tilecells.footprints"] = fps.count()
    for _ in range(reps):
        with tr.span("tilecells"):
            tile_cells(fps).count()
            extents_by_ts(ctx.meta).count()
    for _ in range(reps):
        with tr.span("candidates"):
            fc = drill_op.footprint_candidates(ctx.meta, poly_cells, grid)
            row = fc.select(F.count("*").alias("fps"),
                            F.sum(F.size("cand_polys")).alias("pairs")).first()
    with tr.span("prep"):
        m["candidates.dim_polys"] = (fc.select(F.explode("cand_polys"))
                                     .distinct().count())
        poly_cells.unpersist()
    # (polygon, tile) candidate pairs: every footprint holds the same
    # number of timesteps
    m["candidates.pairs"] = int(row["pairs"]) * ctx.n_items // int(row["fps"])

    with tr.span("prep"):
        scan = ctx.tiles.select(*SCAN_COLS)
        parts = drill_op.drill_partials(ctx.tiles, ctx.polygons, plugin,
                                        grid, meta=ctx.meta)
        final = drill_op.drill(ctx.tiles, ctx.polygons, plugin, grid,
                               partial=False, meta=ctx.meta)
    # each prefix of the drill once per round, rounds interleaved so a
    # slow spell of the host lands on every layer alike
    for _ in range(reps):
        with tr.span("scan"):
            _noop(scan)
        with tr.span("arrow_feed"):
            _noop(scan.mapInArrow(_drain, "image_id string"))
        for name, df in (("partials", parts), ("final_agg", final)):
            obs = Observation(name)
            with tr.span(name):
                _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            m[f"{name}.rows_out"] = obs.get["n"]
        # the last prefix is the timed unit's own action: drill(partial=
        # True) collected to the driver (on the flagship, the collect
        # itself measured under 0.3 s)
        with tr.span("edge_flags"):
            ctx.action()
    m["scan.bytes"] = ctx.n_items * ctx.bytes_per_tile

    busy = {k: tr.median(k) for k in DRILL_PREFIXES}
    m.update({
        "cover.busy_s": tr.median("cover"),
        "tilecells.busy_s": tr.median("tilecells"),
        "candidates.busy_s": tr.median("candidates"),
        "candidates.useful_ratio": m["partials.rows_out"]
        / max(1, m["candidates.pairs"]),
    })
    for k, inner in zip(DRILL_PREFIXES, (None,) + DRILL_PREFIXES):
        m[f"{k}.busy_s"] = busy[k]
        if inner:
            m[f"{k}.self_s"] = busy[k] - busy[inner]
    # the self times telescope to the full drill action
    m["trace.layer_sum_s"] = busy["edge_flags"]
    return m


def ledger_layers(tr, nrt) -> dict:
    """Ledger layer times and output sizes.  ``ledger.batch_s`` and
    ``ledger.finalize_s`` are the NRT unit's own ``run_drill_resumable``
    batches and ``finalize_drill`` (spans "ledger.batch" and
    "ledger.finalize", opened through ``nrt.step_ctx``); bytes and files
    are what that unit wrote, per batch.  The split of a batch comes from
    running its public steps one by one over the same landed batches in
    a scratch directory: the anti-join (``Ledger.remaining``, counted),
    the partials (``drill_partials`` written as parquet), then the
    lineage (``lineage_metrics``) and ledger (``Ledger.mark_done``)
    writes."""
    from dea_conflux_spark.operators import ledger
    from dea_conflux_spark.operators.drill import drill_partials

    from workloads import NRT_BATCHES

    spark = nrt.spark
    root = os.path.join(DATA_DIR, "tmp", "ledger_steps")
    led_path = os.path.join(root, "ledger")
    shutil.rmtree(root, ignore_errors=True)
    for k, tiles in enumerate(nrt.landed):
        led = ledger.Ledger(spark, led_path)
        with tr.span("ledger.remaining"):
            todo = led.remaining(tiles)
            todo.count()
        parts_dir = os.path.join(root, "out", f"batch={k}")
        with tr.span("ledger.partials"):
            drill_partials(todo, nrt.polygons, nrt.plugin, nrt.inp.grid
                           ).write.parquet(parts_dir)
        with tr.span("ledger.write"):
            (ledger.lineage_metrics(spark.read.parquet(parts_dir))
             .write.parquet(os.path.join(root, "lineage", f"batch={k}")))
            led.mark_done(todo.select("image_id"), k)
    shutil.rmtree(root, ignore_errors=True)
    n_bytes, n_files = nrt.last_written
    return {
        "ledger.batch_s": tr.median("ledger.batch"),
        "ledger.remaining_s": tr.median("ledger.remaining"),
        "ledger.partials_s": tr.median("ledger.partials"),
        "ledger.batch_write_s": tr.median("ledger.write"),
        "ledger.finalize_s": tr.median("ledger.finalize"),
        "ledger.bytes_written": n_bytes / NRT_BATCHES,
        "ledger.files_written": n_files / NRT_BATCHES,
    }


def leaf_layers(docs, tr) -> dict:
    """Each documents leaf timed once, checked against its expected
    count; -> ({leaf.<q>_s}, [failure reasons])."""
    from workloads import DOC_LEAVES

    m, whys = {}, []
    for name in DOC_LEAVES:
        with tr.span(f"leaf.{name}"):
            table = docs.run_leaf(name)
        m[f"leaf.{name}_s"] = tr.median(f"leaf.{name}")
        why = docs.check_leaf(name, table, docs.inp.expected)
        if why:
            whys.append(why)
    # one long leaf cannot hide changes in the short ones
    m["leaf.geomean_s"] = geomean(list(m.values()))
    return m, whys


def _engine_layer(label: str) -> str:
    """Layer of a job label: the span name, except that the NRT unit's
    ``run_drill_resumable`` batches count as ``ledger`` and the documents
    leaves (``leaf.<query>``) as ``leaf``."""
    if label == "ledger.batch":
        return "ledger"
    return "leaf" if label.startswith("leaf.") else label


def engine_metrics(per_label: dict, tr) -> dict:
    """Event-log metrics per labelled layer, per call of the layer (a
    call = one span of that name; the ledger per batch, the leaves per
    roster)."""
    calls = {layer: len(tr.durations(layer)) for layer in ENGINE_LAYERS}
    calls["ledger"] = len(tr.durations("ledger.batch"))
    calls["leaf"] = 1
    out = {}
    for layer in ENGINE_LAYERS:
        rows = [v for k, v in per_label.items() if _engine_layer(k) == layer]
        n = max(1, calls[layer])
        for f in ENGINE_FIELDS + (PY_FIELDS if layer in PY_LAYERS else ()):
            if f == "task_skew":
                out[f"{layer}.{f}"] = max([r[f] for r in rows] or [1.0])
            else:
                out[f"{layer}.{f}"] = sum(r[f] for r in rows) / n
    return out


# ------------------------------------------------------- Spark-free probes

def _timed_loop(fn, items, min_s: float = 0.3) -> float:
    """Seconds per item of ``fn`` over ``items``, repeating the pass
    until at least ``min_s`` has elapsed."""
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n


def _owner(grid, gx, gy, cands):
    """Pixel -> candidate-position raster of one footprint, ascending
    ordinal overwrite (rasterise last-wins), from ``geom.prepare`` and
    ``geom.contains_grid``."""
    from dea_conflux_spark.core import geom

    x0, y0 = grid.tile_origin(gx, gy)
    xs = x0 + (np.arange(grid.w) + 0.5) * grid.px_res
    ys = y0 + (np.arange(grid.h) + 0.5) * grid.px_res
    owner = np.full((grid.h, grid.w), -1, dtype=np.int32)
    for pos, p in enumerate(cands):
        prep = geom.prepare(p["rings"])
        bx0, by0, bx1, by1 = prep.bbox
        j0, j1 = np.searchsorted(xs, [bx0, bx1])
        i0, i1 = np.searchsorted(ys, [by0, by1])
        if j0 >= j1 or i0 >= i1:
            continue
        sub = geom.contains_grid(prep, xs[j0:j1], ys[i0:i1])
        owner[i0:i1, j0:j1][sub] = pos
    return owner


def _footprints(inp, limit: int):
    """[(gx, gy, candidate polygons by ordinal)] for up to ``limit``
    footprints of ``inp`` — polygons whose bbox meets the tile."""
    g = inp.stored_grid
    polys = sorted(inp.polys, key=lambda p: p["ordinal"])
    bb = np.array([[p["xmin"], p["ymin"], p["xmax"], p["ymax"]]
                   for p in polys])
    out = []
    for gx in range(g.G):
        for gy in range(g.G):
            x0, y0 = g.tile_origin(gx, gy)
            x1, y1 = x0 + g.tile_span_x, y0 + g.tile_span_y
            hit = np.nonzero((bb[:, 0] < x1) & (bb[:, 2] > x0)
                             & (bb[:, 1] < y1) & (bb[:, 3] > y0))[0]
            out.append((gx, gy, [polys[i] for i in hit]))
    return out[:limit]


def kernel_probes(stack_inp, wit_inp, footprints: int = 64) -> dict:
    """Spark-free probes on tiles decoded from the inputs:

    * owner.build_us_per_footprint — ``_owner`` per footprint;
    * kernel.stacked_us_per_tile — ``waterbodies_c3``'s
      ``partials_grouped_raw_batch`` over each footprint's (T, h*w) time
      stack (T = stored steps x rep, as the replicated drill sees it);
    * kernel.pertile_us_per_tile — the ``wit_ls9`` per-tile path
      (decode, transform, partials_grouped) on WIT tiles;
    * codec.decode_us_per_tile — ``codec.decode_bands`` on WIT tiles;
    * kernel.bytes_per_tile — bytes the stacked kernel reads per tile
      (computed, not measured).
    """
    from dea_conflux_spark.core import codec
    from dea_conflux_spark.datagen import image_id
    from dea_conflux_spark.plugins import get_plugin
    from dea_conflux_spark.plugins.wit import WIT_BANDS

    m = {}
    g = stack_inp.stored_grid
    fps = _footprints(stack_inp, footprints)
    t0 = time.perf_counter()
    owners = {(gx, gy): _owner(g, gx, gy, c) for gx, gy, c in fps}
    m["owner.build_us_per_footprint"] = \
        (time.perf_counter() - t0) / len(fps) * 1e6

    tiles = stack_inp.stored_tiles().set_index("image_id")
    wb = get_plugin("waterbodies_c3")
    rep = stack_inp.size.rep
    stacks = []
    for gx, gy, _ in fps:
        rows = []
        for t in range(g.T):
            r = tiles.loc[image_id(t, gx, gy)]
            raw = (codec.decode_bands(r["bytes"], g.h, g.w, WIT_BANDS)["water"]
                   if r["fmt"] == "multiraw"
                   else codec.decode(r["bytes"], g.h, g.w, r["fmt"]))
            rows.append(raw.ravel())
        stacks.append((owners[(gx, gy)], np.tile(np.stack(rows), (rep, 1))))
    # every stack holds the same number of tiles
    m["kernel.stacked_us_per_tile"] = _timed_loop(
        lambda it: wb.partials_grouped_raw_batch(it[1], it[0], scratch={}),
        stacks) / stacks[0][1].shape[0] * 1e6
    m["kernel.bytes_per_tile"] = g.h * g.w

    wg = wit_inp.stored_grid
    wit = get_plugin("wit_ls9")
    wfps = _footprints(wit_inp, footprints)
    wtiles = wit_inp.stored_tiles().set_index("image_id")
    items = []
    for gx, gy, c in wfps:
        owner = _owner(wg, gx, gy, c)
        for t in range(wg.T):
            r = wtiles.loc[image_id(t, gx, gy)]
            items.append((r["bytes"], owner, list(range(len(c)))))

    def pertile(it):
        byts, owner, ords = it
        bands = wit.transform(wit.decode(byts, wg.h, wg.w, "multiraw"))
        wit.partials_grouped(bands, owner, ords, scratch={})

    m["kernel.pertile_us_per_tile"] = _timed_loop(pertile, items) * 1e6
    m["codec.decode_us_per_tile"] = _timed_loop(
        lambda it: codec.decode_bands(it[0], wg.h, wg.w, WIT_BANDS),
        items) * 1e6
    return m


def kernel_ceiling() -> float:
    """The 1-worker Spark-free kernel rate (``bench.kernel_scaling_study``)."""
    import bench

    return float(bench.kernel_scaling_study(levels=(1,), secs=1.0)
                 ["workers1"]["agg_tiles_s"])
