"""The polygon drill — the engine's flagship pipeline.

Spark-first re-expression of the reference's scene drill
(reference drill.py:508-703); one DataFrame job drills *all* tiles at once:

1. ``tile_meta`` / ``tile_cells`` — placement + covering cells derived from
   ``image_id`` JVM-side (bytes column pruned out of the scan).
2. footprint candidates — equi-join ``tile_cells ⋈ polygon_cover`` on
   ``cell`` per DISTINCT tile footprint (broadcast cover when small,
   salted shuffle-hash otherwise), grouped to one candidate list per
   footprint.  This subsumes the reference's quick-bbox +
   exact-intersects filter cascade (drill.py:302-340,282-299): the cell
   join IS the cheap prefilter.
3. candidate attach — rings join onto the footprint-candidate table
   (``attach_rings``: geometry travels only to footprints that need it;
   no driver collect, no whole-layer broadcast), then a broadcast join
   onto tiles by (gx, gy): tile ``bytes`` are never shuffled and reach
   the UDF exactly once, never once per polygon.  Nothing sorts them:
   the scan streams through the join into the UDF in storage order.
4. drill UDF (``mapInArrow``, Arrow batches) — group the rows of each
   batch by footprint into time stacks, decode tiles, run the plugin's
   vectorized kernel, assign pixels to polygons by exact ray-cast PIP on
   pixel centres with ascending-ordinal overwrite (matching rasterio
   last-wins, reference drill.py:85-90; one owner raster per footprint,
   cached for the task, or on the ``rings="dim"`` path for every task a
   Python worker runs of the drill), and emit per-(polygon, tile)
   **partial aggregates** — pixels never leave the task.
5. final combine — native ``groupBy(poly_id, ts).agg`` (codegen'd partial →
   final, the reference's per-polygon summarise loop drill.py:675-686).
6. optional edge-direction flags (reference drill.py:604-616, 697-703):
   extents and per-(polygon, extent) flags are prepared at construction,
   as the candidate table is, and attached by two broadcast left joins.
"""

from __future__ import annotations

import uuid
from collections import OrderedDict
from itertools import compress

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import BASE_RES, EPOCH
from ..core import geom
from ..datagen import GridSpec
from ..plugins.base import DrillSpec
from .cover import polygon_cover_df
from .tilecells import extents_by_ts, image_id_keys, tile_cells, tile_meta

FLAG_COLS = ["conflux_n", "conflux_s", "conflux_e", "conflux_w"]


# Owner-cache charge per pixel of a footprint: its int32 owner raster
# plus the arrays plugins memoize in its scratch (bool selector, then
# index and gather order of the assigned pixels) take 4-17 bytes per
# pixel on the flagship layer, median 5.5.  The cache budget is this
# charge times the session's scan split (``_owner_budget``): a task
# reads about a split of one-byte pixels, so even a split of distinct,
# fully covered footprints stays resident, whatever the split size.
_OWNER_BYTES_PER_PX = 17

# The drill state of the last drill a Python worker ran, by drill token
# (``_worker_driller``).  Workers are reused across tasks
# (``spark.python.worker.reuse``), so one task's owners serve the next
# task and the next action of the same drill.
_WORKER: dict = {}


def _owner_budget(spark) -> int:
    """Owner-cache budget in bytes for the session's scan split
    (``spark.sql.files.maxPartitionBytes``)."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return _OWNER_BYTES_PER_PX * int(split)


def _worker_driller(token, make) -> "_Driller":
    """The worker's driller for drill ``token``: kept from the worker's
    last task when that task was of the same drill, else made by
    ``make()``.  A ``None`` token (geometry not fixed at construction)
    gets a fresh driller per task."""
    if token is None:
        return make()
    d = _WORKER.get(token)
    if d is None:
        _WORKER.clear()
        d = _WORKER[token] = make()
    return d


class _Driller:
    """Drill state shared by both execution paths (the joined stream
    ``mapInArrow`` and the cogrouped ``applyInArrow``), for one task or,
    on the ``rings="dim"`` path, for every task a worker runs of one
    drill.

    * candidate lists (``cands_for``) — the candidate payload is the same
      for every timestep of a footprint, so it is decoded once into
      ascending ``[(ordinal, poly_id)]``.
    * owner rasters (``owner_for``) — the pixel->polygon assignment
      depends only on the footprint geometry and candidate set, so every
      timestep of a grid slot reuses it.  Tiles stream in storage order,
      and a time-major task meets each footprint again on every
      timestep, so the cache is an LRU holding up to ``budget`` bytes,
      charged ``_OWNER_BYTES_PER_PX`` per footprint pixel, that evicts
      one footprint at a time.
    * prepared geometry — built only inside an owner build, where
      neighbouring footprints share it; a cached owner no longer needs
      it, so it is dropped whenever the owner cache evicts."""

    def __init__(self, plugin: DrillSpec, g: GridSpec, rmap: dict | None,
                 budget: int):
        self.plugin, self.g, self.rmap = plugin, g, rmap
        self.budget = budget
        self.cands: dict = {}
        self.owners: OrderedDict = OrderedDict()
        self.nbytes = 0
        self.preps: dict = {}

    def cands_for(self, gx, gy, payload):
        """Ascending [(ordinal, poly_id)] for a footprint, memoized.
        ``payload`` is the row's Arrow candidate list: poly ids when the
        pruned dimension ``rmap`` is given, else (ordinal, poly_id,
        rings) structs already in ascending order (``attach_rings``)."""
        key = (gx, gy)
        c = self.cands.get(key)
        if c is None:
            if self.rmap is None:
                vals = payload.values
                c = [(int(o), pid) for o, pid in
                     zip(vals.field("ordinal").to_pylist(),
                         vals.field("poly_id").to_pylist())]
            else:
                c = sorted((self.rmap[pid][0], pid)
                           for pid in payload.as_py())
            self.cands[key] = c
        return c

    def owner_for(self, gx, gy, h, w, cands, payload):
        """-> (owner raster, per-slot scratch dict).  The scratch dict
        shares the owner's cache lifetime; plugins memoize owner-derived
        index structures in it (base.owner_segments)."""
        key = (gx, gy, h, w)
        entry = self.owners.get(key)
        if entry is not None:
            self.owners.move_to_end(key)
            return entry
        entry = self.owners[key] = self._build(gx, gy, h, w, cands,
                                                payload)
        self.nbytes += _OWNER_BYTES_PER_PX * h * w
        while self.nbytes > self.budget and len(self.owners) > 1:
            (_, _, oh, ow), _ = self.owners.popitem(last=False)
            self.nbytes -= _OWNER_BYTES_PER_PX * oh * ow
            self.preps.clear()
        return entry

    def _build(self, gx, gy, h, w, cands, payload):
        g = self.g
        x0, y0 = g.tile_origin(gx, gy)
        tx1 = x0 + w * g.px_res
        ty1 = y0 + h * g.px_res
        xs = x0 + (np.arange(w) + 0.5) * g.px_res
        ys = y0 + (np.arange(h) + 0.5) * g.px_res
        rings = payload.values.field("rings") if self.rmap is None else None
        # owner holds the DENSE candidate position (0..len(cands)-1), not
        # the layer-global ordinal: cands ascend by ordinal, so ascending
        # position overwrite preserves rasterize-last-wins.  ``o2p`` in
        # the slot scratch maps positions back to poly_ids for the output.
        owner = np.full((h, w), -1, dtype=np.int32)
        for pos, (ordinal, pid) in enumerate(cands):
            prep = self.preps.get(pid)
            if prep is None:
                prep = self.preps[pid] = geom.prepare(
                    self.rmap[pid][1] if rings is None
                    else rings[pos].as_py())
            bx0, by0, bx1, by1 = prep.bbox
            if bx1 <= x0 or bx0 >= tx1 or by1 <= y0 or by0 >= ty1:
                continue
            if (bx0 <= x0 and bx1 >= tx1 and by0 <= y0
                    and by1 >= ty1
                    and geom.rect_fully_inside(prep, x0, y0, tx1, ty1)):
                owner[:, :] = pos  # interior fast path: no PIP
                continue
            j0 = int(np.searchsorted(xs, bx0))
            j1 = int(np.searchsorted(xs, bx1))
            i0 = int(np.searchsorted(ys, by0))
            i1 = int(np.searchsorted(ys, by1))
            if j0 >= j1 or i0 >= i1:
                continue
            sub = geom.contains_grid(prep, xs[j0:j1], ys[i0:i1])
            view = owner[i0:i1, j0:j1]
            view[sub] = pos
        return owner, {"o2p": {i: pid for i, (_, pid) in enumerate(cands)}}

    def drill_one(self, image_id, ts_idx, byts, h, w, fmt, owner, scratch,
                  out):
        """Drill one tile the kernel cannot take as stored (another
        format, a payload of another length) into the ``out`` chunk
        accumulator: decode it, which raises on a malformed payload, and
        run the plugin's kernel on it as a T=1 stack of the decoded
        planes' bytes, concatenated in band order."""
        raw = self.plugin.decode(byts, h, w, fmt)
        planes = raw.values() if isinstance(raw, dict) else (raw,)
        row = np.concatenate([np.ascontiguousarray(p).view(np.uint8).ravel()
                              for p in planes])
        _drill_stack(self.plugin, row[None], [(image_id, ts_idx)], owner,
                     scratch, out)


_DTYPES = {"long": np.int64, "double": np.float64}
_US_PER_DAY = 86_400_000_000
_EPOCH_US = int(np.datetime64(EPOCH, "us").astype(np.int64))


def _empty_out(plugin: DrillSpec) -> dict:
    """Per-batch chunk accumulator: ``poly_id`` holds one id-array chunk
    per time stack, ``_meta`` one ``(image_id, ts_idx, n_rows)`` tuple
    per tile, each partial field one small numpy array per stack.
    ``_flush_arrow`` assembles the columns with
    ``np.repeat``/``concatenate`` — the output build is vectorised
    instead of ~10 python appends per output row."""
    out = {"poly_id": [], "_meta": []}
    for name, _ in plugin.partial_fields:
        out[name] = []
    return out


def attach_rings(fc: DataFrame, polygons: DataFrame,
                 allow_broadcast_dim: bool = True) -> DataFrame:
    """(gx, gy, cand_polys array<struct<ordinal, poly_id, rings>>) —
    candidate lists with ring geometry attached through the candidate join.

    Rings travel ONLY to the footprints whose cell cover they intersect
    (an equi-join on poly_id + re-group), replacing the reference's
    ship-the-whole-shapefile-to-every-worker pattern
    (reference __main__.py:902-906) and the round-1 driver-side
    ``collect()`` + ``sc.broadcast`` of every polygon: driver memory and
    broadcast size now scale with candidate geometry actually needed per
    footprint, not with the total polygon count.  ``sort_array`` over the
    (ordinal-first) structs yields ascending drill order for the
    rasterize-last-wins overwrite."""
    pairs = fc.select("gx", "gy", F.explode("cand_polys").alias("poly_id"))
    dim = polygons.select("poly_id", "ordinal", "rings")
    if not allow_broadcast_dim:
        # huge-layer contract (cogrouped path): polygon geometry must
        # SHUFFLE on poly_id, never broadcast — Catalyst would happily
        # auto-broadcast a layer whose estimated size sneaks under the
        # threshold, which is exactly the ceiling this path removes
        dim = dim.hint("shuffle_hash")
    return (pairs.join(dim, "poly_id")
            .groupBy("gx", "gy")
            .agg(F.sort_array(F.collect_list(
                F.struct("ordinal", "poly_id", "rings")))
                .alias("cand_polys")))


def _footprint_cells(meta: DataFrame, base_res: int) -> DataFrame:
    """(gx, gy, cell) — the cell cover of every DISTINCT tile footprint."""
    fps = meta.select("gx", "gy", "x0", "y0", "x1", "y1").distinct()
    fps = fps.withColumn(
        "image_id", F.format_string("t0000_x%03d_y%03d", "gx", "gy"))
    return tile_cells(fps, base_res=base_res).select(
        *image_id_keys("gx", "gy").values(), "cell")


def footprint_candidates(meta: DataFrame, poly_cells: DataFrame,
                         grid: GridSpec, base_res: int = BASE_RES,
                         broadcast_cover: bool = True) -> DataFrame:
    """(gx, gy, cand_polys array<string>) per DISTINCT tile footprint.

    Tiles at the same grid slot share one bbox regardless of timestep, so
    the cell join runs once per footprint, not once per tile — the
    candidate table stays tiny (grid-slot cardinality) and broadcasts
    cheaply no matter how many timesteps the tile table holds.  ``meta``
    is the placement table from ``tile_meta`` (callers with an external
    catalog can pass a cheap metadata-only source instead of re-scanning
    the full tile table)."""
    fcells = _footprint_cells(meta, base_res)
    cover = poly_cells.select("cell", "poly_id")
    if broadcast_cover:
        cover = F.broadcast(cover)
    return (fcells.join(cover, "cell")
            .groupBy("gx", "gy")
            .agg(F.collect_set("poly_id").alias("cand_polys")))


def footprint_candidates_salted(meta: DataFrame, poly_cells: DataFrame,
                                grid: GridSpec, base_res: int = BASE_RES,
                                n_salt: int = 8) -> DataFrame:
    """Shuffle-hash variant of :func:`footprint_candidates` with hot-cell
    salting — the scale path when the polygon cover table outgrows the
    broadcast threshold (SURVEY.md §4 O5/O6).

    Hot cells (coarse interior cells of huge polygons, or dense urban
    lake fields) would funnel every matching tile-cell row into one
    reducer; salting splits each cell's tile stream across ``n_salt``
    reducers and replicates the (small per-cell) cover rows to every
    salt, so the join key becomes (cell, salt).  AQE skew-join splitting
    stays on as the second line of defence.
    """
    spark = meta.sparkSession
    fcells = _footprint_cells(meta, base_res).withColumn(
        "salt", F.pmod(F.xxhash64("gx", "gy", "cell"), F.lit(n_salt)))
    salts = spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
    cover = (poly_cells.select("cell", "poly_id")
             .crossJoin(F.broadcast(salts)))
    joined = fcells.hint("shuffle_hash").join(cover, ["cell", "salt"])
    return (joined.groupBy("gx", "gy")
            .agg(F.collect_set("poly_id").alias("cand_polys")))


def candidate_pairs(tiles: DataFrame, poly_cells: DataFrame, grid: GridSpec,
                    base_res: int = BASE_RES,
                    broadcast_cover: bool = True) -> DataFrame:
    """(image_id, poly_id) pairs whose tile bbox overlaps the polygon's cell
    cover."""
    meta = tile_meta(tiles, grid)
    fc = footprint_candidates(meta, poly_cells, grid, base_res,
                              broadcast_cover)
    return (meta.select("image_id", "gx", "gy")
            .join(F.broadcast(fc), ["gx", "gy"])
            .select("image_id", F.explode("cand_polys").alias("poly_id")))


def drill_partials(tiles: DataFrame, polygons: DataFrame, plugin: DrillSpec,
                   grid: GridSpec, *, base_res: int = BASE_RES,
                   broadcast_cover: bool = True,
                   rings: str = "auto",
                   meta: DataFrame | None = None) -> DataFrame:
    """Per-(polygon, tile) partial aggregates:
    ``(poly_id, image_id, ts, <partial cols>)``.  This is the map-side
    combine stage; ``drill`` folds it into final metrics.  Exposed
    separately because the rows double as the tile->polygon assignment
    record (lineage + golden tests).

    ``rings`` selects how candidate geometry reaches the workers:

    * ``"dim"`` — one torrent broadcast of the CANDIDATE-PRUNED polygon
      dimension ({poly_id: (ordinal, rings)}); the per-tile join payload
      is then just the candidate id list.  A per-footprint ring set
      attached through the join is re-serialised across the Arrow
      boundary for EVERY timestep row of the footprint (measured ~2.4x
      the no-rings floor at 512 timesteps); the dimension broadcast ships
      each ring set to each executor once.  Geometry is pruned to
      polygons that are a candidate of at least one footprint in this
      drill, so broadcast size tracks the queried region, not the layer.
    * ``"join"`` — rings travel inside the candidate join (attach_rings);
      nothing is collected at the driver.  NB the ring-attached candidate
      table is still BROADCAST — with rings nested per footprint, at least
      as large as the pruned dimension — so this mode trades driver
      memory for executor broadcast memory without removing the size
      ceiling.  When the candidate GEOMETRY itself outgrows the
      broadcast budget, use :func:`drill_partials_cogrouped` over a
      bucketed tile layout — Exchange-free on the tile side, geometry
      shuffled (not broadcast) on the footprint key.
    * ``"auto"`` (default) — ``dim`` while the pruned candidate dimension
      is ≤ ~100k polygons (a narrow count on the dim table), else
      ``join`` — same size-gated strategy switch as broadcast_cover.
    """
    if rings not in ("auto", "dim", "join"):
        raise ValueError(f"rings must be 'auto', 'dim' or 'join', got "
                         f"{rings!r}")
    sc = tiles.sparkSession.sparkContext
    poly_cells = polygon_cover_df(polygons, base_res=base_res)
    meta_src = meta if meta is not None else tile_meta(tiles, grid)
    if broadcast_cover == "auto":
        # size-based strategy switch (SURVEY.md §4 O5): broadcast while the
        # cover table is comfortably under the broadcast budget, salted
        # shuffle-hash beyond it.  The count is a narrow job over the small
        # polygon table, amortised by the cover cache.
        poly_cells = poly_cells.cache()
        broadcast_cover = poly_cells.count() <= 2_000_000
    if broadcast_cover:
        fc = footprint_candidates(meta_src, poly_cells, grid, base_res,
                                  broadcast_cover=True)
    else:
        fc = footprint_candidates_salted(meta_src, poly_cells, grid,
                                         base_res)
    rings_b = None
    if rings in ("auto", "dim"):
        # fc feeds up to three actions on these paths (dim count, dim
        # collect, the tile join) — materialise it once instead of
        # re-deriving the footprint-candidate join per action.  fc is the
        # small footprint-grain table (id lists only, no geometry).
        fc = fc.localCheckpoint(eager=True)
        # candidate-pruned dimension: only polygons that are a candidate
        # of at least one footprint in this drill
        cand_ids = fc.select(
            F.explode("cand_polys").alias("poly_id")).distinct()
        dim = polygons.join(cand_ids, "poly_id").select(
            "poly_id", "ordinal", "rings")
        if rings == "auto":
            rings = "dim" if dim.count() <= 100_000 else "join"
    if rings == "dim":
        rings_b = sc.broadcast({
            r["poly_id"]: (int(r["ordinal"]), r["rings"])
            for r in dim.collect()})
        fc = fc.select("gx", "gy",
                       F.sort_array("cand_polys").alias("cand_polys"))
    else:
        fc = attach_rings(fc, polygons)
    # Only the columns the UDF needs cross the Arrow boundary: caption and
    # phash stay JVM-side (columnar pruning keeps them out of the scan too).
    # The candidate attach is a broadcast equi-join on the (gx, gy)
    # footprint parsed JVM-side from image_id — no shuffle of tile bytes;
    # candidate RINGS arrive via the pruned-dimension broadcast or (scale
    # path) through the same join — see the ``rings`` docstring above.
    work = (tiles.select("image_id", "bytes", "w", "h", "fmt")
            .withColumns(image_id_keys("gx", "gy"))
            .join(F.broadcast(fc), ["gx", "gy"]))

    grid_b = sc.broadcast(grid)
    schema = plugin.partial_schema
    budget = _owner_budget(tiles.sparkSession)
    # dim-path geometry is fixed by the broadcast, so a worker's owners
    # stay valid for every task and action of this drill
    token = uuid.uuid4().hex if rings_b is not None else None

    def run(batches):
        driller = _worker_driller(token, lambda: _Driller(
            plugin, grid_b.value,
            rings_b.value if rings_b is not None else None, budget))
        for rb in batches:
            out = _empty_out(plugin)
            _drill_rows_arrow(plugin, rb, driller, out)
            yield _flush_arrow(plugin, out)

    return work.mapInArrow(run, schema=schema)


def _flush_arrow(plugin: DrillSpec, out: dict):
    """Assemble the chunk accumulator straight into a RecordBatch of the
    plugin's ``partial_schema``: ``ts`` is built from the day indices as
    ``timestamp[us, tz=UTC]`` (what Spark's Arrow verifier wants), and
    per-tile ``image_id`` values are repeated Arrow-side."""
    import pyarrow as pa

    metas = out["_meta"]
    counts = np.fromiter((m[2] for m in metas), np.int64, len(metas))
    days = np.fromiter((m[1] for m in metas), np.int64, len(metas))
    rows = np.repeat(np.arange(len(metas)), counts)

    def cat(chunks, dtype):
        return np.concatenate(chunks) if chunks else np.empty(0, dtype)

    arrays = [pa.array(cat(out["poly_id"], object), pa.string()),
              pa.array([m[0] for m in metas], pa.string()).take(rows),
              pa.array(_EPOCH_US + days[rows] * _US_PER_DAY,
                       pa.timestamp("us", tz="UTC"))]
    names = ["poly_id", "image_id", "ts"]
    for name, typ in plugin.partial_fields:
        arrays.append(pa.array(cat(out[name], _DTYPES[typ])))
        names.append(name)
    return pa.RecordBatch.from_arrays(arrays, names)


def _drill_rows_arrow(plugin: DrillSpec, rb, driller: _Driller, out: dict,
                      payload=None) -> None:
    """Drill every row of one pyarrow RecordBatch into ``out``.

    Rows arrive in storage order: nothing upstream sorts them.  A stable
    argsort on (gx, gy, h, w, fmt) over the batch groups the
    same-footprint rows into TIME STACKS fed to the plugin's one kernel
    (``partials_grouped_raw_batch``) — per-tile python/numpy dispatch is
    paid once per stack, not once per tile.  The plugin declares the
    stored payloads its kernel takes (``stack_nbytes``: a format and a
    byte length per tile shape); a row of any other format or length (a
    lossy codec, a truncated payload) is decoded by ``drill_one`` and
    reaches the same kernel as a stack of one.  Rows whose ``image_id``
    does not parse are skipped.

    The payload column stays in the Arrow buffer: a stack whose rows are
    adjacent (a footprint's timesteps stored together, or a cogroup
    group) is a CONTIGUOUS byte region there, so the (T, n) stack the
    kernel wants is a zero-copy reshape of that region; an interleaved
    stack is gathered with ``np.stack``.

    ``payload`` is a candidate payload shared by every row (a cogroup
    group's one candidate row); by default each row carries its own in
    the ``cand_polys`` column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = rb.num_rows
    if not n:
        return
    iids = rb.column("image_id").to_pylist()
    gxs = rb.column("gx").to_numpy()
    gys = rb.column("gy").to_numpy()
    hs = rb.column("h").to_numpy()
    ws = rb.column("w").to_numpy()
    fmt_col = rb.column("fmt")
    fmts = fmt_col.to_pylist()
    fcodes = pc.index_in(fmt_col, value_set=pc.unique(fmt_col)).to_numpy()
    # row -> byte start and length of its payload
    bcol = rb.column("bytes")
    off_dt = np.int64 if pa.types.is_large_binary(bcol.type) else np.int32
    bufs = bcol.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dt)[
        bcol.offset:bcol.offset + n + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    starts = offs[:-1]
    lens = np.diff(offs)
    cand_col = rb.column("cand_polys") if payload is None else None
    order = np.lexsort((fcodes, ws, hs, gys, gxs))
    keys = np.stack([gxs, gys, hs, ws, fcodes]).astype(np.int64)[:, order]
    cuts = np.flatnonzero((keys[:, 1:] != keys[:, :-1]).any(axis=0)) + 1
    for rows in np.split(order, cuts):
        i = int(rows[0])
        gx, gy = int(gxs[i]), int(gys[i])
        h, w, fmt = int(hs[i]), int(ws[i]), fmts[i]
        metas = []
        keep = []
        for k in rows.tolist():
            iid = iids[k]
            cut = iid.find("_")
            if cut < 2 or iid[0] != "t" or not iid[1:cut].isdigit():
                continue
            metas.append((iid, int(iid[1:cut])))
            keep.append(k)
        if not metas:
            continue
        pl = payload if payload is not None else cand_col[i]
        cands = driller.cands_for(gx, gy, pl)
        owner, scratch = driller.owner_for(gx, gy, h, w, cands, pl)
        keep = np.asarray(keep)
        nb = plugin.stack_nbytes(fmt, h, w)
        fit = (lens[keep] == nb if nb is not None
               else np.zeros(len(keep), dtype=bool))
        if fit.any():
            st = keep[fit]
            if st[-1] - st[0] + 1 == len(st):
                s0 = starts[st[0]]
                raws2d = data[s0:s0 + nb * len(st)].reshape(len(st), nb)
            else:
                raws2d = np.stack([data[starts[k]:starts[k] + nb]
                                   for k in st])
            _drill_stack(plugin, raws2d, list(compress(metas, fit)), owner,
                         scratch, out)
        for k, (iid, ts_idx) in zip(keep[~fit], compress(metas, ~fit)):
            byts = data[starts[k]:starts[k] + lens[k]].tobytes()
            driller.drill_one(iid, ts_idx, byts, h, w, fmt, owner, scratch,
                              out)


def _drill_stack(plugin: DrillSpec, raws2d, metas, owner, scratch: dict,
                 out: dict) -> None:
    """Run the plugin's kernel over ``raws2d``, a (T, n) stack of one
    footprint's payloads with ``metas`` its T ``(image_id, ts_idx)``,
    into ``out``."""
    ords_out, *fields = plugin.partials_grouped_raw_batch(raws2d, owner,
                                                          scratch=scratch)
    if not ords_out:
        return
    o2p = scratch["o2p"]
    pids = np.array([o2p[o] for o in ords_out], dtype=object)
    out["poly_id"].append(np.tile(pids, len(metas)))
    for iid, ts_idx in metas:
        out["_meta"].append((iid, ts_idx, len(ords_out)))
    for (name, typ), arr in zip(plugin.partial_fields, fields):
        out[name].append(np.ascontiguousarray(arr, dtype=_DTYPES[typ])
                         .ravel())


def drill(tiles: DataFrame, polygons: DataFrame, plugin: DrillSpec,
          grid: GridSpec, *, partial: bool = True,
          base_res: int = BASE_RES, broadcast_cover: bool = True,
          rings: str = "auto", meta: DataFrame | None = None) -> DataFrame:
    """Run one drill over every tile; returns
    ``(poly_id, ts, <plugin metrics>[, conflux_n/s/e/w])``.

    ``meta`` optionally supplies the placement table (tile_meta shape) from
    a lightweight catalog source so the metadata passes (footprints,
    extents) never scan the heavy bytes column.  Layer prep — footprint
    candidates, candidate dimension and, with ``partial=True``, the
    extents and edge-flag tables — runs here, at construction."""
    partials = drill_partials(tiles, polygons, plugin, grid,
                              base_res=base_res,
                              broadcast_cover=broadcast_cover,
                              rings=rings, meta=meta)
    return _finish(partials, plugin, partial, polygons,
                   meta if meta is not None else tile_meta(tiles, grid))


def _finish(partials: DataFrame, plugin: DrillSpec, partial: bool,
            polygons: DataFrame, meta: DataFrame) -> DataFrame:
    """Shared tail of :func:`drill` and :func:`drill_cogrouped`: the final
    ``(poly_id, ts)`` aggregate plus, with ``partial``, the edge flags.
    The extents and one run of the parallel per-extent flag pass are
    collected here, eagerly, and handed back to the JVM through Arrow
    (pandas, not a Python-worker RDD), so no action re-runs them."""
    result = partials.groupBy("poly_id", "ts").agg(*plugin.final_aggs())
    if not partial:
        return result
    spark = result.sparkSession
    extents = spark.createDataFrame(extents_by_ts(meta).toPandas(),
                                    _EXT_SCHEMA)
    flags = _edge_flags_per_extent(polygons, extents).toPandas()
    return _attach_flags(result, extents,
                         spark.createDataFrame(flags, _FLAG_SCHEMA))


def with_slot_keys(tiles: DataFrame, n_time_buckets: int = 1) -> DataFrame:
    """Add the (gx, gy, tb) grid-slot/time-bucket key columns derived from
    ``image_id`` — the physical co-location key of the cogrouped drill.
    At ingest these are STORED columns of the bucketed tile layout (see
    :func:`write_tiles_bucketed`); this helper is the derive-on-read
    fallback for ad-hoc frames."""
    keys = image_id_keys()
    ts = keys.pop("ts_idx")
    return tiles.withColumns(
        {**keys, "tb": (ts % n_time_buckets).cast("int")})


def write_tiles_bucketed(tiles: DataFrame, table: str, n_buckets: int = 64,
                         n_time_buckets: int = 1) -> None:
    """Persist the tile table hash-bucketed on (gx, gy, tb) — the one-time
    layout that makes :func:`drill_cogrouped` Exchange-free on the tile
    side (the batch analogue of a grid-partitioned Iceberg write: at
    10^12-image scale the image table is laid out by grid slot anyway).

    ``n_time_buckets`` splits each grid slot's time series across ``tb``
    groups so a cogroup group (one Arrow table in the drill UDF) holds
    1/n_time_buckets of a slot's timesteps — size the groups to executor
    memory for deep time stacks.

    Each bucket is stored sorted by (gx, gy, tb) (``write_bucketed``):
    that sort, not one at drill time, keeps cogrouped stacks contiguous.
    The cogroup's own sort on the key meets presorted input and hands
    each group's tiles to the UDF as adjacent rows, so every time stack
    is a zero-copy view of the Arrow payload buffer."""
    from .tables import write_bucketed

    t = with_slot_keys(tiles, n_time_buckets)
    write_bucketed(t, table, ["gx", "gy", "tb"], n_buckets)


def drill_partials_cogrouped(tiles: DataFrame, polygons: DataFrame,
                             plugin: DrillSpec, grid: GridSpec, *,
                             base_res: int = BASE_RES,
                             broadcast_cover: bool = True,
                             n_time_buckets: int = 1,
                             meta: DataFrame | None = None) -> DataFrame:
    """Exchange-free huge-layer drill: per-(polygon, tile) partials via a
    Pandas COGROUP on the (gx, gy, tb) grid-slot key instead of a
    candidate join.

    This is the scale path when even the candidate-pruned polygon
    dimension outgrows the broadcast budget (>~100k candidate polygons —
    the ceiling of both ``rings="dim"`` and ``rings="join"``, which
    broadcast geometry one way or the other).  Shape of the plan:

    * tiles come from a table bucketed on (gx, gy, tb)
      (:func:`write_tiles_bucketed`): the scan's HashPartitioning already
      satisfies the cogroup's clustering, so tile ``bytes`` move through
      NEITHER a shuffle NOR a broadcast — only a partition-local sort.
    * the ring-attached candidate table (one row per footprint,
      :func:`attach_rings`) shuffles on the same key — geometry-only
      rows, size tracks the queried footprints.
    * ``applyInPandas`` receives each footprint's tiles and its candidate
      row together, so ring geometry crosses the Arrow boundary ONCE per
      (footprint, time-bucket) group instead of once per tile row (the
      measured ~2.4x per-row nesting tax of the join payload) and never
      rides a broadcast (the ``rings="join"`` size ceiling).

    Replaces the reference's ship-the-whole-shapefile-to-every-worker
    pattern (reference __main__.py:902-906) with geometry movement that is
    O(candidate footprint geometry), partitioned, and never resident on
    the driver.  Output and semantics are bit-identical to
    :func:`drill_partials` (golden-tested).

    If ``tiles`` lacks the stored (gx, gy, tb) columns they are derived
    from ``image_id`` — correct, but the cogroup then shuffles the tile
    bytes once; use the bucketed layout at scale."""
    spark = tiles.sparkSession
    derived_tb = "gx" not in tiles.columns or "tb" not in tiles.columns
    if derived_tb:
        tiles = with_slot_keys(tiles, n_time_buckets)
    poly_cells = polygon_cover_df(polygons, base_res=base_res)
    meta_src = meta if meta is not None else tile_meta(tiles, grid)
    if broadcast_cover:
        fc = footprint_candidates(meta_src, poly_cells, grid, base_res,
                                  broadcast_cover=True)
    else:
        fc = footprint_candidates_salted(meta_src, poly_cells, grid,
                                         base_res)
    fcr = attach_rings(fc, polygons, allow_broadcast_dim=False)
    if derived_tb:
        # we minted tb ourselves: values are exactly [0, n_time_buckets)
        tb_vals = list(range(n_time_buckets))
    else:
        # STORED layout: the tb range is a property of the table's write
        # (write_tiles_bucketed(n_time_buckets=K)), not of this call's
        # ``n_time_buckets`` argument.  Replicating candidates only to
        # [0, n_time_buckets) would cogroup any tile with tb >= that
        # bound against an EMPTY candidate side and silently drop its
        # rows — so the replication range comes from the tb values
        # actually present (one column-pruned distinct over the stored
        # int column, negligible next to the drill itself).
        tb_vals = sorted(int(r["tb"])
                         for r in tiles.select("tb").distinct().collect())
        if tb_vals and (tb_vals[0] < 0 or len(tb_vals) > 65536):
            raise ValueError(
                f"stored tb column looks corrupt: {len(tb_vals)} distinct "
                f"values, min {tb_vals[0]}")
        if not tb_vals:  # empty tile table: keep the plan analysable
            tb_vals = [0]
    # replicate the footprint's candidate row to every time bucket —
    # bounded geometry duplication (x len(tb_vals)), traded for bounded
    # group memory
    fcr = fcr.withColumn("tb", F.explode(F.array(
        *[F.lit(v).cast("int") for v in tb_vals])))
    keys = ["gx", "gy", "tb"]
    left = tiles.select(*keys, "image_id", "bytes", "w", "h", "fmt")

    grid_b = spark.sparkContext.broadcast(grid)
    schema = plugin.partial_schema
    budget = _owner_budget(spark)
    holder: dict = {}  # per-task drill state across groups

    def run_cg(ltab, rtab):
        import pyarrow as pa

        if "d" not in holder:
            holder["d"] = _Driller(plugin, grid_b.value, None, budget)
        out = _empty_out(plugin)
        if ltab.num_rows and rtab.num_rows:
            # a cogroup group IS one grid slot's time stack, with one
            # candidate row: its payload serves every tile row
            payload = rtab.column("cand_polys")[0]
            for rb in ltab.combine_chunks().to_batches():
                _drill_rows_arrow(plugin, rb, holder["d"], out, payload)
        return pa.Table.from_batches([_flush_arrow(plugin, out)])

    return (left.groupBy(*keys)
            .cogroup(fcr.groupBy(*keys))
            .applyInArrow(run_cg, schema=schema))


def drill_cogrouped(tiles: DataFrame, polygons: DataFrame, plugin: DrillSpec,
                    grid: GridSpec, *, partial: bool = True,
                    base_res: int = BASE_RES, broadcast_cover: bool = True,
                    n_time_buckets: int = 1,
                    meta: DataFrame | None = None) -> DataFrame:
    """:func:`drill` over the cogrouped Exchange-free partials path (see
    :func:`drill_partials_cogrouped`) — same output contract."""
    partials = drill_partials_cogrouped(
        tiles, polygons, plugin, grid, base_res=base_res,
        broadcast_cover=broadcast_cover, n_time_buckets=n_time_buckets,
        meta=meta)
    return _finish(partials, plugin, partial, polygons,
                   meta if meta is not None else tile_meta(tiles, grid))


_EXT_COLS = ["ex0", "ey0", "ex1", "ey1"]
_EXT_SCHEMA = "ts timestamp, ex0 double, ey0 double, ex1 double, ey1 double"
_FLAG_SCHEMA = ("poly_id string, ex0 double, ey0 double, ex1 double, "
                "ey1 double, conflux_n boolean, conflux_s boolean, "
                "conflux_e boolean, conflux_w boolean")


def _edge_flags_per_extent(polygons: DataFrame,
                           extents: DataFrame) -> DataFrame:
    """(poly_id, ex0, ey0, ex1, ey1, conflux_n/s/e/w) — the edge-overflow
    flags per (polygon, DISTINCT extent): the O(polygons x distinct
    extents) core of the edge-flag rule (reference drill.py:104-220,
    numpy port).  The polygon pass is
    repartitioned so the geometry work parallelises instead of riding a
    single-partition crossJoin."""
    spark = polygons.sparkSession
    ext_d = extents.select(*_EXT_COLS).distinct()
    j = (polygons.select("poly_id", "rings").crossJoin(F.broadcast(ext_d))
         .repartition(spark.sparkContext.defaultParallelism))

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                d = geom.edge_directions(r.rings, r.ex0, r.ey0, r.ex1, r.ey1)
                rows.append((r.poly_id, r.ex0, r.ey0, r.ex1, r.ey1,
                             d["North"], d["South"], d["East"], d["West"]))
            yield pd.DataFrame(rows, columns=["poly_id", *_EXT_COLS,
                                              *FLAG_COLS])

    return j.mapInPandas(run, schema=_FLAG_SCHEMA)


def attach_edge_flags(result: DataFrame, polygons: DataFrame,
                      extents: DataFrame) -> DataFrame:
    """Left-attach the edge flags to a (poly_id, ts)-grain result, with
    the per-(polygon, extent) flags computed lazily, as part of the
    result's own plan (:func:`drill` prepares them eagerly instead)."""
    return _attach_flags(result, extents,
                         _edge_flags_per_extent(polygons, extents))


def _attach_flags(result: DataFrame, extents: DataFrame,
                  per_extent: DataFrame) -> DataFrame:
    """Left-attach the flags through TWO tiny broadcasts — the
    timestep->extent map and the per-(polygon, distinct extent) flag
    table — never the (polygons x timesteps) product.  A result row's ts
    resolves its extent, (poly_id, extent) its flag row; misses are
    False."""
    return (result
            .join(F.broadcast(extents.select("ts", *_EXT_COLS)),
                  "ts", "left")
            .join(F.broadcast(per_extent),
                  ["poly_id", *_EXT_COLS], "left")
            .drop(*_EXT_COLS)
            .fillna(False, subset=FLAG_COLS))
