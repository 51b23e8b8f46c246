"""Golden tests: the distributed drill must reproduce the numpy oracle
row-for-row (reference parity: tests/test_drill.py asserts row counts and
golden pixel sums against notebook-computed values)."""

import numpy as np
import pandas as pd
import pytest

from dea_conflux_spark import oracle
from dea_conflux_spark.operators import drill as drill_op
from dea_conflux_spark.plugins import get_plugin


def _compare(got: pd.DataFrame, exp: pd.DataFrame, metrics):
    got = got.sort_values(["poly_id", "ts"]).reset_index(drop=True)
    exp = exp.sort_values(["poly_id", "ts"]).reset_index(drop=True)
    assert list(got["poly_id"]) == list(exp["poly_id"])
    assert list(pd.to_datetime(got["ts"])) == list(pd.to_datetime(exp["ts"]))
    for m in metrics:
        g = got[m].to_numpy(dtype=float)
        e = exp[m].to_numpy(dtype=float)
        np.testing.assert_allclose(g, e, rtol=1e-12, atol=1e-12,
                                   equal_nan=True, err_msg=m)


@pytest.fixture(scope="module")
def c3_result(tiles, polygons, grid):
    plugin = get_plugin("waterbodies_c3")
    return drill_op.drill(tiles, polygons, plugin, grid,
                          partial=True).toPandas()


def test_waterbodies_c3_matches_oracle(c3_result, grid, polys, tiles_pdf):
    plugin = get_plugin("waterbodies_c3")
    exp = oracle.oracle_drill(grid, polys, tiles_pdf, plugin, partial=True)
    assert len(c3_result) == len(exp) > 0
    _compare(c3_result, exp, ["px_wet", "pc_wet", "pc_missing"])


def test_waterbodies_c3_edge_flags(c3_result, grid, polys, tiles_pdf):
    plugin = get_plugin("waterbodies_c3")
    exp = oracle.oracle_drill(grid, polys, tiles_pdf, plugin, partial=True)
    got = c3_result.sort_values(["poly_id", "ts"]).reset_index(drop=True)
    exp = exp.sort_values(["poly_id", "ts"]).reset_index(drop=True)
    for c in drill_op.FLAG_COLS:
        assert list(got[c].astype(bool)) == list(exp[c].astype(bool)), c
    # the fixture plants boundary-overflow polygons: the parity check must
    # not be vacuous — at least one flag is TRUE in each direction set
    assert got[drill_op.FLAG_COLS].to_numpy().any(), \
        "edge-flag fixture is vacuous (no polygon overflows the extent)"


def test_sum_wet_matches_oracle(tiles, polygons, grid, polys, tiles_pdf):
    plugin = get_plugin("sum_wet")
    got = drill_op.drill(tiles, polygons, plugin, grid, partial=False).toPandas()
    exp = oracle.oracle_drill(grid, polys, tiles_pdf, plugin, partial=False)
    assert len(got) == len(exp) > 0
    _compare(got, exp, ["water"])


@pytest.mark.parametrize("name", ["ga_ls_wo_3_flags", "wofs_albers_flags"])
def test_wo_flags_matches_oracle(tiles, polygons, grid, polys, tiles_pdf,
                                 name):
    plugin = get_plugin(name)
    got = drill_op.drill(tiles, polygons, plugin, grid, partial=False).toPandas()
    exp = oracle.oracle_drill(grid, polys, tiles_pdf, plugin, partial=False)
    assert len(got) == len(exp) > 0
    _compare(got, exp, [c for c, _ in plugin.output_fields])
    if name == "wofs_albers_flags":
        # C2 flag names present (reference wofs_albers_flags.conflux.py:19-28)
        assert {"sea", "terrain_or_low_angle"} <= set(got.columns)


def test_waterbodies_c2_matches_oracle(tiles, polygons, grid, polys,
                                       tiles_pdf):
    """C2 'waterbodies' plugin alias (reference waterbodies.conflux.py):
    same wet/dry/missing drill semantics as C3."""
    plugin = get_plugin("waterbodies")
    got = drill_op.drill(tiles, polygons, plugin, grid,
                         partial=False).toPandas()
    exp = oracle.oracle_drill(grid, polys, tiles_pdf, plugin, partial=False)
    assert len(got) == len(exp) > 0
    _compare(got, exp, ["px_wet", "pc_wet", "pc_missing"])
    assert plugin.resolution == (-25, 25)


def test_tile_assignments_match_oracle(tiles, polygons, grid, polys):
    """Exact tile->polygon assignment parity: per-(poly, tile) pixel counts
    from the engine's partials equal the oracle's global rasterisation."""
    plugin = get_plugin("waterbodies_c3")
    parts = drill_op.drill_partials(tiles, polygons, plugin, grid).toPandas()
    parts["gx"] = parts["image_id"].str.extract(r"_x(\d+)_").astype(int)
    parts["gy"] = parts["image_id"].str.extract(r"_y(\d+)$").astype(int)
    got = (parts[parts["image_id"].str.startswith("t0000")]
           [["poly_id", "gx", "gy", "n_px"]]
           .sort_values(["poly_id", "gx", "gy"]).reset_index(drop=True))
    exp = oracle.oracle_assignments(grid, polys)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_overlapping_polygons_last_wins(polys, grid):
    """The overlap pair must not double-count pixels: total assigned pixels
    across the pair is <= the union of their areas in px."""
    exp = oracle.oracle_assignments(grid, polys)
    a = next(p for p in polys if p["kind"] == "overlap_a")
    b = next(p for p in polys if p["kind"] == "overlap_b")
    na = exp[exp.poly_id == a["poly_id"]]["n_px"].sum()
    nb = exp[exp.poly_id == b["poly_id"]]["n_px"].sum()
    # b has the higher ordinal -> wins the overlap; a loses pixels
    assert nb > 0
    px_area_a = a["area"] / (grid.px_res ** 2)
    assert na < px_area_a * 1.02  # a lost the shared pixels


def test_outside_polygon_absent(c3_result, polys):
    out_pid = next(p for p in polys if p["kind"] == "outside")["poly_id"]
    assert out_pid not in set(c3_result["poly_id"])


def _fmt_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_no_bytes_exchange_no_rings_broadcast(plan):
    """The scale-plan contract: tile bytes never ride an Exchange, and
    polygon geometry (rings / ring-attached candidate lists) never rides
    a BROADCAST exchange (shuffling geometry on the footprint key is the
    intended movement)."""
    import re

    blocks = [b for b in plan.split("\n\n") if b.strip().startswith("(")]
    assert blocks, "formatted plan did not parse into node blocks"
    for b in blocks:
        head = b.strip().splitlines()[0]
        if re.match(r"\(\d+\) BroadcastExchange", head):
            assert "rings#" not in b and "cand_polys#" not in b, head + b
        elif re.match(r"\(\d+\) Exchange", head):
            assert "bytes#" not in b, head + b


def test_drill_100k_polygons_no_driver_collect(spark):
    """Scale path: the drill must handle a 100k-polygon layer with rings
    delivered through the candidate join (``rings="join"``) — no
    driver-side collect() or whole-layer broadcast (the round-1 scale
    ceiling).  Driver memory is bounded by the footprint-candidate table,
    not the polygon count.  The cogrouped huge-layer path must produce
    the same result from a plan with NO rings broadcast at all."""
    from dea_conflux_spark import datagen as dg

    assert not hasattr(drill_op, "_prepared_polys")  # the collect path is gone
    big_grid = dg.GridSpec(G=8, T=1, w=32, h=32)
    big_polys = dg.make_polygons(big_grid, n_small=100_000, n_medium=0,
                                 n_huge=0)
    tiles = dg.tiles_df(spark, big_grid, big_polys)
    polygons = dg.polygons_df(spark, big_polys)
    res = drill_op.drill(tiles, polygons, get_plugin("sum_wet"), big_grid,
                         partial=False, rings="join")
    got_join = (res.toPandas().sort_values(["poly_id", "ts"])
                .reset_index(drop=True))
    n = len(got_join)
    # last-wins rasterisation over a dense overlapping layer: thousands of
    # polygons own pixels, bounded by the total pixel budget
    assert 0 < n <= big_grid.G ** 2 * 32 * 32

    # huge-layer plan shape (VERDICT r2 #1): the cogrouped path over a
    # bucketed tile layout broadcasts NO geometry and shuffles NO bytes —
    # and returns the identical drill result
    spark.sql("DROP TABLE IF EXISTS tiles_100k_bucketed")
    drill_op.write_tiles_bucketed(tiles, "tiles_100k_bucketed", n_buckets=8)
    bt = spark.table("tiles_100k_bucketed")
    cg = drill_op.drill_cogrouped(bt, polygons, get_plugin("sum_wet"),
                                  big_grid, partial=False)
    _assert_no_bytes_exchange_no_rings_broadcast(_fmt_plan(cg))
    got_cg = (cg.toPandas().sort_values(["poly_id", "ts"])
              .reset_index(drop=True))
    pd.testing.assert_frame_equal(got_cg, got_join)


def test_drill_cogrouped_matches_dim_modes(spark, tiles, polygons, grid):
    """The cogrouped execution path (derived keys, with and without time
    bucketing) is bit-identical to the pruned-dimension path."""
    plugin = get_plugin("waterbodies_c3")
    base = (drill_op.drill(tiles, polygons, plugin, grid, rings="dim")
            .toPandas().sort_values(["poly_id", "ts"])
            .reset_index(drop=True))
    for ntb in (1, 2):
        got = (drill_op.drill_cogrouped(tiles, polygons, plugin, grid,
                                        n_time_buckets=ntb)
               .toPandas().sort_values(["poly_id", "ts"])
               .reset_index(drop=True))
        pd.testing.assert_frame_equal(got, base)
    # the fully broadcast-free configuration (salted shuffle-hash cover
    # join feeding the cogroup — the plan a layer too large for ANY
    # broadcast runs) is bit-identical too
    got = (drill_op.drill_cogrouped(tiles, polygons, plugin, grid,
                                    broadcast_cover=False)
           .toPandas().sort_values(["poly_id", "ts"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, base)


def test_drill_cogrouped_bucketed_tiles_exchange_free(spark, tiles,
                                                      polygons, grid):
    """Over the bucketed (gx, gy, tb) tile layout the cogroup's tile side
    needs no Exchange at all: the only shuffles in the partials plan are
    geometry/metadata (footprint-candidate build + the candidate row
    stream), asserted by scanning every Exchange block for the bytes
    column; the partials themselves equal the default path's."""
    plugin = get_plugin("waterbodies_c3")
    spark.sql("DROP TABLE IF EXISTS tiles_cg_bucketed")
    drill_op.write_tiles_bucketed(tiles, "tiles_cg_bucketed", n_buckets=4)
    bt = spark.table("tiles_cg_bucketed")
    parts = drill_op.drill_partials_cogrouped(bt, polygons, plugin, grid)
    plan = _fmt_plan(parts)
    # round 6: the cogroup UDF moved to the Arrow API (zero-copy tile
    # stacks); the plan node is FlatMapCoGroupsInArrow now
    assert "FlatMapCoGroupsInArrow" in plan
    _assert_no_bytes_exchange_no_rings_broadcast(plan)
    got = (parts.toPandas()
           .sort_values(["poly_id", "image_id"]).reset_index(drop=True))
    exp = (drill_op.drill_partials(tiles, polygons, plugin, grid)
           .toPandas()
           .sort_values(["poly_id", "image_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def test_drill_cogrouped_stored_tb_layout_mismatch(spark, tiles, polygons,
                                                   grid):
    """A table written with write_tiles_bucketed(n_time_buckets=4) drilled
    with the default n_time_buckets=1 must still produce every row: the
    candidate replication range is derived from the STORED tb values, not
    from the call argument (a mismatch used to cogroup tiles with tb >= 1
    against an empty candidate side and silently drop them)."""
    plugin = get_plugin("waterbodies_c3")
    spark.sql("DROP TABLE IF EXISTS tiles_cg_tb4")
    drill_op.write_tiles_bucketed(tiles, "tiles_cg_tb4", n_buckets=4,
                                  n_time_buckets=4)
    bt = spark.table("tiles_cg_tb4")
    got = (drill_op.drill_cogrouped(bt, polygons, plugin, grid)  # ntb=1
           .toPandas().sort_values(["poly_id", "ts"])
           .reset_index(drop=True))
    exp = (drill_op.drill(tiles, polygons, plugin, grid, rings="dim")
           .toPandas().sort_values(["poly_id", "ts"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)


def test_rings_join_and_dim_modes_identical(spark, tiles, polygons, grid):
    """The two ring-delivery strategies (candidate-join payload vs pruned
    dimension broadcast) must produce bit-identical drill output."""
    plugin = get_plugin("waterbodies_c3")
    a = (drill_op.drill(tiles, polygons, plugin, grid, rings="join")
         .toPandas().sort_values(["poly_id", "ts"]).reset_index(drop=True))
    b = (drill_op.drill(tiles, polygons, plugin, grid, rings="dim")
         .toPandas().sort_values(["poly_id", "ts"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_mini_drill_fixture_matches_duckdb_oracle(spark):
    """The driver-gate mini fixture (convex polygons -> half-plane SQL)
    agrees with the engine drill row-for-row — the flagship semantics
    checked by a second, independent engine."""
    import duckdb

    from dea_conflux_spark import minidrill

    got = (minidrill.mini_drill(spark, "")
           .toPandas().sort_values(["poly_id", "ts"])
           .reset_index(drop=True))
    exp = (duckdb.connect().execute(minidrill.mini_drill_oracle_sql()).df()
           .sort_values(["poly_id", "ts"]).reset_index(drop=True))
    assert len(got) == 10  # 5 fixture polygons x 2 timesteps
    pd.testing.assert_frame_equal(
        got.astype({"ts": "datetime64[ns]"}),
        exp.astype({"ts": "datetime64[ns]"}))


def test_edge_flags_follow_each_timestep_extent(spark, grid, polys,
                                                tiles_pdf, polygons):
    """Timestep 1 lacks its last column of tiles, so the drill sees two
    distinct extents: every (poly_id, ts) row carries the flags of its
    own timestep's extent, identically on the dim, join and cogrouped
    paths; the default (dim) plan holds no Python pass besides the
    partials (the flag tables are local relations)."""
    from dea_conflux_spark import datagen
    from dea_conflux_spark.config import EPOCH
    from dea_conflux_spark.core import geom

    cut = {datagen.image_id(1, grid.G - 1, gy) for gy in range(grid.G)}
    tiles = spark.createDataFrame(tiles_pdf[~tiles_pdf["image_id"].isin(cut)],
                                  schema=datagen.TILE_SCHEMA)
    plugin = get_plugin("waterbodies_c3")
    runs = [drill_op.drill(tiles, polygons, plugin, grid, rings="dim"),
            drill_op.drill(tiles, polygons, plugin, grid, rings="join"),
            drill_op.drill_cogrouped(tiles, polygons, plugin, grid)]
    assert "MapInPandas" not in _fmt_plan(runs[0])
    got = [r.toPandas().sort_values(["poly_id", "ts"]).reset_index(drop=True)
           for r in runs]
    for g in got[1:]:
        pd.testing.assert_frame_equal(g, got[0])

    full = grid.extent
    short = (full[0], full[1], full[2] - grid.tile_span_x, full[3])
    day1 = pd.Timestamp(EPOCH) + pd.Timedelta(days=1)
    rings = {p["poly_id"]: p["rings"] for p in polys}
    seen: dict = {}
    for r in got[0].itertuples():
        ext = short if pd.Timestamp(r.ts) == day1 else full
        d = geom.edge_directions(rings[r.poly_id], *ext)
        want = (d["North"], d["South"], d["East"], d["West"])
        assert tuple(bool(getattr(r, c)) for c in drill_op.FLAG_COLS) \
            == want, (r.poly_id, r.ts)
        seen.setdefault(r.poly_id, set()).add(want)
    assert any(len(v) > 1 for v in seen.values()), \
        "no polygon's flags differ between the two extents"


@pytest.mark.parametrize("partial", [True, False])
@pytest.mark.parametrize("empty", ["tiles", "polygons"])
def test_drill_empty_input(tiles, polygons, grid, empty, partial):
    """An empty tile set or polygon layer drills to no rows, with the
    output schema of a non-empty drill."""
    plugin = get_plugin("waterbodies_c3")
    ref = drill_op.drill(tiles, polygons, plugin, grid, partial=partial)
    if empty == "tiles":
        tiles = tiles.limit(0)
    else:
        polygons = polygons.limit(0)
    got = drill_op.drill(tiles, polygons, plugin, grid, partial=partial)
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in ref.schema]


@pytest.mark.parametrize("rings", ["dim", "join"])
def test_drill_result_independent_of_tile_order(tiles, polygons, grid, polys,
                                                tiles_pdf, c3_result, rings):
    """Nothing sorts the tiles before the drill UDF, so a time-major and a
    shuffled tile order (interleaved footprints inside each Arrow batch)
    must drill to the default-order result — exactly, for the integer
    counts of waterbodies_c3 — and to the oracle."""
    from pyspark.sql import functions as F

    orders = {"time-major": tiles.orderBy("image_id"),
              "shuffled": tiles.orderBy(F.rand(7)).repartition(3)}
    c3 = get_plugin("waterbodies_c3")
    sum_wet = get_plugin("sum_wet")
    base = c3_result.sort_values(["poly_id", "ts"]).reset_index(drop=True)
    exp_c3 = oracle.oracle_drill(grid, polys, tiles_pdf, c3, partial=True)
    exp_sw = oracle.oracle_drill(grid, polys, tiles_pdf, sum_wet,
                                 partial=False)
    for name, t in orders.items():
        got = (drill_op.drill(t, polygons, c3, grid, rings=rings)
               .toPandas().sort_values(["poly_id", "ts"])
               .reset_index(drop=True))
        pd.testing.assert_frame_equal(got, base, obj=name)
        _compare(got, exp_c3, ["px_wet", "pc_wet", "pc_missing"])
        got = drill_op.drill(t, polygons, sum_wet, grid, rings=rings,
                             partial=False).toPandas()
        assert len(got) == len(exp_sw) > 0
        _compare(got, exp_sw, ["water"])


@pytest.fixture(scope="module")
def dct_tiles_pdf(tiles_pdf):
    """The conftest tiles re-encoded with the lossy ``dct`` codec: no
    plugin stacks ``dct`` payloads, so every row is decoded and drilled
    alone."""
    from dea_conflux_spark.core import codec

    out = tiles_pdf.copy()
    out["bytes"] = [codec.encode(codec.decode(b, int(h), int(w), "raw"),
                                 "dct")
                    for b, h, w in zip(out["bytes"], out["h"], out["w"])]
    out["fmt"] = "dct"
    return out


@pytest.mark.parametrize("name, metrics", [
    ("waterbodies_c3", ["px_wet", "pc_wet", "pc_missing"]),
    ("sum_wet", ["water"])])
def test_dct_tiles_match_oracle(spark, polygons, grid, polys, dct_tiles_pdf,
                                name, metrics):
    """A drill of ``dct`` tiles (the per-tile decode path, on rows that
    decode cleanly) reproduces the oracle on the same decoded pixels."""
    from dea_conflux_spark import datagen

    plugin = get_plugin(name)
    assert plugin.stack_nbytes("dct", grid.h, grid.w) is None
    tiles = spark.createDataFrame(dct_tiles_pdf, schema=datagen.TILE_SCHEMA)
    got = drill_op.drill(tiles, polygons, plugin, grid,
                         partial=False).toPandas()
    exp = oracle.oracle_drill(grid, polys, dct_tiles_pdf, plugin,
                              partial=False)
    assert len(got) == len(exp) > 0
    _compare(got, exp, metrics)


def _tile_batch(rows, cands):
    """An Arrow batch shaped like the drill UDF's input: ``rows`` are
    (image_id, bytes, w, h, fmt, gx, gy) tuples; every row carries the
    id-only candidate list ``cands[(gx, gy)]``."""
    import pyarrow as pa

    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.binary()),
         pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.int32()),
         pa.array(cols[4], pa.string()), pa.array(cols[5], pa.int32()),
         pa.array(cols[6], pa.int32()),
         pa.array([cands[(r[5], r[6])] for r in rows],
                  pa.list_(pa.string()))],
        ["image_id", "bytes", "w", "h", "fmt", "gx", "gy", "cand_polys"])


def test_interleaved_batch_stacks_once_per_footprint(grid, polys, tiles_pdf):
    """A batch holding footprints A, B, A, B, A feeds the batch kernel
    once per footprint (T=3 and T=2), and its output equals the per-tile
    ``drill_one`` path (the same kernel at T=1) row for row."""
    from dea_conflux_spark import datagen
    from dea_conflux_spark.plugins.waterbodies import WaterbodiesC3

    stacks = []

    class Spy(WaterbodiesC3):
        def partials_grouped_raw_batch(self, raws2d, owner, scratch=None):
            stacks.append(raws2d.shape[0])
            return super().partials_grouped_raw_batch(raws2d, owner,
                                                      scratch=scratch)

    owned = oracle.oracle_assignments(grid, polys)
    (ax, ay), (bx, by) = list(dict.fromkeys(
        zip(owned["gx"], owned["gy"])))[:2]
    pdf = tiles_pdf.set_index("image_id")
    order = [(0, ax, ay), (0, bx, by), (1, ax, ay), (1, bx, by),
             (2, ax, ay)]
    rows = []
    for t, gx, gy in order:
        iid = datagen.image_id(t, gx, gy)
        r = pdf.loc[iid]
        rows.append((iid, r["bytes"], int(r["w"]), int(r["h"]), r["fmt"],
                     gx, gy))
    ids = [p["poly_id"] for p in polys]
    rb = _tile_batch(rows, {(ax, ay): ids, (bx, by): ids})
    rmap = {p["poly_id"]: (p["ordinal"], p["rings"]) for p in polys}

    plugin = Spy()
    out = drill_op._empty_out(plugin)
    drill_op._drill_rows_arrow(plugin, rb, _driller(plugin, grid, rmap), out)
    assert sorted(stacks) == [2, 3]

    ref = _driller(plugin, grid, rmap)
    want = drill_op._empty_out(plugin)
    for k, (iid, byts, w, h, fmt, gx, gy) in enumerate(rows):
        payload = rb.column(7)[k]
        cands = ref.cands_for(gx, gy, payload)
        owner, scratch = ref.owner_for(gx, gy, h, w, cands, payload)
        ref.drill_one(iid, int(iid[1:5]), byts, h, w, fmt, owner, scratch,
                      want)
    # the reference path reaches the kernel one tile at a time
    assert sorted(stacks) == [1, 1, 1, 1, 1, 2, 3]

    def frame(o):
        return (drill_op._flush_arrow(plugin, o).to_pandas()
                .sort_values(["image_id", "poly_id"])
                .reset_index(drop=True))

    got, exp = frame(out), frame(want)
    assert len(got) > 0 and set(got["image_id"]) == {r[0] for r in rows}
    pd.testing.assert_frame_equal(got, exp)


class _WitSpy:
    """A wit_ls9 whose batch kernel records each stack's depth, and a
    hook on ``_Driller.drill_one`` that records each per-tile image id."""

    def __init__(self, monkeypatch):
        from dea_conflux_spark.plugins.wit import WitLs9

        self.stacks, self.per_tile = [], []
        spy = self

        class Spy(WitLs9):
            def partials_grouped_raw_batch(self, raws2d, owner,
                                           scratch=None):
                spy.stacks.append(raws2d.shape[0])
                return super().partials_grouped_raw_batch(
                    raws2d, owner, scratch=scratch)

        drill_one = drill_op._Driller.drill_one

        def recording(driller, image_id, *args):
            spy.per_tile.append(image_id)
            return drill_one(driller, image_id, *args)

        monkeypatch.setattr(drill_op._Driller, "drill_one", recording)
        self.plugin = Spy()


def _wit_batch(grid, polys, order, cut=None):
    """(Arrow batch, rows) of WIT tiles at ``order`` = [(t, gx, gy)], each
    row listing every polygon as a candidate; ``cut`` = (row, n) drops
    the last n bytes of that row's payload."""
    from dea_conflux_spark import datagen

    preps = datagen.prepare_polys(polys)
    rows = []
    for k, (t, gx, gy) in enumerate(order):
        r = datagen.wit_tile_row(grid, t, gx, gy, preps)
        byts = r["bytes"]
        if cut is not None and cut[0] == k:
            byts = byts[:-cut[1]]
        rows.append((r["image_id"], byts, grid.w, grid.h, "multiraw", gx,
                     gy))
    ids = [p["poly_id"] for p in polys]
    return _tile_batch(rows, {(gx, gy): ids for _, gx, gy in order}), rows


def _two_footprints(grid, polys):
    owned = oracle.oracle_assignments(grid, polys)
    return list(dict.fromkeys(zip(owned["gx"], owned["gy"])))[:2]


def test_multiraw_batch_stacks_once_per_footprint(grid, polys,
                                                   monkeypatch):
    """A batch of WIT ``multiraw`` tiles holding footprints A, B, A, B, A
    reaches the WIT batch kernel once per footprint (T=3 and T=2) and
    never the per-tile path; its partials equal the per-tile path's, the
    counts exactly and the float sums within rtol 1e-12."""
    (ax, ay), (bx, by) = _two_footprints(grid, polys)
    rb, rows = _wit_batch(grid, polys, [(0, ax, ay), (0, bx, by),
                                        (1, ax, ay), (1, bx, by),
                                        (2, ax, ay)])
    rmap = {p["poly_id"]: (p["ordinal"], p["rings"]) for p in polys}
    spy = _WitSpy(monkeypatch)
    plugin = spy.plugin
    out = drill_op._empty_out(plugin)
    drill_op._drill_rows_arrow(plugin, rb, _driller(plugin, grid, rmap), out)
    assert sorted(spy.stacks) == [2, 3]
    assert spy.per_tile == []

    ref = _driller(plugin, grid, rmap)
    want = drill_op._empty_out(plugin)
    for k, (iid, byts, w, h, fmt, gx, gy) in enumerate(rows):
        payload = rb.column(7)[k]
        cands = ref.cands_for(gx, gy, payload)
        owner, scratch = ref.owner_for(gx, gy, h, w, cands, payload)
        ref.drill_one(iid, int(iid[1:5]), byts, h, w, fmt, owner, scratch,
                      want)

    def frame(o):
        return (drill_op._flush_arrow(plugin, o).to_pandas()
                .sort_values(["image_id", "poly_id"])
                .reset_index(drop=True))

    got, exp = frame(out), frame(want)
    assert len(got) > 0 and set(got["image_id"]) == {r[0] for r in rows}
    for name, typ in plugin.partial_fields:
        if typ == "long":
            assert (got[name] == exp[name]).all(), name
        else:
            np.testing.assert_allclose(got[name], exp[name], rtol=1e-12,
                                       err_msg=name)
    pd.testing.assert_frame_equal(got[["poly_id", "image_id", "ts"]],
                                  exp[["poly_id", "image_id", "ts"]])


def test_short_multiraw_payload_takes_per_tile_path(grid, polys,
                                                     monkeypatch):
    """One short payload in a WIT stack leaves the stack for the per-tile
    path, whose decode raises the error it raises on that tile alone; the
    rest of the stack still reaches the batch kernel."""
    (ax, ay), _ = _two_footprints(grid, polys)
    rb, rows = _wit_batch(grid, polys, [(0, ax, ay), (1, ax, ay),
                                        (2, ax, ay)], cut=(1, 100))
    rmap = {p["poly_id"]: (p["ordinal"], p["rings"]) for p in polys}
    plugin = get_plugin("wit_ls9")
    with pytest.raises(ValueError) as alone:
        plugin.decode(rows[1][1], grid.h, grid.w, "multiraw")

    spy = _WitSpy(monkeypatch)
    plugin = spy.plugin
    with pytest.raises(ValueError) as stacked:
        drill_op._drill_rows_arrow(plugin, rb, _driller(plugin, grid, rmap),
                                   drill_op._empty_out(plugin))
    assert str(stacked.value) == str(alone.value)
    assert spy.stacks == [2]
    assert spy.per_tile == [rows[1][0]]


def _driller(plugin, grid, rmap, budget=17 << 24):
    return drill_op._Driller(plugin, grid, rmap, budget)


def _cycle_builds(monkeypatch, budget):
    """Owner builds per footprint when one driller with ``budget`` meets
    81 footprints of 16x16 px cyclically for 3 rounds (a time-major
    split), in Arrow batches of 50 rows."""
    from collections import Counter

    from dea_conflux_spark import datagen
    from dea_conflux_spark.core import geom

    g = datagen.GridSpec(G=9, T=3, w=16, h=16)
    rmap, cands = {}, {}
    for gx in range(g.G):
        for gy in range(g.G):
            x0, y0 = g.tile_origin(gx, gy)
            x1, y1 = x0 + g.tile_span_x / 2, y0 + g.tile_span_y / 2
            pid = f"p{gx}_{gy}"
            rmap[pid] = (len(rmap), [[[x0, y0], [x1, y0], [x1, y1],
                                      [x0, y1]]])
            cands[(gx, gy)] = [pid]

    builds = Counter()
    contains_grid = geom.contains_grid

    def counting(prep, xs, ys):
        builds[(float(xs[0]), float(ys[0]))] += 1
        return contains_grid(prep, xs, ys)

    monkeypatch.setattr(geom, "contains_grid", counting)
    plugin = get_plugin("waterbodies_c3")
    driller = _driller(plugin, g, rmap, budget)
    raw = bytes(g.w * g.h)
    rows = [(datagen.image_id(t, gx, gy), raw, g.w, g.h, "raw", gx, gy)
            for t in range(g.T) for gx, gy in cands]
    out = drill_op._empty_out(plugin)
    for k in range(0, len(rows), 50):
        drill_op._drill_rows_arrow(plugin, _tile_batch(rows[k:k + 50], cands),
                                   driller, out)
    # every tile drilled: one output row per tile (one polygon each)
    assert sum(m[2] for m in out["_meta"]) == len(rows)
    return builds


def test_owner_built_once_per_footprint_per_task(monkeypatch):
    """A task that meets more than 64 footprints cyclically, for 3 rounds
    (a time-major split), builds each footprint's owner exactly once."""
    builds = _cycle_builds(monkeypatch, 17 << 24)
    assert len(builds) == 81 > 64
    assert set(builds.values()) == {1}


def test_owner_budget_follows_scan_split(spark, monkeypatch):
    """The owner cache holds 17 bytes per pixel of the session's scan
    split.  81 footprints of 256 px outgrow it at a 16 KiB split (64
    footprints), so the cycle rebuilds owners; at a 32 KiB split they fit
    and each owner is built once, whatever the number of rounds."""
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "16k")
        small = drill_op._owner_budget(spark)
        spark.conf.set(key, "32k")
        large = drill_op._owner_budget(spark)
    finally:
        spark.conf.set(key, saved)
    assert (small, large) == (17 << 14, 17 << 15)
    assert sum(_cycle_builds(monkeypatch, small).values()) > 81
    builds = _cycle_builds(monkeypatch, large)
    assert len(builds) == 81 and set(builds.values()) == {1}


def test_worker_driller_kept_per_drill(monkeypatch):
    """A Python worker keeps one drill's driller across tasks, replaces it
    when a task of another drill arrives, and never keeps a driller whose
    drill has no token."""
    monkeypatch.setattr(drill_op, "_WORKER", {})
    made = []

    def make():
        made.append(object())
        return made[-1]

    first = drill_op._worker_driller("a", make)
    assert drill_op._worker_driller("a", make) is first
    assert drill_op._worker_driller("b", make) is not first
    assert drill_op._worker_driller("a", make) is not first
    assert drill_op._worker_driller(None, make) is made[-1]
    assert drill_op._worker_driller(None, make) is made[-1]
    assert len(made) == 5 and list(drill_op._WORKER) == ["a"]
