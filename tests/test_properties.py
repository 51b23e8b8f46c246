"""Property-based tests (hypothesis) — the reference's only property test
fuzzes date serialisation round-trips (reference tests/test_io.py:62-67);
here the same style covers the cell index, codec, and geometry cores."""

import numpy as np
from hypothesis import given, settings, strategies as st

from dea_conflux_spark.config import WORLD
from dea_conflux_spark.core import cells, codec, geom


@given(res=st.integers(0, 24),
       fx=st.floats(0, 1, exclude_max=True),
       fy=st.floats(0, 1, exclude_max=True))
@settings(max_examples=200, deadline=None)
def test_cell_pack_roundtrip(res, fx, fy):
    n = 1 << res
    ix, iy = int(fx * n), int(fy * n)
    c = cells.pack(res, ix, iy)
    r2, x2, y2 = cells.unpack(c)
    assert (int(r2), int(x2), int(y2)) == (res, ix, iy)
    assert int(c) >= 0


@given(x=st.floats(0, WORLD, exclude_max=True),
       y=st.floats(0, WORLD, exclude_max=True),
       res=st.integers(1, 20))
@settings(max_examples=200, deadline=None)
def test_cell_of_within_bounds_and_parent_contains(x, y, res):
    c = cells.cell_of(x, y, res)
    x0, y0, x1, y1 = cells.cell_bounds(c)
    assert x0 <= x < x1 and y0 <= y < y1
    p = cells.parent(c)
    px0, py0, px1, py1 = cells.cell_bounds(p)
    assert px0 <= x0 and px1 >= x1 and py0 <= y0 and py1 >= y1
    assert int(c) in [int(k) for k in cells.children(p).ravel()]


@given(data=st.binary(min_size=64, max_size=64))
@settings(max_examples=100, deadline=None)
def test_codec_raw_roundtrip_any_bytes(data):
    arr = np.frombuffer(data, dtype=np.uint8).reshape(8, 8)
    assert codec.decode(codec.encode(arr, "raw"), 8, 8, "raw").tobytes() == data


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_codec_dct_psnr_property(seed):
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:32, 0:32]
    img = np.clip(128 + 70 * np.sin(x / rng.uniform(3, 15))
                  * np.cos(y / rng.uniform(3, 15))
                  + rng.normal(0, 3, (32, 32)), 0, 255).astype(np.uint8)
    dec = codec.decode(codec.encode(img, "dct"), 32, 32, "dct")
    assert codec.psnr(img, dec) >= 40.0


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=30, deadline=None)
def test_pip_agrees_across_implementations(seed):
    """Broadcast ray-cast and scanline rasteriser agree on random polygons
    and random probe points."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 20))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(0.2, 1.0, n)
    ring = np.stack([50 + 40 * rad * np.cos(ang),
                     50 + 40 * rad * np.sin(ang)], axis=1)
    prep = geom.prepare([ring])
    xs = np.linspace(0, 100, 23) + 0.137
    ys = np.linspace(0, 100, 19) + 0.731
    grid = geom.contains_grid(prep, xs, ys)
    gx, gy = np.meshgrid(xs, ys, indexing="xy")
    flat = geom.contains(prep, gx.ravel(), gy.ravel()).reshape(grid.shape)
    assert (grid == flat).all()


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=20, deadline=None)
def test_polygon_cover_is_superset(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 16))
    cx, cy = rng.uniform(10000, 100000, 2)
    r = rng.uniform(100, 5000)
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    ring = np.stack([cx + r * rng.uniform(0.5, 1, n) * np.cos(ang),
                     cy + r * rng.uniform(0.5, 1, n) * np.sin(ang)], axis=1)
    cov, full = cells.polygon_cover([ring], base_res=13)
    covset = set(int(c) for c in cov)
    prep = geom.prepare([ring])
    pts = rng.uniform([cx - r, cy - r], [cx + r, cy + r], size=(100, 2))
    inside = geom.contains(prep, pts[:, 0], pts[:, 1])
    for x, y in pts[inside]:
        base = int(cells.cell_of(x, y, 13))
        assert ({base} | set(cells.ancestors(base))) & covset


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_plugin_raw_path_identical_to_generic(seed):
    """The batch kernel over a random (T, h*w) stack of raw tiles (the
    drill's one kernel: owner-sorted gather + per-slice counts) must be
    bit-identical, row by row, to transform() + partials_grouped() for
    arbitrary tiles and owner rasters — the invariant every drill-UDF
    optimisation round leans on."""
    from dea_conflux_spark.plugins import get_plugin

    rng = np.random.default_rng(seed)
    h = w = int(rng.integers(4, 48))
    raws2d = rng.integers(0, 256, (int(rng.integers(1, 5)), h * w),
                          dtype=np.uint8)
    n_cands = int(rng.integers(1, 12))
    owner = rng.integers(-1, n_cands, (h, w)).astype(np.int32)
    ords = list(range(n_cands))
    # full-coverage single-owner raster: exercises the gather-free
    # full-tile path (huge-polygon interiors)
    owner_full = np.full((h, w), int(rng.integers(0, n_cands)),
                         dtype=np.int32)
    for name in ("waterbodies_c3", "sum_wet", "ga_ls_wo_3_flags",
                 "wofs_albers_flags"):
        plugin = get_plugin(name)
        assert plugin.stack_nbytes("raw", h, w) == h * w
        for ow in (owner, owner_full):
            ords_out, *fields = plugin.partials_grouped_raw_batch(
                raws2d, ow, scratch={})
            assert not ords_out or (len(fields)
                                    == len(plugin.partial_fields))
            for t, raw in enumerate(raws2d):
                got = {o: tuple(int(f[t][k]) for f in fields)
                       for k, o in enumerate(ords_out)}
                exp = plugin.partials_grouped(
                    plugin.transform(raw.reshape(h, w)), ow, ords)
                assert got == exp, (name, t, got, exp)
