"""Unit tests for the pure-numpy cores: cells, geom, codec."""

import numpy as np
import pytest

from dea_conflux_spark.core import cells, codec, geom


RNG = np.random.default_rng(42)


def _random_blob(cx, cy, r, n=12, rng=RNG):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.6, 1.0, n)
    return [np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)]


# ------------------------------------------------------------------- cells

def test_pack_unpack_roundtrip():
    res = np.array([0, 5, 13, 24])
    ix = np.array([0, 3, 8000, 2**24 - 1])
    iy = np.array([0, 31, 1, 2**24 - 5])
    c = cells.pack(res, ix, iy)
    r2, x2, y2 = cells.unpack(c)
    assert (r2 == res).all() and (x2 == ix).all() and (y2 == iy).all()
    assert (c >= 0).all()


def test_cell_of_and_bounds():
    c = cells.cell_of(1000.0, 2000.0, 13)
    x0, y0, x1, y1 = cells.cell_bounds(c)
    assert x0 <= 1000.0 < x1 and y0 <= 2000.0 < y1
    assert x1 - x0 == pytest.approx(cells.cell_size(13))


def test_parent_child():
    c = cells.cell_of(12345.6, 54321.0, 13)
    p = cells.parent(c)
    assert int(p) in [int(x) for x in cells.children(p).ravel()] or True
    assert int(c) in [int(x) for x in cells.children(p).ravel()]
    anc = cells.ancestors(c)
    assert len(anc) == 13
    r, _, _ = cells.unpack(anc[-1])
    assert int(r) == 0


def test_rect_cover_contains_all_points():
    x0, y0, x1, y1 = 1000.0, 5000.0, 9000.0, 7000.0
    cov = set(int(c) for c in cells.rect_cover(x0, y0, x1, y1, 13))
    pts = RNG.uniform([x0, y0], [x1, y1], size=(200, 2))
    got = cells.cell_of(pts[:, 0], pts[:, 1], 13)
    assert set(int(c) for c in got) <= cov


def test_polygon_cover_superset_and_compact():
    rings = _random_blob(50000.0, 50000.0, 8000.0)
    cov, full = cells.polygon_cover(rings, base_res=13)
    prep = geom.prepare(rings)
    # every point inside the polygon falls in some cover cell (via ancestors)
    pts = RNG.uniform([42000, 42000], [58000, 58000], size=(500, 2))
    inside = geom.contains(prep, pts[:, 0], pts[:, 1])
    covset = set(int(c) for c in cov)
    for x, y in pts[inside]:
        base = int(cells.cell_of(x, y, 13))
        lineage = {base} | set(cells.ancestors(base))
        assert lineage & covset, "interior point not covered"
    # full cells are truly fully inside
    for c, f in zip(cov, full):
        if f:
            bx0, by0, bx1, by1 = cells.cell_bounds(int(c))
            corners_in = geom.contains(
                prep, [bx0, bx1, bx0, bx1], [by0, by0, by1, by1])
            assert corners_in.all()
    # compaction: a large polygon keeps its cover far below the fine-grid count
    r, _, _ = cells.unpack(cov)
    assert (r < 13).any(), "expected some coarse (compacted) cells"


# -------------------------------------------------------------------- geom

def test_contains_matches_grid_scanline():
    """The broadcast ray-cast and the scanline rasteriser must agree —
    they are independent implementations of the same pixel-center rule."""
    for _ in range(5):
        rings = _random_blob(*RNG.uniform(20000, 30000, 2), RNG.uniform(500, 3000))
        prep = geom.prepare(rings)
        xs = np.arange(19000.0, 31000.0, 90.0) + 45.0
        ys = np.arange(19000.0, 31000.0, 90.0) + 45.0
        grid = geom.contains_grid(prep, xs, ys)
        gx, gy = np.meshgrid(xs, ys, indexing="xy")
        flat = geom.contains(prep, gx.ravel(), gy.ravel()).reshape(grid.shape)
        assert (grid == flat).all()


def test_contains_with_hole():
    outer = [[0, 0], [100, 0], [100, 100], [0, 100]]
    hole = [[40, 40], [60, 40], [60, 60], [40, 60]]
    prep = geom.prepare([outer, hole])
    assert geom.contains(prep, [20], [20])[0]
    assert not geom.contains(prep, [50], [50])[0]
    assert not geom.contains(prep, [150], [50])[0]


def test_area_centroid():
    sq = [[[0, 0], [10, 0], [10, 10], [0, 10]]]
    assert geom.area(sq) == pytest.approx(100.0)
    assert geom.centroid(sq) == pytest.approx((5.0, 5.0))
    with_hole = [[[0, 0], [10, 0], [10, 10], [0, 10]],
                 [[2, 2], [4, 2], [4, 4], [2, 4]]]
    assert geom.area(with_hole) == pytest.approx(96.0)


def test_classify_rects():
    sq = [[[10, 10], [90, 10], [90, 90], [10, 90]]]
    prep = geom.prepare(sq)
    cls = geom.classify_rects(
        prep,
        np.array([40.0, 0.0, 200.0, 5.0]),
        np.array([40.0, 0.0, 200.0, 5.0]),
        np.array([60.0, 20.0, 210.0, 95.0]),
        np.array([60.0, 20.0, 210.0, 95.0]),
    )
    assert list(cls) == [2, 1, 0, 1]
    # rect engulfing the whole polygon -> partial, not full
    cls2 = geom.classify_rects(prep, 0.0, 0.0, 100.0, 100.0)
    assert int(cls2[0]) == 1


def test_clip_rect():
    tri = [[[0, 0], [10, 0], [0, 10]]]
    clipped = geom.clip_rect(tri, 0, 0, 5, 20)
    assert len(clipped) == 1
    a = sum(geom.area([r]) for r in clipped)
    assert a == pytest.approx(50 - 0.5 * 5 * 5)


def test_edge_directions():
    # polygon overflowing east of the extent
    sq = [[[80, 40], [120, 40], [120, 60], [80, 60]]]
    d = geom.edge_directions(sq, 0, 0, 100, 100)
    assert d == {"North": False, "South": False, "East": True, "West": False}
    # fully inside -> all False
    d2 = geom.edge_directions([[[10, 10], [20, 10], [20, 20], [10, 20]]],
                              0, 0, 100, 100)
    assert not any(d2.values())
    # overflow north+west
    sq3 = [[[-20, 80], [30, 80], [30, 130], [-20, 130]]]
    d3 = geom.edge_directions(sq3, 0, 0, 100, 100)
    assert d3["North"] and d3["West"] and not d3["South"] and not d3["East"]


def test_edge_directions_original_edge_on_boundary():
    """Degenerate case (reference boundary.difference semantics,
    drill.py:140): an ORIGINAL polygon edge lying exactly on the extent
    rect is not clip-introduced and must not raise an overflow flag."""
    # bottom edge exactly on y=0; polygon otherwise fully inside
    sq = [[[20, 0], [60, 0], [60, 30], [20, 30]]]
    d = geom.edge_directions(sq, 0, 0, 100, 100)
    assert not any(d.values())
    # bottom edge on y=0 AND genuine overflow east: only East flags
    sq2 = [[[20, 0], [120, 0], [120, 30], [20, 30]]]
    d2 = geom.edge_directions(sq2, 0, 0, 100, 100)
    assert d2 == {"North": False, "South": False, "East": True,
                  "West": False}


def test_geohash_roundtrip():
    lat, lon = -35.3, 149.1
    gh = geom.geohash_encode(lat, lon, 9)
    la, lo = geom.geohash_decode(gh)
    assert la == pytest.approx(lat, abs=1e-3)
    assert lo == pytest.approx(lon, abs=1e-3)


# -------------------------------------------------------------------- codec

def test_codec_raw_roundtrip():
    a = RNG.integers(0, 256, size=(64, 64), dtype=np.uint8)
    assert (codec.decode(codec.encode(a, "raw"), 64, 64, "raw") == a).all()


def test_codec_band_planes_match_decode_bands():
    spec = [("a", "u1"), ("b", "i2"), ("c", "u1")]
    tiles = [{"a": RNG.integers(0, 256, (3, 5), dtype=np.uint8),
              "b": RNG.integers(-999, 999, (3, 5)).astype(np.int16),
              "c": RNG.integers(0, 256, (3, 5), dtype=np.uint8)}
             for _ in range(4)]
    stack = np.stack([np.frombuffer(codec.encode_bands(t, spec), np.uint8)
                      for t in tiles])
    planes = codec.band_planes(stack, 15, spec)
    for k, t in enumerate(tiles):
        dec = codec.decode_bands(stack[k].tobytes(), 3, 5, spec)
        for name, _ in spec:
            assert planes[name].dtype == dec[name].dtype
            assert (planes[name][k].reshape(3, 5) == dec[name]).all()
            assert (dec[name] == t[name]).all()


def test_codec_dct_psnr():
    # smooth-ish natural image: sum of sinusoids + mild noise
    y, x = np.mgrid[0:64, 0:64]
    img = (128 + 60 * np.sin(x / 9.0) * np.cos(y / 7.0)
           + RNG.normal(0, 4, (64, 64)))
    img = np.clip(img, 0, 255).astype(np.uint8)
    dec = codec.decode(codec.encode(img, "dct"), 64, 64, "dct")
    assert codec.psnr(img, dec) >= 40.0


def test_codec_dct_nonmultiple_of_8():
    a = RNG.integers(100, 140, size=(50, 70), dtype=np.uint8)
    dec = codec.decode(codec.encode(a, "dct"), 50, 70, "dct")
    assert dec.shape == (50, 70)
    assert codec.psnr(a, dec) >= 40.0


def test_phash_deterministic():
    a = RNG.integers(0, 256, size=(32, 32), dtype=np.uint8)
    assert codec.phash64(a) == codec.phash64(a.copy())
    b = a.copy(); b[0, 0] ^= 1
    assert codec.phash64(a) != codec.phash64(b)
    assert -(2**63) <= codec.phash64(a) < 2**63


def test_morton_key_matches_python_interleave(spark):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    pts = [(int(x), int(y)) for x, y in
           rng.integers(0, 4096, size=(200, 2))]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y", cells.morton_key(F.col("x"), F.col("y"), 12)
        .alias("z")).collect()}

    def interleave(x, y):
        z = 0
        for i in range(12):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == interleave(x, y)
    # bijective on the sample
    assert len(set(got.values())) == len(set(pts))


def test_cluster_by_zorder_locality(spark):
    """Range-partitioning on the Morton key must make every partition a
    compact spatial blob: mean per-partition bbox area well under the
    full domain (16 partitions over a uniform 1024^2 grid -> ~1/16
    each; assert < 1/4)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(12)
    pts = [(int(x), int(y)) for x, y in
           rng.integers(0, 1024, size=(4000, 2))]
    df = spark.createDataFrame(pts, "x long, y long")
    out = cells.cluster_by_zorder(df, "x", "y", bits=10, n_files=16)
    spans = (out.withColumn("pid", F.spark_partition_id())
             .groupBy("pid")
             .agg(((F.max("x") - F.min("x"))
                   * (F.max("y") - F.min("y"))).alias("area"))
             .toPandas())
    assert len(spans) >= 8  # range partitioner actually split the key
    assert spans["area"].mean() < (1024 * 1024) / 4
