"""Round-6 focused unit tests for the vectorised hot-path kernels.

The optimization round replaced per-row/per-element computations with
batched numpy/Arrow kernels whose contract is BIT-IDENTITY with the
per-row formulations; these tests exercise that contract directly
(random inputs, edge configurations), independent of the end-to-end
golden/oracle tests that also cover them.
"""

import numpy as np
import pytest

from dea_conflux_spark.plugins import REGISTRY, get_plugin


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(7)


def _random_owner(rng, h, w, n_cands, lo=0):
    """Owner rasters covering the interesting configurations: sparse,
    dense multi-owner, and single-owner-full-tile."""
    owner = rng.integers(-1, n_cands, size=(h, w)).astype(np.int32)
    owner[owner >= 0] += lo
    return owner


class TestWaterbodiesBatchKernel:
    """partials_grouped_raw_batch(T-stack) must equal transform() +
    partials_grouped() applied per row, count for count."""

    def _check(self, raws2d, owner, h, w):
        plugin = get_plugin("waterbodies_c3")
        ords = sorted({int(o) for o in np.unique(owner) if o >= 0})
        res = plugin.partials_grouped_raw_batch(raws2d, owner, scratch={})
        assert res is not None
        ords_out = res[0]
        per_row = [plugin.partials_grouped(
            plugin.transform(raws2d[t].reshape(h, w)), owner, ords)
            for t in range(raws2d.shape[0])]
        if not ords_out:
            assert all(not g for g in per_row)
            return
        n_px, n_missing, n_wet = res[1], res[2], res[3]
        for t, grouped in enumerate(per_row):
            assert sorted(grouped) == sorted(ords_out)
            for k, o in enumerate(ords_out):
                assert grouped[o] == (int(n_px[t][k]),
                                      int(n_missing[t][k]),
                                      int(n_wet[t][k])), (t, o)

    def test_multi_owner_stack(self, rng):
        h = w = 32
        owner = _random_owner(rng, h, w, n_cands=5, lo=3)
        raws = rng.integers(0, 256, size=(7, h * w)).astype(np.uint8)
        # plant exact wet (128) and clear-dry (0) runs so both counters
        # are non-trivial
        raws[:, : h * w // 3] = 128
        raws[:, h * w // 3: h * w // 2] = 0
        self._check(raws, owner, h, w)

    def test_single_owner_full_tile_fast_path(self, rng):
        h = w = 16
        owner = np.full((h, w), 2, dtype=np.int32)
        raws = rng.integers(0, 256, size=(4, h * w)).astype(np.uint8)
        self._check(raws, owner, h, w)

    def test_no_assigned_pixels(self, rng):
        h = w = 8
        owner = np.full((h, w), -1, dtype=np.int32)
        raws = rng.integers(0, 256, size=(3, h * w)).astype(np.uint8)
        plugin = get_plugin("waterbodies_c3")
        res = plugin.partials_grouped_raw_batch(raws, owner, scratch={})
        assert res == ([],)

    def test_single_row_stack(self, rng):
        h = w = 16
        owner = _random_owner(rng, h, w, n_cands=3)
        raws = rng.integers(0, 256, size=(1, h * w)).astype(np.uint8)
        self._check(raws, owner, h, w)


WIT_PLUGINS = ["wit_ls9", "wit_ls8", "wit_ls7", "wit_ls5"]


class TestWitBatchKernel:
    """The WIT time-stack kernel over a (T, 16*h*w) multiraw stack must
    equal ``transform`` + ``partials_grouped`` applied per row: every
    count exactly, the float sums within rtol 1e-12 (they are exact
    integer sums / 100, not sums of per-pixel x / 100)."""

    def _stack(self, rng, T, h, w):
        from dea_conflux_spark.core import codec
        from dea_conflux_spark.plugins.wit import WIT_BANDS

        rows = []
        for _ in range(T):
            water = rng.integers(0, 256, (h, w), dtype=np.uint8)
            # most pixels clear (mask bits off), half of them open water
            water[rng.random((h, w)) < 0.8] &= 0b10011100
            bands = {"water": water}
            for name, dt in WIT_BANDS:
                if dt == "i2":  # straddles the TCW threshold of -350
                    bands[name] = rng.normal(600.0, 350.0,
                                             (h, w)).astype(np.int16)
            for name in ("bs", "pv", "npv"):
                bands[name] = rng.integers(0, 121, (h, w), dtype=np.uint8)
            rows.append(np.frombuffer(codec.encode_bands(bands, WIT_BANDS),
                                      np.uint8))
        return np.stack(rows)

    def _check(self, name, raws2d, owner):
        plugin = get_plugin(name)
        h, w = owner.shape
        assert plugin.stack_nbytes("multiraw", h, w) == raws2d.shape[1]
        res = plugin.partials_grouped_raw_batch(raws2d, owner, scratch={})
        assert res is not None
        ords_out = list(res[0])
        ords = sorted({int(o) for o in np.unique(owner) if o >= 0})
        assert ords_out == ords
        for t in range(raws2d.shape[0]):
            raw = plugin.decode(raws2d[t].tobytes(), h, w, "multiraw")
            want = plugin.partials_grouped(plugin.transform(raw), owner,
                                           ords, scratch={})
            assert list(want) == ords_out
            for k, o in enumerate(ords_out):
                got = [a[t][k] for a in res[1:]]
                for (field, typ), g, e in zip(plugin.partial_fields, got,
                                              want[o]):
                    if typ == "long" or field in ("sum_wet", "sum_water"):
                        assert g == e, (t, o, field)
                    else:
                        np.testing.assert_allclose(
                            g, e, rtol=1e-12, atol=0, err_msg=field)
        return res

    @pytest.mark.parametrize("name", WIT_PLUGINS)
    def test_multi_owner_stack(self, rng, name):
        # 24 tiles of ~3.6k gathered px span more than one kernel chunk
        h = w = 64
        owner = _random_owner(rng, h, w, n_cands=7, lo=2)
        res = self._check(name, self._stack(rng, 24, h, w), owner)
        assert len(res[0]) == 7
        assert res[3].sum() > 0 and res[6].sum() > 0  # sum_pv, sum_wet

    @pytest.mark.parametrize("name", WIT_PLUGINS)
    def test_single_owner_full_tile(self, rng, name):
        h = w = 16
        owner = np.full((h, w), 4, dtype=np.int32)
        res = self._check(name, self._stack(rng, 5, h, w), owner)
        assert list(res[0]) == [4]
        assert (np.asarray(res[1]) == h * w).all()

    @pytest.mark.parametrize("name", WIT_PLUGINS)
    def test_no_assigned_pixels(self, rng, name):
        h = w = 8
        owner = np.full((h, w), -1, dtype=np.int32)
        plugin = get_plugin(name)
        res = plugin.partials_grouped_raw_batch(self._stack(rng, 3, h, w),
                                                owner, scratch={})
        assert res == ([],)

    @pytest.mark.parametrize("name", WIT_PLUGINS)
    def test_single_row_stack(self, rng, name):
        h = w = 16
        owner = _random_owner(rng, h, w, n_cands=3)
        self._check(name, self._stack(rng, 1, h, w), owner)

    def test_declares_multiraw_only(self):
        plugin = get_plugin("wit_ls9")
        assert plugin.stack_nbytes("multiraw", 4, 8) == 16 * 4 * 8
        assert plugin.stack_nbytes("raw", 4, 8) is None


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_every_plugin_kernel_takes_its_declared_stack(rng, name):
    """Every registered plugin drills through its batch kernel: it
    declares a stored format and returns one (T, n_ords) array per
    partial field for a stack of that format."""
    plugin = REGISTRY[name]
    h, w = 8, 16
    nbs = {f: plugin.stack_nbytes(f, h, w) for f in ("raw", "multiraw")}
    nb = next(n for n in nbs.values() if n is not None)
    owner = _random_owner(rng, h, w, n_cands=3)
    raws2d = rng.integers(0, 256, (2, nb)).astype(np.uint8)
    ords_out, *fields = plugin.partials_grouped_raw_batch(raws2d, owner,
                                                          scratch={})
    assert list(ords_out) == sorted(set(owner[owner >= 0].tolist()))
    assert len(fields) == len(plugin.partial_fields)
    assert all(np.shape(f) == (2, len(ords_out)) for f in fields)


class TestAssignNearestBitExact:
    """The Arrow nearest-centroid assignment must reproduce the
    higher-order-function expressions' sequential IEEE fold bit for bit
    (same dot/distance doubles, same argmin/argmax tie-break)."""

    def _hof_reference(self, X, cents, metric):
        """Pure-python sequential fold — the exact op order of
        aggregate(zip_with(...)) in the round-5 expressions."""
        out_cid, out_score = [], []
        order = sorted(cents)
        for x in X:
            best = None
            for cid, cv in order:
                acc = 0.0
                if metric == "cosine":
                    nv = 0.0
                    nc = 0.0
                    for a, b in zip(x, cv):
                        acc = acc + a * b
                    for a in x:
                        nv = nv + a * a
                    for b in cv:
                        nc = nc + b * b
                    score = acc / ((nv ** 0.5) * (nc ** 0.5))
                    key = (-score, cid)
                else:
                    for a, b in zip(x, cv):
                        acc = acc + (a - b) * (a - b)
                    score = acc
                    key = (score, cid)
                if best is None or key < best[0]:
                    best = (key, cid, score)
            out_cid.append(best[1])
            out_score.append(best[2])
        return out_cid, out_score

    @pytest.mark.parametrize("metric", ["cosine", "sqeuclidean"])
    def test_bit_exact_vs_sequential_fold(self, spark, rng, metric):
        from dea_conflux_spark.operators.similarity import _assign_nearest

        n, dim, k = 64, 16, 5
        X = rng.normal(size=(n, dim))
        cents = [(int(i * 3 + 1), list(rng.normal(size=dim)))
                 for i in range(k)]
        pdf = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
        e = spark.createDataFrame(pdf, "vec_id long, v array<double>")
        got = _assign_nearest(e, cents, metric=metric,
                              with_dist=(metric == "sqeuclidean"))
        rows = {r["vec_id"]: r for r in got.collect()}
        exp_cid, exp_score = self._hof_reference(X, cents, metric)
        for i in range(n):
            assert rows[i]["cid"] == exp_cid[i], i
            if metric == "sqeuclidean":
                # bit-exact: the double must be IDENTICAL, not close
                assert rows[i]["dist"] == exp_score[i], i
