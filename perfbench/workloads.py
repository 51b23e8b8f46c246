"""The four benchmark workloads.

Each workload exposes the same life cycle, driven by ``run.py``:

* ``prepare(seed)``  — generate or load its seeded inputs (not timed);
* ``setup(spark, repeats)`` — the program's untimed work before the
  timed loop (tile-cache fill and, for the steady drills, drill
  construction = layer prep), repeated; returns one duration per repeat;
* ``unit()`` — one timed unit of work; returns ``(seconds, steps, ops,
  failures)``: the unit's named sub-step durations, the number of
  checked operations in it and the reasons of those that failed their
  output check.

They call the package only through its public functions.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time

import numpy as np

from inputs import DATA_DIR, DocsInput, DocsSize, DrillInput, DrillSize

# 128 x 128 px tiles, as the reference bench: per-pixel work (scan,
# Arrow feed, stacked kernel) has to outweigh the drill's per-call costs
# (the per-extent edge-flag pass, ~1 s whatever the size) and its
# per-(polygon, timestep) costs (final aggregate, edge-flag attach and
# collect), so the layer is sparse: ~0.13 small polygons per km2 over a
# 61 km square, plus 5 huge polygons that skew the work
FLAGSHIP = DrillSize("waterbodies_c3", G=16, w=128, t_stored=2, rep=96,
                     n_small=500, n_medium=5, n_huge=5)
# 10-band tiles: decode_bands and the per-tile path carry about half
# the drill
WIT = DrillSize("wit_ls9", G=8, w=64, t_stored=2, rep=32,
                n_small=300, n_medium=3, n_huge=2)
NRT_BATCHES = 2  # no more than any DrillSize.t_stored
DOCS = DocsSize(n_docs=2000, n_groups=60, vocab=3000, rep=2)
# WIT tiles for the per-tile kernel and codec probes of the traced run
# when the workload's own tiles are single-band
WIT_SAMPLE = DrillSize("wit_ls9", G=4, w=64, t_stored=2, rep=1,
                       n_small=40, n_medium=1, n_huge=1, files=1)

# smoke-test sizes (selfcheck.py): every code path, seconds not minutes
TINY = {
    "flagship": DrillSize("waterbodies_c3", G=8, w=16, t_stored=2, rep=2,
                          n_small=40, n_medium=2, n_huge=1, files=2),
    "wit": DrillSize("wit_ls9", G=8, w=16, t_stored=2, rep=2,
                     n_small=40, n_medium=2, n_huge=1, files=2),
    "docs": DocsSize(n_docs=300, n_groups=8, vocab=400, rep=2, files=2),
}

DOC_LEAVES = ("docs_exact_dedup", "docs_minhash_lsh_pairs",
              "docs_ngram_jaccard_pairs", "docs_neardup_components",
              "doc_tfidf_top_terms", "doc_bm25_topk")

# float tolerance of the oracle comparison: the engine sums partials in
# another order than the oracle's single whole-bag reduction
RTOL, ATOL = 1e-9, 1e-12
_DAY_US = 86_400_000_000


def _day_index(ts) -> np.ndarray:
    """Timestamps -> whole days since the synthetic EPOCH."""
    from dea_conflux_spark.config import EPOCH

    v = ts.to_numpy(dtype="datetime64[us]") if hasattr(ts, "to_numpy") \
        else np.asarray(ts, dtype="datetime64[us]")
    return ((v - np.datetime64(EPOCH, "us")).astype(np.int64)
            // _DAY_US)


def _by_day(table):
    """Arrow table -> pandas with a ``day`` column, sorted by (day,
    poly_id) — the order the checks compare in."""
    pdf = table.to_pandas()
    pdf["day"] = _day_index(pdf["ts"])
    return pdf.sort_values(["day", "poly_id"]).reset_index(drop=True)


def _frames_equal(got, want, cols) -> str:
    """'' when equal column by column (floats within RTOL/ATOL, NaN ==
    NaN), else a one-line reason."""
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.allclose(a.astype(float), b.astype(float), rtol=RTOL,
                               atol=ATOL, equal_nan=True):
                return f"column {c} differs"
        elif not np.array_equal(a, b):
            return f"column {c} differs"
    return ""


class DrillCheck:
    """Checks a drill output against the oracle of the stored timesteps:
    the output holds exactly ``rep`` copies of every oracle row, and
    copy k of a row (timestep ts + k * t_stored) equals its stored step."""

    def __init__(self, inp: DrillInput, rep: int, n_steps: int | None = None):
        exp = inp.oracle()
        t = inp.size.t_stored
        exp["stored"] = _day_index(exp["ts"])
        self.metric_cols = [c for c in exp.columns
                            if c not in ("poly_id", "ts", "stored")]
        self.t_stored = t
        # (copy k, stored step) -> the expected rows, ordered like the
        # sorted output
        days = np.arange(rep * t) if n_steps is None else np.arange(n_steps)
        parts = []
        for d in days:
            e = exp[exp["stored"] == d % t].copy()
            e["day"] = d
            parts.append(e)
        import pandas as pd

        self.want = (pd.concat(parts).sort_values(["day", "poly_id"])
                     .reset_index(drop=True))

    def check(self, table, flags: bool = True) -> str:
        if table.num_rows != len(self.want):
            return f"{table.num_rows} rows, expected {len(self.want)}"
        got = _by_day(table)
        cols = ["day", "poly_id"] + [
            c for c in self.metric_cols
            if flags or not c.startswith("conflux_")]
        return _frames_equal(got, self.want, cols)


class _DrillBase:
    """Shared drill plumbing: the cached stored tiles, their JVM-side
    replication and the metadata-only placement source."""

    def __init__(self, size: DrillSize, fault: bool = False):
        self.size = size
        self.fault = fault
        self.base = self.spark = None

    def prepare(self, seed: int) -> float:
        self.inp = DrillInput(seed, self.size).ensure()
        return self.inp.gen_s

    def _fill_cache(self, spark) -> None:
        """Tile cache fill: only the stored tiles are cached; replication
        is JVM expressions applied per scan (as ``bench.run_drill``)."""
        import bench
        from dea_conflux_spark import datagen
        from dea_conflux_spark.operators.tilecells import tile_meta

        s = self.size
        if self.base is not None and self.spark is spark:
            self.base.unpersist(blocking=True)
        self.spark = spark
        self.base = spark.read.parquet(self.inp.tiles_path).cache()
        self.base.count()
        self.tiles = bench._replicate(self.base, s.rep, s.t_stored)
        self.meta = tile_meta(bench._replicate(
            spark.read.parquet(self.inp.tiles_path).select("image_id"),
            s.rep, s.t_stored), self.inp.grid)
        self.polygons = datagen.polygons_df(spark, self.inp.polys)

    @property
    def plugin(self):
        from dea_conflux_spark.plugins import get_plugin

        return get_plugin(self.size.plugin)

    @property
    def bytes_per_tile(self) -> int:
        """Payload bytes of one tile (computed from the band layout)."""
        from dea_conflux_spark.plugins.wit import WIT_BANDS

        px = self.size.w * self.size.w
        if self.size.plugin == "wit_ls9":
            return px * sum(np.dtype(dt).itemsize for _, dt in WIT_BANDS)
        return px


class SteadyDrill(_DrillBase):
    """``drill(partial=True)`` timed in steady mode: layer prep (cover,
    footprint candidates, dimension broadcast) runs at construction and
    belongs to set-up; one timed unit is one drill action collected to
    the driver as Arrow."""

    min_units = 3
    n_tiles_override = None  # set by NrtBatches.batch_drill

    @property
    def warmup_s(self) -> float:
        """The first three flagship units of a session run about a
        quarter slower than the later ones (two WIT units)."""
        return 15.0 if self.size.plugin == "waterbodies_c3" else 8.0

    def setup(self, spark, repeats: int) -> list:
        times = []
        for _ in range(repeats):
            t0 = time.monotonic()
            self._fill_cache(spark)
            self.result = self._build()
            times.append(time.monotonic() - t0)
        self.checker = DrillCheck(self.inp, self.size.rep)
        return times

    def _build(self):
        from dea_conflux_spark.operators import drill as drill_op

        if not self.fault:
            return drill_op.drill(self.tiles, self.polygons, self.plugin,
                                  self.inp.grid, partial=True, meta=self.meta)
        # planted wrong output for the self-check: one partial row dropped
        from pyspark.sql import functions as F

        parts = drill_op.drill_partials(self.tiles, self.polygons,
                                        self.plugin, self.inp.grid,
                                        meta=self.meta)
        victim = parts.select("poly_id", "image_id").first()
        parts = parts.filter(~((F.col("poly_id") == victim["poly_id"])
                               & (F.col("image_id") == victim["image_id"])))
        res = parts.groupBy("poly_id", "ts").agg(*self.plugin.final_aggs())
        from dea_conflux_spark.operators.tilecells import extents_by_ts

        return drill_op.attach_edge_flags(res, self.polygons,
                                          extents_by_ts(self.meta))

    @property
    def n_items(self) -> int:
        return self.n_tiles_override or self.size.n_tiles

    def action(self):
        """One drill action on a fresh plan (a repeated action on the same
        DataFrame would reuse its shuffle files and skip stages)."""
        return self.result.select("*").toArrow()

    def unit(self):
        t0 = time.monotonic()
        table = self.action()
        dt = time.monotonic() - t0
        why = self.checker.check(table)
        return dt, [("drill", dt)], 1, [why] if why else []


class NrtBatches(_DrillBase):
    """Near-real-time write path: the flagship layer and tiles landing one
    timestep (G*G tiles) per batch through ``ledger.run_drill_resumable``
    for ``NRT_BATCHES`` batches, then ``finalize_drill``.  Each batch sees
    every tile landed so far, so the ledger anti-join does real work, and
    pays again for layer prep and the partials, lineage and ledger
    writes.  The output must equal a one-shot ``drill(partial=False)``."""

    min_units = 1
    warmup_s = 0.0  # the reference drill warms the workers

    def __init__(self, size: DrillSize):
        super().__init__(size)
        self.n_unit = 0
        # optional name -> context manager around each batch and the
        # finalize (the traced run's ledger spans)
        self.step_ctx = None
        self.last_written = (0, 0)

    def setup(self, spark, repeats: int) -> list:
        times = []
        for _ in range(repeats):
            t0 = time.monotonic()
            self._fill_cache(spark)
            times.append(time.monotonic() - t0)
        self.landed = [self._landed(k) for k in range(NRT_BATCHES)]
        return times

    def _landed(self, k: int):
        """Tiles of timesteps 0..k, from the cached stored tiles (the
        batches never reach a replicated timestep)."""
        from pyspark.sql import functions as F

        ts = F.regexp_extract("image_id", r"^t(\d+)_", 1).cast("int")
        return self.base.filter(ts <= k)

    def reference(self):
        """One-shot drill over the same tiles (computed once per run,
        outside the timed loop)."""
        from dea_conflux_spark.operators import drill as drill_op

        ref = drill_op.drill(self.landed[-1], self.polygons, self.plugin,
                             self.inp.grid, partial=False).toArrow()
        self.want = _by_day(ref)
        self.checker = DrillCheck(self.inp, self.size.rep,
                                  n_steps=NRT_BATCHES)
        return self.checker.check(ref, flags=False)

    @property
    def n_items(self) -> int:
        return self.size.G * self.size.G * NRT_BATCHES

    def batch_drill(self) -> "SteadyDrill":
        """A steady drill over one batch's tiles (the first timestep), for
        the traced run's drill layers."""
        from dea_conflux_spark.operators import drill as drill_op
        from dea_conflux_spark.operators.tilecells import tile_meta

        d = SteadyDrill(dataclasses.replace(self.size, rep=1))
        d.inp, d.spark, d.polygons = self.inp, self.spark, self.polygons
        d.tiles = self.landed[0]
        d.meta = tile_meta(d.tiles, self.inp.grid)
        d.result = drill_op.drill(d.tiles, self.polygons, self.plugin,
                                  self.inp.grid, partial=True, meta=d.meta)
        d.n_tiles_override = self.size.G * self.size.G
        return d

    def dirs(self):
        d = os.path.join(DATA_DIR, "tmp", "nrt", f"u{self.n_unit}")
        return d, os.path.join(d, "out"), os.path.join(d, "ledger")

    def run_batches(self):
        """-> (steps, finalize table, per-batch tile counts); records the
        bytes and files the unit wrote in ``last_written``."""
        from dea_conflux_spark.operators import ledger

        self.n_unit += 1
        root, out_dir, led = self.dirs()
        shutil.rmtree(root, ignore_errors=True)
        step = self.step_ctx or (lambda name: contextlib.nullcontext())
        steps, counts = [], []
        for k, tiles in enumerate(self.landed):
            t0 = time.monotonic()
            with step(f"batch{k}"):
                n = ledger.run_drill_resumable(tiles, self.polygons,
                                               self.plugin, self.inp.grid,
                                               out_dir, led)
            steps.append((f"batch{k}", time.monotonic() - t0))
            counts.append(n)
        t0 = time.monotonic()
        with step("finalize"):
            table = ledger.finalize_drill(self.spark, out_dir,
                                          self.plugin).toArrow()
        steps.append(("finalize", time.monotonic() - t0))
        files = [os.path.join(d, f) for d, _, fs in os.walk(root)
                 for f in fs if not f.startswith(("_", "."))]
        self.last_written = (sum(os.path.getsize(f) for f in files),
                             len(files))
        shutil.rmtree(root, ignore_errors=True)
        return steps, table, counts

    def unit(self):
        t0 = time.monotonic()
        steps, table, counts = self.run_batches()
        dt = time.monotonic() - t0
        per_batch = self.size.G * self.size.G
        if counts != [per_batch] * NRT_BATCHES:
            return dt, steps, 1, [f"batch tile counts {counts}"]
        if table.num_rows != len(self.want):
            return dt, steps, 1, [f"{table.num_rows} rows, expected "
                                  f"{len(self.want)}"]
        why = _frames_equal(_by_day(table), self.want,
                            ["day", "poly_id"] + [
                                c for c in self.want.columns
                                if c not in ("ts", "day", "poly_id")])
        return dt, steps, 1, [why] if why else []


class DocsDedupSearch:
    """The documents roster: the dedup and text-search leaves over the
    rotation-replicated corpus.  One timed unit runs every leaf once and
    collects its result to the driver."""

    min_units = 1
    warmup_s = 0.0

    def __init__(self, size: DocsSize):
        self.size = size

    def prepare(self, seed: int) -> float:
        self.inp = DocsInput(seed, self.size).ensure()
        return self.inp.gen_s

    def setup(self, spark, repeats: int) -> list:
        self.spark = spark
        times = []
        for _ in range(repeats):
            t0 = time.monotonic()
            spark.read.parquet(os.path.join(self.inp.scaled_dir(),
                                            "documents.parquet")).count()
            times.append(time.monotonic() - t0)
        return times

    @property
    def n_items(self) -> int:
        return self.inp.n_total

    def run_leaf(self, name: str, docs_dir: str | None = None):
        from dea_conflux_spark import queries

        return getattr(queries, name)(
            self.spark, docs_dir or self.inp.scaled_dir()).toArrow()

    @staticmethod
    def check_leaf(name: str, table, expected: dict) -> str:
        if table.num_rows != expected[name]:
            return f"{name}: {table.num_rows} rows, expected {expected[name]}"
        if name == "docs_neardup_components":
            n = len(set(table.column("component").to_pylist()))
            if n != expected[name + ".groups"]:
                return f"{name}: {n} components"
        if name == "doc_bm25_topk":
            if table.column("rnk").to_pylist() != list(
                    range(1, table.num_rows + 1)):
                return f"{name}: ranks not 1..k"
        return ""

    def unit(self):
        steps, whys = [], []
        t0 = time.monotonic()
        for name in DOC_LEAVES:
            t1 = time.monotonic()
            table = self.run_leaf(name)
            steps.append((name, time.monotonic() - t1))
            why = self.check_leaf(name, table, self.inp.expected)
            if why:
                whys.append(why)
        dt = time.monotonic() - t0
        return dt, steps, len(DOC_LEAVES), whys


def make(name: str, tiny: bool = False, fault: bool = False):
    if name == "drill_flagship":
        return SteadyDrill(TINY["flagship"] if tiny else FLAGSHIP, fault)
    if name == "drill_wit":
        return SteadyDrill(TINY["wit"] if tiny else WIT, fault)
    if name == "drill_nrt_batches":
        return NrtBatches(TINY["flagship"] if tiny else FLAGSHIP)
    if name == "docs_dedup_search":
        return DocsDedupSearch(TINY["docs"] if tiny else DOCS)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("drill_flagship", "drill_wit", "drill_nrt_batches",
             "docs_dedup_search")
