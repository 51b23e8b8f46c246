"""Capture the flagship drill's physical plan and assert its shape:

* the tile scan for the UDF stage reads only the needed columns
  (caption/phash pruned),
* the candidate attach and cover joins are broadcast (no shuffle of tile
  bytes anywhere),
* exactly one shuffle feeds the final (poly_id, ts) aggregate, operating
  on partial-aggregate rows, never pixels.

Writes PLANS.md at the repo root.
"""

import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dea_conflux_spark import datagen
from dea_conflux_spark.config import get_spark
from dea_conflux_spark.operators import drill as drill_op
from dea_conflux_spark.plugins import get_plugin


def main():
    spark = get_spark(app="explain", cpus=4)
    grid = datagen.GridSpec(G=4, T=2)
    polys = datagen.make_polygons(grid, n_small=10, n_medium=1, n_huge=1)
    tiles = datagen.tiles_df(spark, grid, polys)
    polygons = datagen.polygons_df(spark, polys)
    res = drill_op.drill(tiles, polygons, get_plugin("waterbodies_c3"),
                         grid, partial=True)

    import contextlib

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    plan = fmt(res)
    join_plan = fmt(drill_op.drill(tiles, polygons,
                                   get_plugin("waterbodies_c3"),
                                   grid, partial=True, rings="join"))
    drill_op.write_tiles_bucketed(tiles, "plans_tiles_bucketed",
                                  n_buckets=4)
    cg_plan = fmt(drill_op.drill_partials_cogrouped(
        spark.table("plans_tiles_bucketed"), polygons,
        get_plugin("waterbodies_c3"), grid))

    checks = []

    def check(name, ok):
        checks.append((name, bool(ok)))

    def node_blocks(p):
        return [b for b in p.split("\n\n") if b.strip().startswith("(")]

    def clean_exchanges(p):
        """No Exchange block carries tile bytes; no BroadcastExchange
        block carries ring geometry."""
        ok = True
        for b in node_blocks(p):
            head = b.strip().splitlines()[0]
            if re.match(r"\(\d+\) BroadcastExchange", head):
                ok = ok and "rings#" not in b and "cand_polys#" not in b
            elif re.match(r"\(\d+\) Exchange", head):
                ok = ok and "bytes#" not in b
        return ok

    def below(p, node):
        """Tree lines of the subtree under the first ``node`` line of a
        formatted plan's tree header."""
        tree = p.split("\n\n")[0].splitlines()
        for k, line in enumerate(tree):
            if node in line:
                depth = line.index(node)
                sub = []
                for ln in tree[k + 1:]:
                    m = re.search(r"[A-Za-z]", ln)
                    if m is None or m.start() <= depth:
                        break
                    sub.append(ln)
                return sub
        return None

    def no_sort_below_partials(p):
        sub = below(p, "MapInArrow")
        return sub is not None and not any(
            re.search(r"\bSort \(\d+\)", ln) for ln in sub)

    check("final agg is hash aggregate on (poly_id, ts)",
          re.search(r"Keys \[2\]: \[poly_id#\d+, ts#\d+\]", plan))
    check("broadcast exchanges present (cover/candidates/flags)",
          plan.count("BroadcastExchange") >= 2)
    check("partial->final combine via single Exchange of partial rows",
          re.search(r"hashpartitioning\(poly_id#\d+, ts#\d+", plan))
    n_shuffles = len(re.findall(r"hashpartitioning\(", plan))
    check("no shuffle carries the bytes column",
          not re.search(r"Exchange[^\n]*bytes", plan))
    check("partials stage is Arrow-batched (MapInArrow)",
          "MapInArrow" in plan)
    check("no Sort below the partials MapInArrow, default and "
          "rings='join' plans: tiles stream from the scan through the "
          "candidate join into the UDF (footprints are grouped per Arrow "
          "batch)",
          no_sort_below_partials(plan) and no_sort_below_partials(join_plan))
    check("default plan has no MapInPandas: the edge-flag tables are "
          "prepared at construction (local relations), so an action runs "
          "no flag pass", "MapInPandas" not in plan)
    check("default (auto/dim) plan: per-row candidate payload is id-only "
          "— no ring-struct aggregation feeds the tile join (pruned "
          "dimension broadcast instead; rings appear only in the "
          "cover-building scan)",
          not re.search(r"collect_list\(struct\(ordinal", plan))
    check("rings='join' scale path: rings delivered via candidate join "
          "(collect_list(struct(ordinal, poly_id, rings)); no driver "
          "collect/broadcast of the layer)",
          re.search(r"collect_list\(struct\(ordinal", join_plan))

    check("cogrouped huge-layer plan: Arrow cogroup stage present "
          "(FlatMapCoGroupsInArrow; was ...InPandas before the round-6 "
          "zero-copy port)", "FlatMapCoGroupsInArrow" in cg_plan)
    check("cogrouped huge-layer plan: NO BroadcastExchange carries rings "
          "or candidate lists, NO Exchange carries tile bytes (bucketed "
          "(gx, gy, tb) layout feeds the cogroup Exchange-free)",
          clean_exchanges(cg_plan))

    # ---- measured candidate-payload sizes at 100k polygons (the data
    # behind the rings-mode auto-switch thresholds): bytes that would ride
    # the pruned-dimension broadcast vs the ring-attached candidate join
    # (per-footprint nesting) vs the id-only join payload
    from pyspark.sql import functions as F

    big_grid = datagen.GridSpec(G=8, T=1, w=32, h=32)
    big_polys = datagen.make_polygons(big_grid, n_small=100_000,
                                      n_medium=0, n_huge=0)
    big_tiles = datagen.tiles_df(spark, big_grid, big_polys)
    big_pg = datagen.polygons_df(spark, big_polys)
    from dea_conflux_spark.config import BASE_RES
    from dea_conflux_spark.operators.cover import polygon_cover_df
    from dea_conflux_spark.operators.tilecells import tile_meta

    pc = polygon_cover_df(big_pg, base_res=BASE_RES)
    fc = drill_op.footprint_candidates(
        tile_meta(big_tiles, big_grid), pc, big_grid).localCheckpoint()
    ring_bytes = F.expr(
        "aggregate(transform(rings, r -> size(r) * 16L), 0L, (a,b) -> a+b)")
    id_only = fc.select(F.sum(F.expr(
        "aggregate(transform(cand_polys, x -> length(x) + 8L), 0L, "
        "(a,b) -> a+b)")).alias("b")).first()["b"]
    pairs = fc.select(F.explode("cand_polys").alias("poly_id"))
    nested = (pairs.join(big_pg, "poly_id")
              .select(F.sum(ring_bytes).alias("b")).first()["b"])
    dim = (pairs.distinct().join(big_pg, "poly_id")
           .select(F.sum(ring_bytes).alias("b")).first()["b"])
    n_cand = pairs.distinct().count()
    sizes = [
        "", "## Measured candidate-payload sizes (100k-polygon layer, "
        "8x8 grid)", "",
        "Coordinate bytes that each strategy moves (vertices x 16 B; "
        "Arrow/java overheads excluded, so ratios are what matter):", "",
        "| payload | bytes |", "|---|---|",
        f"| id-only per-footprint candidate lists (rings='dim' join "
        f"payload) | {id_only:,} |",
        f"| candidate-PRUNED ring dimension, each polygon once "
        f"(rings='dim' broadcast; {n_cand:,} candidate polygons) "
        f"| {dim:,} |",
        f"| rings nested per footprint (rings='join' broadcast payload / "
        f"cogroup shuffle payload) | {nested:,} |", "",
        f"Nesting duplicates geometry {nested / max(dim, 1):.2f}x vs the "
        "pruned dimension here (grows with footprint overlap), which is "
        "why rings='join' (a broadcast candidate table) was NOT a scale "
        "escape hatch "
        "— the cogrouped path moves the same nested payload but through "
        "a hash SHUFFLE (per-reducer slices) instead of a broadcast "
        "(every executor holds all of it), and tile bytes stay put in "
        "the bucketed layout.  The 100k-polygon auto-switch gate for "
        "rings='dim' therefore bounds the broadcast at "
        f"~{dim / 1e6:.0f} MB of coordinates at this density.",
    ]

    # ---- LSH verification plan: candidates-only, no full shingle
    # self-join (the single-key join on the shingle value must be absent;
    # candidate verification joins are keyed on doc ids / (id, shingle))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from dea_conflux_spark.operators import dedup
    lsh_plan = (dedup.minhash_lsh_pairs(docs, n=3, tau=0.2)
                ._jdf.queryExecution().toString())
    check("minhash_lsh_pairs: no join keyed on the shingle value alone",
          not re.search(r"keys \[1\]: \[shingle", lsh_plan))

    # ---- sampling / text plans: the deterministic split must be a pure
    # map (no exchange at all); the per-stratum sampler and per-doc
    # tfidf top-k must push a PARTIAL WindowGroupLimit below their
    # exchange so the shuffle carries O(k x tasks) rows, not the corpus
    from dea_conflux_spark.operators import sampling, textqa

    split_plan = (sampling.split_assign(docs)
                  ._jdf.queryExecution().executedPlan().toString())
    check("split_assign: shuffle-free pure-map plan (no Exchange)",
          "Exchange" not in split_plan)
    strat_plan = (sampling.stratified_sample(docs, ["lang"], 20)
                  ._jdf.queryExecution().executedPlan().toString())
    check("stratified_sample: partial WindowGroupLimit below the "
          "exchange (map-side top-k per stratum)",
          re.search(r"WindowGroupLimit .*row_number\(\), 20, Partial",
                    strat_plan))
    tfidf_plan = (textqa.tfidf_top_terms(docs, k=3)
                  ._jdf.queryExecution().executedPlan().toString())
    check("tfidf_top_terms: partial WindowGroupLimit below the exchange "
          "(map-side per-doc top-k)",
          re.search(r"WindowGroupLimit .*row_number\(\), 3, Partial",
                    tfidf_plan))
    chunk_plan = (textqa.chunk_documents(docs, 64, 16)
                  ._jdf.queryExecution().executedPlan().toString())
    check("chunk_documents: shuffle-free narrow map (tokenize + "
          "sequence/slice + one explode, no Exchange)",
          "Exchange" not in chunk_plan)
    qf_plan = (textqa.quality_threshold_filter(docs, 0.5)
               ._jdf.queryExecution().executedPlan().toString())
    check("quality_threshold_filter: cutoffs applied via broadcast "
          "join — no per-group ranking window over the corpus",
          "BroadcastHashJoin" in qf_plan and "Window" not in qf_plan)
    mix_plan = (sampling.mixture_sample(docs, {"src0": 0.5})
                ._jdf.queryExecution().executedPlan().toString())
    check("mixture_sample: shuffle-free pure-map plan (no Exchange)",
          "Exchange" not in mix_plan)
    pack_plan = (sampling.pack_sequences(docs, budget=64, n_shards=4)
                 ._jdf.queryExecution().executedPlan().toString())
    check("pack_sequences: exactly one Exchange, keyed by (group, shard) "
          "— per-shard window cumsum, no global running-sum funnel",
          pack_plan.count("Exchange hashpartitioning") == 1
          and re.search(r"Exchange hashpartitioning\(source#\d+, shard#\d+",
                        pack_plan))

    # ---- image near-dup: the banded pair join must be an equi-join on
    # (band, key) — never a cartesian/all-pairs product of the corpus
    from dea_conflux_spark.operators import multimodal

    hashes = spark.createDataFrame(
        [(f"i{k}", k * 7919) for k in range(50)],
        "image_id string, ahash long")
    nd_plan = (multimodal.hash_neardup_pairs(hashes)
               ._jdf.queryExecution().executedPlan().toString())
    check("hash_neardup_pairs: banded equi-join, no cartesian/all-pairs "
          "product",
          ("CartesianProduct" not in nd_plan
           and "BroadcastNestedLoopJoin" not in nd_plan
           and re.search(r"\[band#\d+L?, key#\d+L?\]", nd_plan)))

    # ---- BM25 retrieval: the global top-k must be TakeOrderedAndProject
    # (per-partition heaps + driver k-row merge), never a one-reducer
    # global sort of the scored corpus
    bm25_plan = (textqa.bm25_topk(docs, k=10)
                 ._jdf.queryExecution().executedPlan().toString())
    check("bm25_topk: global top-k via TakeOrderedAndProject — no "
          "single-reducer corpus sort",
          "TakeOrderedAndProject" in bm25_plan)

    # ---- k-means: each assign round embeds the k x dim centroids as
    # literals, so the returned (final-assignment) plan is a pure narrow
    # map over the vectors — no join, no Exchange anywhere
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from dea_conflux_spark.operators import similarity

    km_plan = (similarity.kmeans_assign(emb, k=4, iters=1)
               ._jdf.queryExecution().executedPlan().toString())
    check("kmeans_assign: final assignment is a shuffle-free narrow map "
          "(centroids are literals — no Exchange, no join)",
          "Exchange" not in km_plan and "Join" not in km_plan)

    # ---- semantic dedup: pair cosines come from ONE Arrow group stage
    # per cluster (dense BLAS inside applyInPandas) — never a
    # cartesian/all-pairs product or an expression-level pair self-join
    sd_plan = (similarity.semantic_dedup(emb, k=4, iters=1)
               ._jdf.queryExecution().executedPlan().toString())
    check("semantic_dedup: cluster-blocked Arrow cogroup pair stage "
          "(FlatMapGroupsInPandas), no cartesian/all-pairs product",
          "CartesianProduct" not in sd_plan
          and "BroadcastNestedLoopJoin" not in sd_plan
          and "FlatMapGroupsInPandas" in sd_plan)

    out = ["# PLANS — flagship drill physical plan audit", "",
           "Generated by tools/explain_drill.py (re-run after plan-shaping",
           "changes).  Assertions verified on this plan:", ""]
    for name, ok in checks:
        out.append(f"- [{'x' if ok else ' '}] {name}")
    out += ["", f"Hash-partition shuffles in plan: {n_shuffles}"]
    out += sizes
    out += ["", "```", plan.strip(), "```", "",
            "## Cogrouped huge-layer partials plan", "",
            "```", cg_plan.strip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(f"{'PASS' if ok else 'FAIL'} {n}" for n, ok in checks))
    spark.stop()
    if not all(ok for _, ok in checks):
        sys.exit(1)


if __name__ == "__main__":
    main()
