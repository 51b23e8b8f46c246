"""Tests for the training-data-pipeline operators: text analysis, dedup
(exact / jaccard / minhash / simhash / embedding), similarity search, and
multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dea_conflux_spark import datagen
from dea_conflux_spark.operators import dedup, multimodal, similarity, textqa

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------------------------------------------------------------- text

def test_token_counts(spark, docs):
    out = textqa.token_counts(docs).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    import re
    for _, r in out.merge(pdf, on="doc_id").head(50).iterrows():
        toks = re.sub(r"[^a-z0-9]+", " ", r["text"].lower()).strip().split()
        assert r["n_tokens"] == len(toks)
        assert r["n_subword_pieces"] == sum(-(-len(t) // 4) for t in toks)


def test_quality_scores_bounds(docs):
    out = textqa.quality_scores(docs).toPandas()
    assert (out["punct_ratio"] >= 0).all()
    assert (out["stop_ratio"].between(0, 1)).all()
    assert out["quality"].notna().all()


def test_lang_id_deterministic(docs):
    out = textqa.lang_id(docs).toPandas()
    assert set(out["pred_lang"]) <= {"unk", "en", "de", "es", "fr"}
    out2 = textqa.lang_id(docs).toPandas()
    pd.testing.assert_frame_equal(out.sort_values("doc_id").reset_index(drop=True),
                                  out2.sort_values("doc_id").reset_index(drop=True))


def test_fingerprints(docs):
    out = textqa.fingerprints(docs).toPandas()
    assert out["doc_md5"].str.len().eq(32).all()
    assert out["min_gram_hash"].notna().all()


def test_repetition_signals_planted(spark):
    """Planted repetition: a looping doc vs an all-distinct doc, with the
    longest-run top-bigram count checked against a brute-force python
    mode over the same bigram construction."""
    rows = [
        # "a b" repeated: bigram 'b a'/'a b' dominate, trigrams repeat
        (1, "a b " * 10),
        # every token distinct: no repeated bigram/trigram
        (2, " ".join(f"w{i}" for i in range(20))),
        (3, "x y z x y z x y q"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textqa.repetition_signals(docs).collect()}
    import re

    def brute(text):
        toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split()
        bi = [" ".join(toks[i:i + 2]) for i in range(max(len(toks) - 1, 1))]
        tri = [" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))]
        top = max(bi.count(b) for b in set(bi))
        return (len(toks),
                round(len(set(toks)) / len(toks), 4),
                round(top / len(bi), 4),
                round(1 - len(set(tri)) / len(tri), 4))

    for did, text in rows:
        n, dtf, tbf, dup = brute(text)
        r = out[did]
        assert r["n_tokens"] == n
        assert abs(r["distinct_token_frac"] - dtf) < 5e-5
        assert abs(r["top_bigram_frac"] - tbf) < 5e-5
        assert abs(r["dup_trigram_frac"] - dup) < 5e-5
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[1]["top_bigram_frac"] > out[2]["top_bigram_frac"]


# ---------------------------------------------------------------- dedup

def test_exact_dedup_finds_planted_dup(spark, docs):
    # plant an exact duplicate (different doc_id, same text)
    extra = docs.limit(1).withColumn("doc_id", F.lit(999_999))
    d2 = docs.unionByName(extra)
    out = dedup.exact_dedup(d2).toPandas()
    assert (out["n_docs"] >= 2).any()
    grp = out[out["n_docs"] >= 2].iloc[0]
    assert grp["keep_id"] != 999_999  # canonical = min id


def test_contamination_flags_planted(spark):
    """A corpus doc embedding a verbatim benchmark 4-gram is flagged
    with the right hit count; disjoint docs are not; the bench shingle
    side broadcasts."""
    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris"),
         (101, "solve for x in two x plus three")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "quiz leak: what is the capital of france said the tutor"),
         (2, "totally unrelated words about spark shuffles and joins"),
         # two overlapping 4-grams with bench doc 101
         (3, "he asked me to solve for x in two minutes flat")],
        "doc_id long, text string")
    out = dedup.contamination_flags(corpus, bench, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r["doc_id"]: r["n_hit_shingles"] for r in out.collect()}
    # doc 1: "what is the capital" / "is the capital of" / "the capital
    # of france" = 3 shared 4-grams; doc 3 shares "solve for x in" /
    # "for x in two"; doc 2 shares none
    assert got == {1: 3, 3: 2}


def test_jaccard_pairs_vs_numpy(spark, docs):
    got = dedup.ngram_jaccard_pairs(docs, n=3, tau=0.2).toPandas()
    # numpy oracle on a subset
    pdf = docs.toPandas()
    import re
    sh = {}
    for r in pdf.itertuples():
        toks = re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip().split()
        if len(toks) < 3:
            grams = {" ".join(toks)}
        else:
            grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        sh[r.doc_id] = grams
    exp = []
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if round(j, 4) >= 0.2:
                exp.append((a, b, round(j, 4)))
    exp_df = pd.DataFrame(exp, columns=["id1", "id2", "jaccard"])
    got = got.sort_values(["id1", "id2"]).reset_index(drop=True)
    exp_df = exp_df.sort_values(["id1", "id2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp_df, check_dtype=False)


def test_minhash_lsh_finds_planted_neardup(spark, docs):
    base = docs.limit(1).toPandas().iloc[0]
    words = base["text"].split()
    mutated = " ".join(words[:-2] + ["zzz", "qqq"])  # high-jaccard variant
    extra = pd.DataFrame([{"doc_id": 888_888, "text": mutated,
                           "lang": base["lang"], "source": base["source"],
                           "n_chars": len(mutated)}])
    d2 = docs.unionByName(docs.sparkSession.createDataFrame(extra))
    pairs = dedup.minhash_lsh_pairs(d2, n=3, tau=0.5).toPandas()
    hit = pairs[(pairs.id1 == base["doc_id"]) & (pairs.id2 == 888_888)]
    assert len(hit) == 1


def test_simhash_close_for_neardups(spark, docs):
    sh = dedup.simhash(docs.limit(20)).toPandas()
    assert sh["simhash"].nunique() == len(sh)  # distinct docs -> distinct hashes
    # a doc is hamming-0 from itself via pairs on a doubled table
    dup = docs.limit(1).withColumn("doc_id", F.lit(777_777))
    pairs = dedup.simhash_pairs(docs.limit(5).unionByName(dup),
                                max_hamming=0).toPandas()
    assert len(pairs) == 1 and pairs.iloc[0]["hamming"] == 0


def test_embedding_neardup_pairs(embeddings):
    out = dedup.embedding_neardup_pairs(embeddings, tau=0.9).toPandas()
    assert (out["cosine"] >= 0.9).all()
    assert (out["id1"] < out["id2"]).all()


def test_dedup_keep_canonical(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "id1 long, id2 long")
    kept = dedup.dedup_keep_canonical(docs, pairs)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids and 2 not in ids


# ------------------------------------------------------------- similarity

@pytest.fixture(scope="module")
def queries(spark, embeddings):
    return (embeddings.filter("vec_id < 3")
            .select(F.col("vec_id").cast("string").alias("qid"),
                    F.col("embedding").alias("qv")))


def test_brute_topk_matches_numpy(embeddings, queries):
    got = similarity.brute_topk(embeddings, queries, k=5).toPandas()
    pdf = embeddings.toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    for qid in ["0", "1", "2"]:
        qv = V[ids == int(qid)][0]
        cos = V @ qv / (np.linalg.norm(V, axis=1) * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))[:5]
        exp_ids = ids[order].tolist()
        sub = got[got.qid == qid].sort_values("rank")
        assert list(sub["vec_id"]) == exp_ids
        np.testing.assert_allclose(sub["cosine"], np.round(cos[order], 4),
                                   atol=2e-4)


def test_ivf_partial_probe_recall_floor(embeddings, queries):
    """Recall floor for the gated ann_ivf_partial_probe configuration
    (nprobe=4 of 16 centroids, deterministic md5-sampled seeds)."""
    exact = similarity.brute_topk(embeddings, queries, k=5).toPandas()
    approx = similarity.ivf_topk(embeddings, queries, k=5,
                                 n_centroids=16, nprobe=4).toPandas()
    hits = 0
    for qid in ["0", "1", "2"]:
        e = set(exact[exact.qid == qid]["vec_id"])
        a = set(approx[approx.qid == qid]["vec_id"])
        hits += len(e & a)
    assert hits >= 9  # >= 60% recall@5 over the 3 queries


def test_ivf_topk_recall(embeddings, queries):
    exact = similarity.brute_topk(embeddings, queries, k=5).toPandas()
    approx = similarity.ivf_topk(embeddings, queries, k=5,
                                 n_centroids=8, nprobe=4).toPandas()
    # recall@5 over the 3 queries should be decent even with a toy index
    hits = 0
    for qid in ["0", "1", "2"]:
        e = set(exact[exact.qid == qid]["vec_id"])
        a = set(approx[approx.qid == qid]["vec_id"])
        hits += len(e & a)
    assert hits >= 9  # >= 60% recall


# ------------------------------------------------------------- multimodal

def test_image_stats_matches_caption(spark, tiles):
    out = multimodal.image_stats(tiles).toPandas().head(20)
    caps = {r.image_id: r.caption for r in tiles.select(
        "image_id", "caption").collect()}
    for r in out.itertuples():
        frac = float(caps[r.image_id].split("wet_frac=")[1])
        assert abs(r.wet_frac - frac) < 1e-3


def test_resize_images(spark, tiles):
    out = multimodal.resize_images(tiles.limit(4), 16, 16).toPandas()
    assert (out["w"] == 16).all() and (out["h"] == 16).all()
    from dea_conflux_spark.core import codec
    a = codec.decode(out.iloc[0]["bytes"], 16, 16, "raw")
    assert a.shape == (16, 16)


def test_image_histogram_vs_bincount(spark):
    """Full-range random images: exploded histogram rows must equal
    numpy bincount per image, empty bins absent, counts summing to
    h*w."""
    from dea_conflux_spark.core import codec
    rng = np.random.default_rng(7)
    imgs = {f"i{k}": rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
            for k in range(3)}
    pdf = pd.DataFrame([{
        "image_id": k, "bytes": codec.encode(a, "raw"), "w": np.int32(8),
        "h": np.int32(8), "fmt": "raw", "caption": "", "phash": np.int64(0)}
        for k, a in imgs.items()])
    df = spark.createDataFrame(pdf, datagen.TILE_SCHEMA)
    out = multimodal.image_histogram(df, bin_width=16).toPandas()
    for k, a in imgs.items():
        got = dict(zip(out[out.image_id == k]["bin"],
                       out[out.image_id == k]["n_px"]))
        exp = {b: int(c) for b, c in
               enumerate(np.bincount(a.ravel() // 16, minlength=16)) if c}
        assert got == exp
        assert sum(got.values()) == 64


def test_frame_sample(spark):
    rng = np.random.default_rng(1)
    stack = rng.integers(0, 255, size=(30, 8, 8), dtype=np.uint8)
    pdf = pd.DataFrame([{
        "video_id": "v0", "bytes": stack.tobytes(), "w": np.int32(8),
        "h": np.int32(8), "n_frames": np.int32(30), "fmt": "rawstack"}])
    videos = spark.createDataFrame(
        pdf, "video_id string, bytes binary, w int, h int, n_frames int, "
             "fmt string")
    frames = multimodal.frame_sample(videos, every_n=10).toPandas()
    assert list(frames["image_id"]) == ["v0#f00000", "v0#f00010", "v0#f00020"]


def test_audio_stats(spark):
    rng = np.random.default_rng(7)
    clips = {}
    for k in range(3):
        n = 400 + 50 * k
        clips[f"a{k}"] = rng.integers(
            -20000, 20000, size=n, dtype=np.int16)
    pdf = pd.DataFrame([{
        "audio_id": k, "bytes": s.tobytes(), "sr": np.int32(8000),
        "n_samples": np.int32(len(s)), "fmt": "rawpcm"}
        for k, s in clips.items()])
    df = spark.createDataFrame(
        pdf, "audio_id string, bytes binary, sr int, n_samples int, "
             "fmt string")
    out = multimodal.audio_stats(df).toPandas().set_index("audio_id")
    for k, s in clips.items():
        r = out.loc[k]
        assert r["duration_sec"] == len(s) / 8000.0
        rms = float(np.sqrt((s.astype(np.float64) ** 2).mean()))
        assert r["rms"] == np.floor(rms * 10000 + 0.5) / 10000.0
        assert r["peak"] == int(np.abs(s.astype(np.int32)).max())
        nn = s >= 0
        assert r["zero_crossings"] == int(
            np.count_nonzero(nn[1:] != nn[:-1]))


def test_audio_chunks(spark):
    # 2.5 windows at 100 ms / 8 kHz: loud, near-silent, loud partial
    t = np.arange(2000)
    amp = np.where((t // 800) % 2 == 0, 5000.0, 10.0)
    s = np.round(amp * np.sin(2 * np.pi * 330 * t / 8000)).astype(np.int16)
    pdf = pd.DataFrame([{"audio_id": "a", "bytes": s.tobytes(),
                         "sr": np.int32(8000), "n_samples": np.int32(2000),
                         "fmt": "rawpcm"}])
    df = spark.createDataFrame(
        pdf, "audio_id string, bytes binary, sr int, n_samples int, "
             "fmt string")
    out = (multimodal.audio_chunks(df, window_ms=100, silence_rms=500.0)
           .toPandas().sort_values("win").reset_index(drop=True))
    assert list(out["start_idx"]) == [0, 800, 1600]
    assert list(out["n_samples"]) == [800, 800, 400]
    assert list(out["is_silence"]) == [False, True, False]
    for i, (lo, hi) in enumerate([(0, 800), (800, 1600), (1600, 2000)]):
        seg = s[lo:hi].astype(np.float64)
        rms = np.sqrt((seg * seg).sum() / len(seg))
        assert out.loc[i, "rms"] == np.floor(rms * 10000 + 0.5) / 10000.0


def test_audio_resample(spark):
    s = np.arange(-500, 500, dtype=np.int16)
    pdf = pd.DataFrame([{"audio_id": "a", "bytes": s.tobytes(),
                         "sr": np.int32(8000), "n_samples": np.int32(1000),
                         "fmt": "rawpcm"}])
    df = spark.createDataFrame(
        pdf, "audio_id string, bytes binary, sr int, n_samples int, "
             "fmt string")
    out = multimodal.audio_resample(df, factor=4).toPandas().iloc[0]
    assert out["sr"] == 2000 and out["n_samples"] == 250
    assert np.array_equal(np.frombuffer(out["bytes"], dtype="<i2"), s[::4])
    with pytest.raises(ValueError):
        multimodal.audio_resample(df, factor=0)


def test_audio_codec_stubbed(spark):
    pdf = pd.DataFrame([{"audio_id": "x", "bytes": b"ID3\x04", "sr": np.int32(44100),
                         "n_samples": np.int32(0), "fmt": "mp3"}])
    df = spark.createDataFrame(
        pdf, "audio_id string, bytes binary, sr int, n_samples int, "
             "fmt string")
    with pytest.raises(Exception, match="NotImplementedError|audio codec"):
        multimodal.audio_stats(df).collect()


def test_external_codec_stubbed(spark):
    pdf = pd.DataFrame([{"image_id": "x", "bytes": b"\xff\xd8", "w": np.int32(2),
                         "h": np.int32(1), "fmt": "jpeg", "caption": "c",
                         "phash": np.int64(0)}])
    df = spark.createDataFrame(pdf, datagen.TILE_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|external codec"):
        multimodal.image_stats(df).collect()


def test_connected_components_vs_union_find(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "id1 long, id2 long")
    out = dedup.connected_components(pairs).toPandas()
    comp = dict(zip(out["node"], out["component"]))
    # python union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for n in list(parent):
        groups.setdefault(find(n), set()).add(n)
    got_groups = {}
    for n, c in comp.items():
        got_groups.setdefault(c, set()).add(n)
    assert sorted(map(sorted, got_groups.values())) == \
        sorted(map(sorted, groups.values()))


def test_rp_lsh_neardup_recall(spark, embeddings):
    exact = dedup.embedding_neardup_pairs(
        embeddings.withColumn("label", F.lit(0)), tau=0.9).toPandas()
    approx = similarity.rp_lsh_neardup(embeddings, n_bits=8,
                                       tau=0.9).toPandas()
    exact_set = set(zip(exact.id1, exact.id2))
    approx_set = set(zip(approx.id1, approx.id2))
    assert approx_set <= exact_set or len(exact_set) == 0
    if exact_set:
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.3  # single table, 8 bits: modest but nonzero


def test_drill_auto_strategy(spark, tiles, polygons, grid, polys, tiles_pdf):
    from dea_conflux_spark import oracle as _oracle
    from dea_conflux_spark.operators import drill as _drill
    from dea_conflux_spark.plugins import get_plugin as _gp
    got = _drill.drill(tiles, polygons, _gp("sum_wet"), grid,
                       partial=False, broadcast_cover="auto").toPandas()
    exp = _oracle.oracle_drill(grid, polys, tiles_pdf, _gp("sum_wet"),
                               partial=False)
    assert len(got) == len(exp)


# ----------------------------------------------- round-2 scale/recall fixes

def test_simhash_pairs_complete_recall_brute_force(spark, docs):
    """Pigeonhole blocking must find EVERY pair within max_hamming — checked
    against a brute-force XOR-popcount over all pairs."""
    d = docs.limit(40)
    sh = dedup.simhash(d).toPandas()
    ids = sh["doc_id"].to_numpy()
    hs = sh["simhash"].to_numpy().astype(np.int64)
    for h in (3, 12):
        exp = set()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ham = bin(int(hs[i]) ^ int(hs[j])).count("1")
                if ham <= h:
                    a, b = sorted((int(ids[i]), int(ids[j])))
                    exp.add((a, b))
        got = dedup.simhash_pairs(d, max_hamming=h).toPandas()
        got_set = set(zip(got.id1.astype(int), got.id2.astype(int)))
        assert got_set == exp, f"recall gap at max_hamming={h}"


def test_simhash_block_specs_pigeonhole():
    for h in (0, 3, 8, 12):
        specs = dedup.simhash_block_specs(h)
        assert len(specs) == h + 1
        assert sum(w for _, _, w in specs) == 60
        # blocks are disjoint and contiguous
        pos = 0
        for q, start, width in specs:
            assert start == pos and width >= 1
            pos += width


def test_hot_shingle_cutoff_bounds_candidates(spark):
    """A planted common-boilerplate corpus must not explode quadratically:
    with the DF cutoff, boilerplate-only overlap produces ZERO candidate
    pairs; only the planted true near-dups surface."""
    n = 300
    boiler = "terms of service apply to all users of this website always"
    rows = [{"doc_id": i,
             "text": f"{boiler} unique{i} tail{i} content{i} word{i}"}
            for i in range(n)]
    # two planted real near-dups sharing their tails too
    rows.append({"doc_id": n, "text": f"{boiler} unique0 tail0 content0 word0 extra"})
    pdf = pd.DataFrame(rows)
    d = spark.createDataFrame(pdf, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(d, n=3, tau=0.2, max_df=50).toPandas()
    # without the cutoff every boilerplate 3-gram links all 301 docs
    # (~45k pairs); with it only the planted pair survives
    assert len(out) <= 5
    assert ((out.id1 == 0) & (out.id2 == n)).any()


def test_minhash_lsh_verifies_candidates_only(spark, docs):
    """The LSH verification must not contain a full shingle self-join:
    no join in the physical plan may be keyed on the shingle value alone
    (the candidate-bounded joins are keyed on doc ids / (id, shingle))."""
    import re
    pairs = dedup.minhash_lsh_pairs(docs, n=3, tau=0.2)
    plan = pairs._jdf.queryExecution().toString()
    single_key = re.findall(r"keys \[1\]: \[shingle", plan)
    assert not single_key, "full shingle self-join found in LSH plan"
    # and the result still matches the independent full-verify path
    full = dedup.ngram_jaccard_pairs(docs, n=3, tau=0.2).toPandas()
    got = pairs.toPandas()
    got_set = set(zip(got.id1, got.id2))
    full_set = set(zip(full.id1, full.id2))
    assert got_set <= full_set  # LSH output is a subset of true pairs


def test_connected_components_chain_converges_log_rounds(spark):
    """Pointer doubling: a 10-node chain (diameter 9) collapses within
    max_iter=2 — the configuration that non-converged under plain
    O(diameter) min-propagation in round 2."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id1 long, id2 long")
    out = dedup.connected_components(chain, max_iter=2).toPandas()
    assert len(out) == 10 and set(out["component"]) == {0}


def test_connected_components_raises_on_nonconvergence(spark):
    """Strict mode still raises when labels are not a fixed point: this
    graph needs a SECOND neighbour pass (node 2's only neighbour gets its
    final label in round 1), so max_iter=1 cannot converge."""
    g = spark.createDataFrame([(2, 3), (1, 3)], "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(g, max_iter=1)
    # non-strict mode returns the partial labelling with a warning
    import warnings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dedup.connected_components(g, max_iter=1,
                                         strict=False).toPandas()
    assert len(out) == 3 and any("converge" in str(x.message) for x in w)


def test_ensure_spread_spreads_and_noops(spark):
    """ensure_spread repartitions a single-split input to the session
    parallelism and leaves an already-parallel input untouched."""
    from dea_conflux_spark.operators.textqa import ensure_spread
    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    spread = ensure_spread(narrow)
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == 1000
    wide = spark.range(1000).repartition(par)
    assert ensure_spread(wide) is wide  # no extra exchange inserted


# ------------------------------------------- tfidf / bigrams / sampling

def test_tfidf_top_terms_vs_numpy(docs):
    out = textqa.tfidf_top_terms(docs, k=3).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    import re as _re
    import math

    tok = {r.doc_id: [t for t in _re.sub(r"[^a-z0-9]+", " ",
                                         r.text.lower()).strip().split()]
           for r in pdf.itertuples()}
    n_docs = len(tok)
    df_ct: dict = {}
    tf_all = {}
    for d, ts in tok.items():
        cnt: dict = {}
        for t in ts:
            cnt[t] = cnt.get(t, 0) + 1
        tf_all[d] = cnt
        for t in cnt:
            df_ct[t] = df_ct.get(t, 0) + 1
    for d, grp in out.groupby("doc_id"):
        scores = {t: math.floor(
            c * (math.log((n_docs + 1.0) / (df_ct[t] + 1.0)) + 1.0)
            * 10000 + 0.5) / 10000.0 for t, c in tf_all[d].items()}
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        got = list(grp.sort_values("rnk")[["term", "tfidf"]]
                   .itertuples(index=False, name=None))
        assert got == want, f"doc {d}: {got} != {want}"
        assert (grp["rnk"].sort_values().tolist() == [1, 2, 3])


def test_top_bigrams_vs_python(docs):
    out = textqa.top_bigrams(docs, k=20).toPandas()
    import re as _re
    from collections import Counter

    cnt: Counter = Counter()
    for r in docs.select("text").toPandas().itertuples():
        ts = _re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip().split()
        if len(ts) >= 2:
            cnt.update(" ".join(p) for p in zip(ts, ts[1:]))
        elif ts:
            cnt.update([ts[0]])  # degenerate 1-token doc: unigram fallback
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = list(out[["bigram", "n"]].itertuples(index=False, name=None))
    assert got == want


def test_split_assign_deterministic_and_partition_invariant(docs):
    from dea_conflux_spark.operators import sampling

    a = sampling.split_assign(docs).toPandas().sort_values("doc_id")
    b = (sampling.split_assign(docs.repartition(13)).toPandas()
         .sort_values("doc_id"))
    assert a.values.tolist() == b.values.tolist()
    assert set(a["split"]) <= {"train", "val", "test"}
    # buckets map to splits by the documented thresholds
    assert ((a["bucket"] < 90) == (a["split"] == "train")).all()
    assert (a["bucket"].between(90, 94) == (a["split"] == "val")).all()
    # hash split is close to the requested proportions (500 docs, 60-bit
    # hash: binomial 3-sigma around 450)
    n_train = (a["split"] == "train").sum()
    assert abs(n_train - 0.9 * len(a)) < 3 * np.sqrt(len(a) * 0.9 * 0.1) + 1


def test_stratified_sample_fixed_size_and_stable(docs):
    from dea_conflux_spark.operators import sampling

    out = sampling.stratified_sample(docs, ["lang"], per_stratum=20)
    pdf = out.toPandas()
    sizes = pdf.groupby("lang")["doc_id"].count()
    full = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang, n in sizes.items():
        assert n == min(20, int(full[lang]))
    # order/partitioning must not change the sample
    again = (sampling.stratified_sample(
        docs.orderBy(F.rand(7)).repartition(9), ["lang"], per_stratum=20)
        .toPandas())
    key = lambda p: sorted(map(tuple, p[["doc_id", "lang", "rk"]].values))  # noqa: E731
    assert key(pdf) == key(again)


def test_chunk_documents_covers_and_overlaps(docs):
    out = textqa.chunk_documents(docs, chunk_tokens=32, overlap=8).toPandas()
    toks = {r["doc_id"]: r["t"] for _, r in
            docs.select("doc_id", textqa.tokens_col(F.col("text"))
                        .alias("t")).toPandas().iterrows()}
    for doc_id, grp in out.groupby("doc_id"):
        g = grp.sort_values("chunk_idx")
        full = list(toks[doc_id])
        assert list(g["chunk_idx"]) == list(range(len(g)))
        for _, r in g.iterrows():
            start = r["chunk_idx"] * 24  # stride = 32 - 8
            want = full[start:start + 32]
            assert r["chunk_text"].split(" ") == want
            assert r["n_chunk_tokens"] == len(want)
        # every token position is covered by some chunk
        assert (len(g) - 1) * 24 + g.iloc[-1]["n_chunk_tokens"] == len(full)
    with pytest.raises(ValueError):
        textqa.chunk_documents(docs, chunk_tokens=16, overlap=16)


def test_quality_threshold_filter_keeps_top_half(docs):
    kept = textqa.quality_threshold_filter(docs, quantile=0.5,
                                           by="lang").toPandas()
    allq = textqa.quality_scores(docs, keep=("lang",)).toPandas()
    for lang, grp in allq.groupby("lang"):
        cut = grp["quality"].quantile(0.5, interpolation="linear")
        want = set(grp.loc[grp["quality"] >= cut, "doc_id"])
        got = set(kept.loc[kept["lang"] == lang, "doc_id"])
        assert got == want
        # a median screen keeps at least half, and not everything
        # (unless the group is degenerate-constant)
        if grp["quality"].nunique() > 1:
            assert len(grp) / 2 <= len(got) < len(grp)
    with pytest.raises(ValueError):
        textqa.quality_threshold_filter(docs, quantile=1.5)


def test_mixture_sample_rates_and_determinism(docs):
    from dea_conflux_spark.operators import sampling

    rates = {"src0": 1.0, "src1": 0.0}
    out = sampling.mixture_sample(docs, rates, default_rate=0.5).toPandas()
    full = docs.groupBy("source").count().toPandas().set_index("source")
    by_src = out.groupby("source")["doc_id"].count()
    # rate 1.0 keeps everything, rate 0.0 keeps nothing
    assert by_src.get("src0", 0) == int(full.loc["src0", "count"])
    assert "src1" not in by_src.index
    # default-rate sources land near 50% (3-sigma binomial)
    rest = int(full.drop(["src0", "src1"]).sum().iloc[0])
    kept_rest = int(by_src.drop("src0", errors="ignore").sum())
    assert abs(kept_rest - 0.5 * rest) < 3 * np.sqrt(rest * 0.25) + 1
    # pure function of the key: partitioning cannot change the sample
    again = sampling.mixture_sample(
        docs.repartition(17), rates, default_rate=0.5).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])
    with pytest.raises(ValueError):
        sampling.mixture_sample(docs, {"src0": 1.5})


def test_pack_sequences_semantics_and_partition_invariant(docs):
    from dea_conflux_spark.operators import sampling

    out = sampling.pack_sequences(docs, budget=64, n_shards=4).toPandas()
    # per (source, shard): start offsets are the running token sum in
    # doc_id order, and seq_idx is the budget bin of the start
    for (_, _), grp in out.groupby(["source", "shard"]):
        g = grp.sort_values("doc_id")
        want_start = g["n_tokens"].cumsum().shift(fill_value=0)
        assert list(g["start_tok"]) == list(want_start)
        assert list(g["seq_idx"]) == list(want_start // 64)
    # every doc of the corpus is packed exactly once
    assert sorted(out["doc_id"]) == sorted(
        docs.select("doc_id").toPandas()["doc_id"])
    # partitioning / input order must not change the assignment
    again = sampling.pack_sequences(
        docs.orderBy(F.rand(3)).repartition(11), budget=64,
        n_shards=4).toPandas()
    key = lambda p: sorted(map(tuple, p.values))  # noqa: E731
    assert key(out) == key(again)


def test_quantize_embeddings_vs_numpy(spark, embeddings):
    out = similarity.quantize_embeddings(embeddings).toPandas()
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    for _, r in pdf.iterrows():
        v = np.array(r["embedding"], dtype=np.float64)
        scale = np.abs(v).max() / 127.0
        got = out[out["vec_id"] == r["vec_id"]].iloc[0]
        q = np.array(got["qvec"])
        if scale == 0:
            assert (q == 0).all() and got["scale"] == 0.0
            continue
        assert got["scale"] == np.floor(scale * 10000 + 0.5) / 10000.0
        assert np.array_equal(q, np.floor(v / scale + 0.5).astype(int))
        assert np.abs(q).max() <= 127
        # dequantization error bounded by half a code step per element
        assert np.abs(q * scale - v).max() <= scale / 2 + 1e-12
    # all-zero vector edge case
    z = spark.createDataFrame([(99999, [0.0, 0.0, 0.0])],
                              "vec_id long, embedding array<double>")
    zr = similarity.quantize_embeddings(z).toPandas().iloc[0]
    assert zr["scale"] == 0.0 and list(zr["qvec"]) == [0, 0, 0]
    # narrow map: quantization must not shuffle
    plan = (similarity.quantize_embeddings(embeddings)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_label_centroids_vs_numpy(embeddings):
    out = similarity.label_centroids(embeddings).toPandas()
    pdf = embeddings.select("label", "embedding").toPandas()
    for label, grp in pdf.groupby("label"):
        mat = np.stack(grp["embedding"].values).astype(np.float64)
        want = np.floor(mat.mean(axis=0) * 10000 + 0.5) / 10000.0
        sub = out[out["label"] == label].sort_values("pos")
        assert (sub["n_vecs"] == len(grp)).all()
        np.testing.assert_allclose(sub["centroid"].values, want, atol=1e-9)


def test_split_assign_validates_percentages(docs):
    from dea_conflux_spark.operators import sampling

    with pytest.raises(ValueError):
        sampling.split_assign(docs, train_pct=90, val_pct=20)


def test_canonical_best_quality_prefers_clean_duplicate(spark, docs):
    # two raw variants normalise to the same fingerprint; the heavily
    # punctuated one scores lower quality, so the clean one survives
    # regardless of id order
    base = "the quick brown fox jumps over the lazy dog " * 5
    noisy = base.replace(" ", "!!! ,, ")
    extra = spark.createDataFrame(
        [(9000001, base, "en", "srcX", len(base)),
         (9000000, noisy, "en", "srcX", len(noisy))],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = dedup.canonical_best_quality(docs.unionByName(extra)).toPandas()
    clusters = out[out["n_docs"] >= 2]
    planted = clusters[clusters["keep_id"].isin([9000000, 9000001])]
    assert len(planted) == 1
    assert planted.iloc[0]["keep_id"] == 9000001  # clean variant wins
    assert planted.iloc[0]["n_docs"] == 2
    # every input fingerprint appears exactly once
    n_fp = (docs.unionByName(extra)
            .selectExpr("md5(trim(regexp_replace(lower(text), "
                        "'[^a-z0-9]+', ' '))) AS fp")
            .distinct().count())
    assert len(out) == n_fp


def test_connected_components_many_rounds_no_stats_blowup(spark):
    """Regression: ``localCheckpoint`` preserves origin size statistics
    and each pointer-jump SELF-join squares sizeInBytes, so before the
    per-round parquet spill a 3-round run multiplied million-bit
    BigIntegers in Catalyst and effectively hung (>500 s for a 150-node
    graph).  A component mix that needs 3+ rounds must now complete in
    seconds and match the union-find oracle."""
    import time

    import numpy as np

    rng = np.random.default_rng(5)
    edges = set()
    # several mid-size random components + a long chain: the simhash-pair
    # shape that required >= 3 min-propagation rounds
    for block in range(6):
        nodes = list(range(block * 40, block * 40 + 40))
        for _ in range(50):
            a, b = rng.choice(nodes, 2, replace=False)
            edges.add((int(min(a, b)), int(max(a, b))))
    edges |= {(300 + i, 301 + i) for i in range(60)}
    pairs = spark.createDataFrame(sorted(edges), "id1 long, id2 long")
    t0 = time.monotonic()
    out = dedup.connected_components(pairs).toPandas()
    wall = time.monotonic() - t0
    assert wall < 120, f"CC took {wall:.0f}s — stats blowup is back"

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in sorted(edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {}
    for n in list(parent):
        exp.setdefault(find(n), set()).add(n)
    got = {}
    for n, c in zip(out["node"], out["component"]):
        got.setdefault(c, set()).add(n)
    assert sorted(map(sorted, got.values())) == \
        sorted(map(sorted, exp.values()))


def test_dedup_corpus_near_transitive_keep_best(spark):
    """a~b and b~c form one component even though a~c was never scored;
    exactly one member survives and it is the best-quality one, while an
    unrelated doc passes through with a NULL component."""
    from pyspark.sql import functions as F

    rows = [
        # three near-identical docs: quality rises with the extra clause
        (1, "the cat sat on the mat and looked around quietly."),
        (2, "the cat sat on the mat and looked around quietly today, "
            "and the sun was shining on the garden path for a while."),
        (3, "the cat sat on the mat and looked around quietly today."),
        (10, "completely unrelated content about spark shuffles and "
             "partitions in a distributed engine."),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id1 long, id2 long")
    out = dedup.dedup_corpus_near(docs, pairs).toPandas()
    kept = set(out["doc_id"])
    assert 10 in kept
    survivors = kept - {10}
    assert len(survivors) == 1  # transitive: one of {1,2,3}
    # doc 2 has the most tokens -> highest quality under the heuristic
    from dea_conflux_spark.operators import textqa
    q = {r["doc_id"]: r["quality"]
         for r in textqa.quality_scores(docs).collect()}
    best = max((q[i], -i) for i in (1, 2, 3))
    assert survivors == {-best[1]}
    comp = out.set_index("doc_id")["component"]
    assert pd.isna(comp[10])
    assert comp[next(iter(survivors))] == 1  # component min label


def test_dedup_corpus_near_empty_pair_graph(spark):
    """No near-dup pairs: every document passes through with a NULL
    component (the CC round loop must handle an empty edge table)."""
    docs = spark.createDataFrame(
        [(1, "one text here", "en", "s", 13),
         (2, "another text here", "en", "s", 17)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    pairs = spark.createDataFrame([], "id1 long, id2 long")
    out = dedup.dedup_corpus_near(docs, pairs).toPandas()
    assert sorted(out["doc_id"]) == [1, 2]
    assert out["component"].isna().all()


def test_connected_components_random_graph_multi_partition(spark):
    """The partition-local union-find contraction pre-pass must preserve
    connectivity exactly when a component's edges are scattered across
    many partitions: random graph, edges explicitly repartitioned 16
    ways, components checked against a python union-find oracle."""
    import numpy as np

    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, 400, size=(600, 2)) if a != b]
    pairs = (spark.createDataFrame(edges, "id1 long, id2 long")
             .repartition(16))
    out = dedup.connected_components(pairs).toPandas()

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp_groups = {}
    for n in list(parent):
        exp_groups.setdefault(find(n), set()).add(n)
    got_groups = {}
    for n, c in zip(out["node"], out["component"]):
        got_groups.setdefault(c, set()).add(n)
    assert sorted(map(sorted, got_groups.values())) == \
        sorted(map(sorted, exp_groups.values()))
    # min-label convention: every component is labelled by its min node
    assert all(c == min(g) for c, g in got_groups.items())


def test_hash_neardup_pairs_recall_complete_vs_brute(spark):
    """Banded perceptual-hash near-dup (multimodal analogue of SimHash
    blocks) must return EXACTLY the brute-force hamming<=3 pair set:
    random 64-bit hashes with planted near-twins (1-3 flipped bits)."""
    import numpy as np

    from dea_conflux_spark.operators import multimodal

    rng = np.random.default_rng(11)
    hashes = []
    for i in range(60):
        h = int(rng.integers(0, 1 << 63))
        hashes.append((f"img{i:03d}", h))
        if i % 3 == 0:  # plant a twin within hamming 1-3
            t = h
            for bit in rng.choice(64, size=int(rng.integers(1, 4)),
                                  replace=False):
                t ^= (1 << int(bit))
            t = t - (1 << 64) if t >= (1 << 63) else t
            hashes.append((f"img{i:03d}_twin", t))
    df = spark.createDataFrame(hashes, "image_id string, ahash long")
    got = multimodal.hash_neardup_pairs(df, max_hamming=3).toPandas()
    gotset = set(map(tuple, got[["id1", "id2"]].values))

    def u64(x):
        return x & ((1 << 64) - 1)

    exp = set()
    for i, (ida, ha) in enumerate(hashes):
        for idb, hb in hashes[i + 1:]:
            if bin(u64(int(ha) ^ int(hb))).count("1") <= 3:
                exp.add((min(ida, idb), max(ida, idb)))
    assert gotset == exp and len(exp) >= 20
    # hamming values verified exact
    for _, r in got.iterrows():
        ha = dict(hashes)[r.id1]
        hb = dict(hashes)[r.id2]
        assert r.hamming == bin(u64(int(ha) ^ int(hb))).count("1")
    # banding is only claimed complete for max_hamming <= n_bands - 1
    with pytest.raises(ValueError):
        multimodal.hash_neardup_pairs(df, max_hamming=4, n_bands=4)


def test_image_ahash_twin_within_band(spark, tiles):
    """Decode->ahash plumbing: a one-pixel-perturbed copy of every tile
    hashes within hamming 3 of the original (the property the image
    near-dup operator leans on)."""
    import numpy as np

    from dea_conflux_spark.core import codec
    from dea_conflux_spark.operators import multimodal

    pdf = tiles.limit(4).toPandas()
    rows = []
    for r in pdf.itertuples():
        arr = codec.decode(r.bytes, int(r.h), int(r.w), r.fmt)
        twin = arr.copy()
        twin[1, 1] = (int(twin[1, 1]) + 2) % 256
        rows.append((r.image_id + "_t", codec.encode(twin, "raw"),
                     r.w, r.h, "raw", r.caption, r.phash))
    import pandas as pd
    both = pd.concat([pdf, pd.DataFrame(rows, columns=pdf.columns)])
    df = spark.createDataFrame(both)
    out = multimodal.hash_neardup_pairs(
        multimodal.image_ahash(df), max_hamming=3).toPandas()
    pairs = set(map(tuple, out[["id1", "id2"]].values))
    for iid in pdf["image_id"]:
        assert (min(iid, iid + "_t"), max(iid, iid + "_t")) in pairs


def test_scrub_text_masks_pii_and_is_noop_on_clean_text(spark):
    from dea_conflux_spark.operators import textqa

    df = spark.createDataFrame(
        [(1, "mail a.b-c_9@sub.example.org now"),
         (2, "see https://x.io/p?q=1\tnext"),
         (3, "call 555-010-1234 or 555.010.9999"),
         (4, "nothing to hide here")],
        "doc_id long, text string")
    got = dict(textqa.scrub_text(df).select("doc_id", "scrubbed")
               .toPandas().values.tolist())
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "see <URL>\tnext"
    assert got[3] == "call <PHONE> or <PHONE>"
    assert got[4] == "nothing to hide here"  # clean text untouched


def _rand_tiles_df(spark, n=3, h=8, w=8, seed=11):
    from dea_conflux_spark.core import codec
    rng = np.random.default_rng(seed)
    imgs = {f"i{k}": rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            for k in range(n)}
    pdf = pd.DataFrame([{
        "image_id": k, "bytes": codec.encode(a, "raw"),
        "w": np.int32(w), "h": np.int32(h), "fmt": "raw", "caption": "",
        "phash": np.int64(0)} for k, a in imgs.items()])
    return imgs, spark.createDataFrame(pdf, datagen.TILE_SCHEMA)


def test_decode_pixels_roundtrip(spark):
    """decode_pixels is the exact inverse of the codec: reassembling the
    exploded rows by (py, px) reproduces every source array."""
    imgs, df = _rand_tiles_df(spark, n=3)
    out = multimodal.decode_pixels(df).toPandas()
    assert len(out) == 3 * 64
    for k, a in imgs.items():
        sub = out[out.image_id == k]
        back = np.zeros_like(a)
        back[sub.py.values, sub.px.values] = sub.val.values
        assert (back == a).all()


def test_flip_images_modes(spark):
    from dea_conflux_spark.core import codec
    imgs, df = _rand_tiles_df(spark, n=2, seed=12)
    for mode, op in (("h", lambda a: a[:, ::-1]),
                     ("v", lambda a: a[::-1, :]),
                     ("hv", lambda a: a[::-1, ::-1])):
        out = multimodal.flip_images(df, mode=mode).toPandas()
        for r in out.itertuples():
            src, suf = r.image_id.rsplit("#f", 1)
            assert suf == mode
            got = codec.decode(r.bytes, r.h, r.w, r.fmt)
            assert (got == op(imgs[src])).all()
    with pytest.raises(ValueError):
        multimodal.flip_images(df, mode="x")


def test_image_patches_reassemble(spark):
    """4x4 patches of an 8x8 image tile the source exactly: pasting every
    patch back at (py*4, px*4) reproduces the array, and patch count is
    (h//p)*(w//p) with remainders cropped."""
    from dea_conflux_spark.core import codec
    imgs, df = _rand_tiles_df(spark, n=2, seed=13)
    out = multimodal.image_patches(df, patch=4).toPandas()
    assert len(out) == 2 * 4
    for src, a in imgs.items():
        back = np.zeros_like(a)
        for r in out.itertuples():
            base, suf = r.image_id.rsplit("#p", 1)
            if base != src:
                continue
            py, px = (int(v) for v in suf.split("_"))
            back[py * 4:py * 4 + 4, px * 4:px * 4 + 4] = \
                codec.decode(r.bytes, 4, 4, "raw")
        assert (back == a).all()
    # non-multiple side: 8x8 with patch=3 keeps 2x2 full patches
    out3 = multimodal.image_patches(df, patch=3).toPandas()
    assert len(out3) == 2 * 4
    with pytest.raises(ValueError):
        multimodal.image_patches(df, patch=0)


def test_extract_chips_clipping(spark):
    """Chips equal the numpy crop of the pixel-centre window, clipped to
    each tile; a bbox outside every tile yields no chip."""
    from dea_conflux_spark import minidrill
    from dea_conflux_spark.core import codec

    out = minidrill.build()
    tiles = spark.read.parquet(out + "/mini_tiles.parquet")
    g = minidrill.MINI_GRID
    bb = spark.createDataFrame(pd.DataFrame({
        "poly_id": ["in_a", "far"],
        "xmin": [100130.3, 900000.0], "ymin": [100050.7, 900000.0],
        "xmax": [100410.9, 900100.0], "ymax": [100350.1, 900100.0]}))
    chips = multimodal.extract_chips(tiles, bb, g).toPandas()
    assert set(chips.poly_id) == {"in_a"}
    import math
    for r in chips.itertuples():
        pid, iid = r.image_id.split("@")
        ts, gx, gy = (int(iid[1:5]), int(iid[7:10]), int(iid[12:15]))
        a = minidrill._pixel_values(ts, gx, gy)
        x0, y0 = g.tile_origin(gx, gy)
        lx0 = max(0, math.ceil((100130.3 - x0) / g.px_res - 0.5))
        lx1 = min(g.w - 1, math.floor((100410.9 - x0) / g.px_res - 0.5))
        ly0 = max(0, math.ceil((100050.7 - y0) / g.px_res - 0.5))
        ly1 = min(g.h - 1, math.floor((100350.1 - y0) / g.px_res - 0.5))
        exp = a[ly0:ly1 + 1, lx0:lx1 + 1]
        got = codec.decode(r.bytes, r.h, r.w, "raw")
        assert (got == exp).all()
        assert (r.lx0, r.ly0) == (lx0, ly0)


def test_bm25_topk_vs_python(docs):
    """bm25_topk matches a from-scratch python Okapi BM25 (Lucene idf)
    with the same 6-dp contribution pinning and 4-dp final rounding."""
    terms = ("spark", "query", "scan")
    out = textqa.bm25_topk(docs, query_terms=terms, k=5).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    import math
    import re as _re

    tok = {r.doc_id: _re.sub(r"[^a-z0-9]+", " ",
                             r.text.lower()).strip().split()
           for r in pdf.itertuples()}
    n = len(tok)
    avgdl = sum(len(t) for t in tok.values()) / n
    df_ct = {q: sum(1 for ts in tok.values() if q in ts) for q in terms}
    scores = {}
    for d, ts in tok.items():
        s = 0.0
        for q in terms:
            tf = ts.count(q)
            if not tf or not df_ct[q]:
                continue
            idf = math.log(1.0 + (n - df_ct[q] + 0.5) / (df_ct[q] + 0.5))
            part = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ts) / avgdl))
            s += math.floor(idf * part * 1e6 + 0.5) / 1e6
        if s > 0:
            scores[d] = math.floor(s * 10000 + 0.5) / 10000.0
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = list(out.sort_values("rnk")[["doc_id", "score"]]
               .itertuples(index=False, name=None))
    assert got == want
    assert out["rnk"].sort_values().tolist() == list(range(1, 6))


def test_bm25_topk_excludes_nonmatching_docs(spark):
    """The row-local tf-vector formulation must still exclude documents
    with NO matching term even when fewer than k documents match (the
    exploded-tf formulation excluded them structurally; the row-local
    one needs its exists() filter), and must count repeated occurrences
    of a term within one document."""
    rows = [(1, "spark spark runs a query"),
            (2, "nothing relevant here at all"),
            (3, "plain text with no hits either")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = textqa.bm25_topk(docs, query_terms=("spark", "query"),
                           k=5).toPandas()
    assert out["doc_id"].tolist() == [1]
    assert out["rnk"].tolist() == [1]
    # tf really is the occurrence count: doc 1 has tf(spark)=2,
    # tf(query)=1; recompute the pinned score from scratch
    import math

    n, avgdl = 3, (5 + 5 + 6) / 3
    score = 0.0
    for tf, df_ct in ((2, 1), (1, 1)):
        idf = math.log(1.0 + (n - df_ct + 0.5) / (df_ct + 0.5))
        part = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * 5 / avgdl))
        score += math.floor(idf * part * 1e6 + 0.5) / 1e6
    assert out["score"].iloc[0] == math.floor(score * 1e4 + 0.5) / 1e4


def test_bm25_topk_duplicate_query_term_counts_once(spark):
    """A query term repeated (in any case) scores as if given once."""
    rows = [(1, "spark spark runs a query"), (2, "a query about scan"),
            (3, "plain text with no hits either")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    once_ = textqa.bm25_topk(docs, query_terms=("spark", "query"),
                             k=5).toPandas()
    twice = textqa.bm25_topk(docs, query_terms=("spark", "query", "Spark"),
                             k=5).toPandas()
    assert len(once_) == 2
    pd.testing.assert_frame_equal(twice, once_)


def test_bm25_topk_empty_query(spark):
    """An empty query returns no rows, with the (doc_id, score, rnk)
    schema of a non-empty one."""
    docs = spark.createDataFrame([(1, "spark query")],
                                 "doc_id long, text string")
    out = textqa.bm25_topk(docs, query_terms=(), k=5)
    ref = textqa.bm25_topk(docs, query_terms=("spark",), k=5)
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema] == \
        [(f.name, f.dataType) for f in ref.schema]


def test_kmeans_assign_vs_numpy(embeddings):
    """kmeans_assign matches a from-scratch numpy Lloyd's with the same
    deterministic init, 6-dp centroid pinning, and tie rule."""
    import numpy as np

    out = similarity.kmeans_assign(embeddings, k=4, iters=2).toPandas()
    pdf = (embeddings.select("vec_id", "embedding").toPandas()
           .sort_values("vec_id").reset_index(drop=True))
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents = X[:4].copy()
    for it in range(3):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin ties -> lowest index
        if it == 2:
            break
        for j in range(4):
            sel = X[assign == j]
            if len(sel):
                cents[j] = np.floor(sel.mean(axis=0) * 1e6 + 0.5) / 1e6
    got = out.sort_values("vec_id")
    assert got["cluster"].to_numpy().tolist() == assign.tolist()
    want_d = np.floor(d[np.arange(len(X)), assign] * 1e4 + 0.5) / 1e4
    assert np.allclose(got["dist"].to_numpy(), want_d, atol=2e-4)


def test_semantic_dedup_keep_rule(embeddings):
    """Every dropped vector has a kept-or-dropped lower-id 0.35-cosine
    neighbour in its own cluster; the lowest id of each cluster is
    always kept; no cross-cluster pair influences the decision."""
    import numpy as np

    out = similarity.semantic_dedup(
        embeddings, k=4, iters=2, tau=0.35).toPandas()
    pdf = (embeddings.select("vec_id", "embedding").toPandas()
           .sort_values("vec_id").reset_index(drop=True))
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cl = out.sort_values("vec_id")["cluster"].to_numpy()
    keep = out.sort_values("vec_id")["keep"].to_numpy()
    cos = np.floor(Xn @ Xn.T * 1e4 + 0.5) / 1e4
    ids = pdf["vec_id"].to_numpy()
    for i in range(len(ids)):
        lower_same = (ids < ids[i]) & (cl == cl[i])
        has_dup = bool((cos[i][lower_same] >= 0.35).any())
        assert keep[i] == (not has_dup), ids[i]
    assert (~keep).sum() > 0  # gate is non-vacuous
