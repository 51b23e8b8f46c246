"""Seeded benchmark inputs, cached on disk by seed and size.

Everything the program receives is generated here from ``--seed``:

* drill tiles + polygon layer (``datagen.GridSpec.seed`` feeds
  ``make_polygons`` and every tile's pixels),
* the numpy oracle of the stored timesteps (``oracle.oracle_drill``),
* a synthetic documents corpus with a planted duplicate structure.

Generated files live under ``<checkout>/.perfbench_data/`` (git-ignored),
one directory per (kind, seed, size), and are reused by later runs with
the same key.  Generation time is reported as information only; it is
never part of ``setup_s``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import pickle
import shutil
import string
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, ".perfbench_data")


@dataclasses.dataclass(frozen=True)
class DrillSize:
    """A drill input: G x G grid slots of w x w px, ``t_stored`` stored
    timesteps, replicated ``rep``-fold JVM-side (``bench._replicate``)."""

    plugin: str
    G: int
    w: int
    t_stored: int
    rep: int
    n_small: int
    n_medium: int
    n_huge: int
    files: int = 8

    @property
    def key(self) -> str:
        return (f"{self.plugin}_G{self.G}_w{self.w}_T{self.t_stored}"
                f"_p{self.n_small}-{self.n_medium}-{self.n_huge}")

    @property
    def n_tiles(self) -> int:
        return self.G * self.G * self.t_stored * self.rep


@dataclasses.dataclass(frozen=True)
class DocsSize:
    """A documents corpus: ``n_docs`` base documents (random texts plus
    planted duplicate groups), replicated ``rep``-fold by a per-replica
    alphabet rotation (the ``bench.ensure_docs_scaled`` bijection)."""

    n_docs: int
    n_groups: int
    vocab: int
    rep: int
    files: int = 8

    @property
    def key(self) -> str:
        return f"n{self.n_docs}_g{self.n_groups}_v{self.vocab}_r{self.rep}"


def _ensure_dirs() -> None:
    os.makedirs(DATA_DIR, exist_ok=True)


def _publish(tmp: str, final: str) -> None:
    """Move a fully written ``tmp`` directory into place (a run that dies
    mid-generation leaves only a ``.tmp`` directory, never a partial
    cache entry)."""
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def _write_parquet_files(pdf, path: str, n_files: int) -> None:
    """Split a pandas frame into ``n_files`` parquet files so the scan
    yields several input splits (one file would be a single task)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


# ------------------------------------------------------------------ drill

class DrillInput:
    """Tiles (parquet), polygon list and oracle for one (seed, size)."""

    def __init__(self, seed: int, size: DrillSize):
        from dea_conflux_spark import datagen

        self.seed = seed
        self.size = size
        # the timed grid spans every replicated timestep; only
        # ``t_stored`` of them are generated and stored
        self.grid = datagen.GridSpec(G=size.G, T=size.t_stored * size.rep,
                                     w=size.w, h=size.w, seed=seed)
        self.stored_grid = datagen.GridSpec(G=size.G, T=size.t_stored,
                                            w=size.w, h=size.w, seed=seed)
        self.dir = os.path.join(DATA_DIR, f"drill_{size.key}_s{seed}")
        self.tiles_path = os.path.join(self.dir, "tiles")
        self.gen_s = 0.0
        self.polys: list = []

    def ensure(self) -> "DrillInput":
        """Generate (or load) tiles, polygons and the oracle."""
        _ensure_dirs()
        if not os.path.exists(os.path.join(self.dir, "DONE")):
            t0 = time.monotonic()
            self._generate()
            self.gen_s = time.monotonic() - t0
        with open(os.path.join(self.dir, "polys.pkl"), "rb") as f:
            self.polys = pickle.load(f)
        return self

    def _generate(self) -> None:
        from dea_conflux_spark import datagen, oracle
        from dea_conflux_spark.plugins import get_plugin

        s = self.size
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        polys = datagen.make_polygons(self.grid, n_small=s.n_small,
                                      n_medium=s.n_medium, n_huge=s.n_huge)
        if s.plugin == "wit_ls9":
            tiles = datagen.make_wit_tiles_pdf(self.stored_grid, polys)
        else:
            tiles = datagen.make_tiles_pdf(self.stored_grid, polys)
        _write_parquet_files(tiles, os.path.join(tmp, "tiles"), s.files)
        expected = oracle.oracle_drill(self.stored_grid, polys, tiles,
                                       get_plugin(s.plugin), partial=True)
        expected.to_parquet(os.path.join(tmp, "oracle.parquet"))
        with open(os.path.join(tmp, "polys.pkl"), "wb") as f:
            pickle.dump(polys, f)
        with open(os.path.join(tmp, "DONE"), "w") as f:
            json.dump({"seed": self.seed, **dataclasses.asdict(s)}, f)
        _publish(tmp, self.dir)

    def oracle(self):
        import pandas as pd

        return pd.read_parquet(os.path.join(self.dir, "oracle.parquet"))

    def stored_tiles(self):
        """The stored tiles as pandas (image_id, bytes, w, h, fmt, ...)."""
        import pandas as pd

        return pd.read_parquet(self.tiles_path)


# ------------------------------------------------------------------- docs

BM25_TERMS = ("spark", "query", "scan")  # textqa.BM25_QUERY_TERMS


class DocsInput:
    """Documents corpus for one (seed, size) and its expected leaf counts.

    The base corpus holds ``n_docs`` documents: random texts over a
    seeded pseudo-word vocabulary, plus ``n_groups`` planted duplicate
    groups.  A group is built from one random phrase P; its members are
    ``rot_k(P) + rot_k(P)`` for a few distinct token rotations k, and an
    exact copy (different case and punctuation) of one of them.  Every
    member of a group therefore has the same token multiset (identical
    SimHash) and the same 3-gram set (the cyclic 3-grams of P, Jaccard
    exactly 1), while distinct rotations differ after normalisation
    (distinct exact-dedup groups).  Random documents share almost no
    3-grams, so every near-duplicate leaf finds exactly the planted
    pairs whatever hash functions it uses — which is what makes the
    rotated replicas' counts exactly ``rep`` x the base counts.
    """

    def __init__(self, seed: int, size: DocsSize):
        self.seed = seed
        self.size = size
        self.dir = os.path.join(DATA_DIR, f"docs_{size.key}_s{seed}")
        self.gen_s = 0.0
        self.expected: dict = {}
        self.base_expected: dict = {}

    @property
    def n_total(self) -> int:
        return self.size.n_docs * self.size.rep

    def ensure(self) -> "DocsInput":
        _ensure_dirs()
        if not os.path.exists(os.path.join(self.dir, "DONE")):
            t0 = time.monotonic()
            self._generate()
            self.gen_s = time.monotonic() - t0
        with open(os.path.join(self.dir, "DONE")) as f:
            meta = json.load(f)
        self.base_expected = meta["base_expected"]
        self.expected = meta["expected"]
        return self

    def base_dir(self) -> str:
        """sf-style directory holding the rep-1 corpus."""
        return os.path.join(self.dir, "rep1")

    def scaled_dir(self) -> str:
        """sf-style directory holding the rep-R corpus."""
        return os.path.join(self.dir, "repR")

    def _base_docs(self):
        s = self.size
        rng = np.random.default_rng([self.seed, 11])
        letters = np.array(list(string.ascii_lowercase))
        vocab = set(BM25_TERMS)
        while len(vocab) < s.vocab:
            n = int(rng.integers(4, 9))
            vocab.add("".join(rng.choice(letters, n)))
        vocab = sorted(vocab)
        texts = []
        groups = []
        for g in range(s.n_groups):
            phrase = list(rng.choice(vocab, int(rng.integers(12, 30)),
                                     replace=False))
            n_rot = int(rng.integers(2, 4))
            shifts = rng.choice(len(phrase), n_rot, replace=False)
            members = []
            for k in shifts:
                p = phrase[k:] + phrase[:k]
                members.append(" ".join(p + p))
            members.append(members[0].upper().replace(" ", ", "))
            groups.append(len(members))
            texts.extend(members)
        while len(texts) < s.n_docs:
            n = int(rng.integers(20, 80))
            texts.append(" ".join(rng.choice(vocab, n)))
        order = rng.permutation(len(texts))
        return [texts[i] for i in order], groups

    def _generate(self) -> None:
        import pandas as pd

        s = self.size
        texts, groups = self._base_docs()
        n = len(texts)
        alpha = string.ascii_lowercase
        rows = {"doc_id": [], "text": [], "lang": [], "source": [],
                "n_chars": []}
        for k in range(s.rep):
            table = str.maketrans(alpha + alpha.upper(),
                                  alpha[k:] + alpha[:k]
                                  + alpha.upper()[k:] + alpha.upper()[:k])
            for i, t in enumerate(texts):
                tt = t.translate(table)
                rows["doc_id"].append(k * 10_000_000 + i)
                rows["text"].append(tt)
                rows["lang"].append("en")
                rows["source"].append(f"src{i % 5}")
                rows["n_chars"].append(len(tt))
        pdf = pd.DataFrame(rows)
        pdf["doc_id"] = pdf["doc_id"].astype("int64")
        pdf["n_chars"] = pdf["n_chars"].astype("int64")

        def norm_tokens(t):
            return "".join(c if c.isalnum() else " "
                           for c in t.lower()).split()

        toks = [norm_tokens(t) for t in texts]
        n_pairs = sum(m * (m - 1) // 2 for m in groups)
        base = {
            "docs_exact_dedup": len({" ".join(t) for t in toks}),
            "docs_minhash_lsh_pairs": n_pairs,
            "docs_ngram_jaccard_pairs": n_pairs,
            "docs_neardup_components": sum(groups),
            "docs_neardup_components.groups": len(groups),
            "doc_tfidf_top_terms": sum(min(3, len(set(t))) for t in toks),
        }
        matching = sum(1 for t in toks if set(t) & set(BM25_TERMS))
        expected = {q: v * s.rep for q, v in base.items()}
        # BM25 scores the fixed query terms, which only the unrotated
        # replica contains: top-k rows, not rep x the base count
        base["doc_bm25_topk"] = min(10, matching)
        expected["doc_bm25_topk"] = min(10, matching)

        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_parquet_files(pdf.iloc[:n],
                             os.path.join(tmp, "rep1", "documents.parquet"),
                             s.files)
        _write_parquet_files(pdf, os.path.join(tmp, "repR",
                                               "documents.parquet"), s.files)
        with open(os.path.join(tmp, "DONE"), "w") as f:
            json.dump({"seed": self.seed, **dataclasses.asdict(s),
                       "base_expected": base, "expected": expected}, f)
        _publish(tmp, self.dir)
