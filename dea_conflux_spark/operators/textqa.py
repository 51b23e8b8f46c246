"""Text-analysis operators for the training-data pipeline surface.

Everything stays in native ``pyspark.sql.functions`` (JVM, codegen) — no
Python in the hot path.  The shared deterministic 60-bit hash
``md5i(x) = bigint(conv(substr(md5(x),1,15),16,10))`` is arithmetic both
Spark and DuckDB compute identically, so every operator here has an exact
SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]

LANG_MARKERS = {
    "en": ["the", "and", "with"],
    "de": ["der", "und", "mit"],
    "es": ["el", "la", "con"],
    "fr": ["le", "et", "avec"],
}


def ensure_spread(df: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Repartition ``df`` when its scan yields far fewer splits than the
    session's parallelism.

    Tokenisation / shingling is the CPU-heavy per-row stage of every text
    operator; if the input is a handful of large single-row-group parquet
    files (row groups are Spark's split granularity), the whole stage runs
    on a few cores.  The one narrow-row shuffle is cheap next to the regex
    work it parallelises.  On a healthy multi-file layout the scan already
    has >= parallelism splits and this is a no-op — callers with light
    per-row work should NOT use it (the exchange would dominate).

    ``by`` optionally hash-partitions on those columns instead of
    round-robin: a downstream groupBy/window keyed on a superset of
    ``by`` then reuses this exchange (hash(a) satisfies clustering by
    (a, b)), so the spread shuffle replaces the aggregation shuffle
    instead of adding to it — and skips round-robin's
    sort-before-repartition pass.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par, *by) if by else df.repartition(par)
    return df


def once(df: DataFrame) -> DataFrame:
    """Materialise ``df`` lazily to executor block storage
    (``localCheckpoint``) so several downstream consumers compute it ONCE
    instead of re-deriving the full lineage each — exchange reuse does
    not unify independent consumers.  At cluster scale the same role is
    played by a scratch-parquet materialisation (see dedup._once, the
    original of this pattern)."""
    return df.localCheckpoint(eager=False)


def md5i(col) -> Column:
    """Deterministic 60-bit integer hash (identical in DuckDB via
    ``('0x' || substr(md5(x),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def round4(col) -> Column:
    """Explicit half-up 4-dp rounding as pure float arithmetic —
    ``floor(x*10000 + 0.5)/10000`` — so Spark and DuckDB produce the exact
    same double (builtin round() differs between engines at .5 ties)."""
    return F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)


def norm_text(col) -> Column:
    """Lowercase, collapse whitespace/punctuation to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def tokens_col(col) -> Column:
    return F.split(norm_text(col), r"\s+")


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword piece count (every run of
    letters-or-digits of length <= 4, longer words counted ceil(len/4)).
    Row-local output; ``ensure_spread`` parallelises the regex tokenise
    when the scan is under-split (no-op on healthy layouts)."""
    d = ensure_spread(docs).select(
        "doc_id", tokens_col(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_pieces = F.aggregate(
        toks, F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int"))
    return d.select(
        "doc_id", n_tok.alias("n_tokens"),
        n_pieces.cast("long").alias("n_subword_pieces"))


def quality_scores(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Heuristic document quality: length, punctuation density, stopword
    ratio, mean token length, and a blended 0-1 score.  ``keep`` names
    extra input columns to carry through (lets callers rank/join on
    quality without a second corpus scan)."""
    docs = docs.select("doc_id", "text", *keep,
                       tokens_col(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[.,!?;:]"), 0))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    mean_len = round4(F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t).cast("long")) / n_tok)
    punct_ratio = round4(n_punct / n_chars)
    stop_ratio = round4(n_stop / n_tok)
    score = round4(
        F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.5
        + stop_ratio * 0.3
        + F.greatest(F.lit(0.0), F.lit(0.2) - punct_ratio))
    return docs.select(
        "doc_id", *keep, n_chars.alias("n_chars_m"), n_tok.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"), stop_ratio.alias("stop_ratio"),
        mean_len.alias("mean_token_len"), score.alias("quality"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 0) -> DataFrame:
    """(doc_id, chunk_idx, n_chunk_tokens, chunk_text) — split each
    document into token-budget chunks for context-window-sized training
    examples: chunk *i* covers tokens ``[i*stride, i*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap`` (overlap
    keeps boundary context; the final chunk may be short).

    Entirely JVM expressions — tokenize once, ``sequence`` +
    ``transform``/``slice`` build the chunk array, one ``explode``
    fans out — so chunking is a narrow map over the scan (no Python,
    no shuffle); the fan-out factor is bounded by doc length /
    stride."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap} / "
            f"{chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = F.col("toks")
    n = F.size(toks)
    # tokens_col never yields an empty array (split('') == ['']), so
    # every doc has >= 1 chunk and the sequence stop is >= 0
    n_chunks = F.ceil(n / F.lit(float(stride))).cast("int")
    chunk = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    d = (docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
         .select("doc_id", "toks", chunk))
    piece = F.slice(toks, F.col("chunk_idx") * stride + 1, chunk_tokens)
    return d.select(
        "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"))


def quality_threshold_filter(docs: DataFrame, quantile: float = 0.5,
                             by: str = "lang") -> DataFrame:
    """(doc_id, <by>, quality) — keep documents whose blended quality
    score reaches their group's ``quantile`` cutoff: the
    filter-by-corpus-statistics pass (drop the bottom half of each
    language, say) that a pretraining pipeline runs after scoring.

    Scale shape: the cutoffs are a per-group aggregate (groups are
    few — languages/sources), broadcast back as a tiny dimension and
    applied as a row-local comparison.  No per-group ranking window
    ever sees the corpus — a ``percent_rank`` over a handful of group
    partitions would funnel every row of a group through one reducer,
    which is exactly the shape this avoids.  Exact ``percentile`` (==
    DuckDB ``quantile_cont``) keeps the SQL oracle bit-exact; swap in
    ``percentile_approx`` when group value buffers outgrow executor
    memory."""
    if not 0.0 <= quantile <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {quantile}")
    qs = quality_scores(docs, keep=(by,)).select(by, "doc_id", "quality")
    cuts = qs.groupBy(by).agg(
        F.percentile("quality", quantile).alias("cut"))
    return (qs.join(F.broadcast(cuts), by)
            .filter(F.col("quality") >= F.col("cut"))
            .select("doc_id", by, "quality"))


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language id: count each language's marker tokens; predict
    the argmax (ties / zero evidence -> 'unk').  Deterministic tie-break by
    language code order."""
    docs = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    toks = F.col("toks")

    def marker_count(markers):
        # NB: F.filter treats a 2-arg lambda as (element, index) — a default
        # arg would silently bind the index column; close over instead.
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    counts = {lang: marker_count(markers)
              for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    pred = F.when(best <= 0, F.lit("unk"))
    for lang in sorted(LANG_MARKERS):
        pred = pred.when(counts[lang] == best, F.lit(lang))
    sel = [F.col("doc_id")]
    sel += [counts[lang].alias(f"n_{lang}") for lang in sorted(LANG_MARKERS)]
    sel += [pred.alias("pred_lang")]
    return docs.select(*sel)


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, term, tf, df, tfidf, rnk) — each document's ``k`` highest
    TF-IDF terms (smoothed idf: ``ln((N+1)/(df+1)) + 1``, sklearn's
    convention).

    Plan shape at scale: one explode + two hash aggregates (term counts
    per doc, then document frequency per term) and a join back on
    ``term`` — the df table is vocabulary-sized and explicitly
    broadcast; the per-doc top-k is one ranking window (partial
    WindowGroupLimit below the exchange).  No Python anywhere.  The
    (doc, term, tf) table is materialised ONCE (``once`` — scratch
    storage at cluster scale) and feeds both the scoring branch and the
    document-frequency branch: the round-5 plan instead re-ran the
    tokenise+explode+aggregate lineage per branch (two full corpus regex
    passes).  When the scan is under-split, ``ensure_spread(by=doc_id)``
    hash-partitions on doc_id so the tf aggregation reuses the spread
    exchange (hash(doc_id) satisfies clustering by (doc_id, term)) —
    one shuffle establishes both parallelism and the tf grouping.  Both
    aggregates combine map-side, so hot terms never skew a reducer.
    """
    toks = ensure_spread(docs, by=("doc_id",)).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = once(toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) \
        + F.lit(1.0)
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(n_docs))
              .select("doc_id", "term", "tf", "df",
                      round4(F.col("tf") * idf).alias("tfidf")))
    w = W.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def top_bigrams(docs: DataFrame, k: int = 20) -> DataFrame:
    """(bigram, n) — the ``k`` most frequent token bigrams across the
    corpus (tie-break: bigram ascending).  Corpus-level n-gram statistics
    drive contamination checks and boilerplate detection; the plan is an
    explode + one hash aggregate + a TakeOrdered(k) — no full sort.

    Degenerate one-token documents contribute their single token (the
    ``greatest(size-1, 1)`` window + null-skipping concat_ws — the same
    short-document convention as ``fingerprints``, mirrored in the SQL
    oracle's clamped list slice)."""
    toks = tokens_col(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)))
    return (docs.select(F.explode(grams).alias("bigram"))
            .groupBy("bigram").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram"))
            .limit(k))


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: whole-document md5 of normalised text plus a
    min-sampled 4-gram fingerprint (min over token 4-gram hashes — the
    hash-rolling analogue of winnowing with window = document)."""
    docs = docs.select("doc_id", norm_text(F.col("text")).alias("norm"),
                       tokens_col(F.col("text")).alias("toks"))
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 3, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1),
            F.element_at(toks, i + 2), F.element_at(toks, i + 3)))
    min_gram = F.array_min(F.transform(grams, md5i))
    return docs.select(
        "doc_id", F.md5(F.col("norm")).alias("doc_md5"),
        min_gram.alias("min_gram_hash"))


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    quality filters, adapted to single-line text): token diversity, the
    positional share of the most frequent word bigram, and the duplicate
    token-trigram fraction.

    Every signal is a ROW-LOCAL JVM expression over the token array —
    higher-order functions only, no explode, no per-gram shuffle (the
    plan's only exchange is ``ensure_spread``'s narrow row-balancing
    repartition when the scan is under-split, and that disappears on a
    healthy multi-file layout).  At 100 TB this is the ideal shape: a map over
    the corpus whose cost is the regex tokenise plus O(tokens log tokens)
    per row, embarrassingly parallel, with column pruning limiting the
    scan to (doc_id, text).  The top-bigram count — normally a per-doc
    groupBy — is computed as the longest run in the SORTED bigram array
    via one ``F.aggregate`` scan, avoiding the per-gram shuffle an
    explode+groupBy formulation would pay.

    Output: (doc_id, n_tokens, distinct_token_frac, top_bigram_frac,
    dup_trigram_frac), fractions 4-dp rounded half-up so the DuckDB
    oracle (which computes the bigram mode by unnest+GROUP BY) matches
    bit-for-bit.
    """
    d = ensure_spread(docs).select(
        "doc_id", tokens_col(F.col("text")).alias("toks"))
    toks = F.col("toks")

    def grams(n):
        return F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]))

    d = d.select("doc_id", toks,
                 F.array_sort(grams(2)).alias("bi2"),
                 grams(3).alias("tri"))
    # longest run in the sorted bigram list == max bigram multiplicity
    acc0 = F.struct(F.lit("").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top_bi = F.aggregate(F.col("bi2"), acc0, step, lambda a: a["best"])
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        round4(F.size(F.array_distinct(toks)) / F.size(toks))
        .alias("distinct_token_frac"),
        round4(top_bi / F.size(F.col("bi2"))).alias("top_bigram_frac"),
        round4(F.lit(1.0) - F.size(F.array_distinct(F.col("tri")))
               / F.size(F.col("tri"))).alias("dup_trigram_frac"))


# PII/boilerplate scrub patterns — deliberately RE2-compatible (no
# lookaround, no backreferences) so the exact same pattern strings run
# in Spark's Java regex AND the DuckDB oracle's RE2.
SCRUB_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("url", r"https?://[^ \t\n]+", "<URL>"),
    ("phone", r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
]


def scrub_text(docs: DataFrame, text_col: str = "text",
               out_col: str = "scrubbed") -> DataFrame:
    """Mask emails / URLs / phone numbers in ``text_col`` — the PII
    redaction pass an LLM training-data pipeline runs before
    tokenisation.  Pure JVM ``regexp_replace`` chain (one projection, no
    shuffle, no Python), patterns shared verbatim with the SQL oracle."""
    col = F.col(text_col)
    for _, pat, repl in SCRUB_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return docs.withColumn(out_col, col)


# Default ad-hoc search terms for the BM25 demo entry — chosen from the
# synthetic corpus vocabulary so the query is non-vacuous at every SF.
BM25_QUERY_TERMS = ("spark", "query", "scan")


def bm25_topk(docs: DataFrame, query_terms=BM25_QUERY_TERMS, k: int = 10,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(doc_id, score, rnk) — the ``k`` documents best matching
    ``query_terms`` under Okapi BM25 (Lucene's idf convention,
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    The retrieval scorer of a training-data curation loop (query-targeted
    subcorpus extraction, contamination triage).  Plan shape at scale:
    term frequencies against a FIXED query-term list are row-local — a
    document's tf vector needs no explode and no (doc, term) shuffle —
    so the corpus is tokenised ONCE and reduced in the same projection
    to ``(doc_id, dl, tfs array<int>)`` (doc length + per-query-term
    counts), and THAT narrow table materialises (``once``) for its two
    consumers.  Consumer 1 is a single ONE-ROW aggregate producing
    n_docs, avgdl and every per-term document frequency
    (``sum(tfs[i] > 0)``) together — map-side partials, |Q|+2 numbers
    per task; consumer 2 scores each matching document row-locally
    against that broadcast stats row and feeds TakeOrdered(k).  The
    round-5 plan re-ran the regex tokenise for three consumers and
    shuffled tf/df/per-doc aggregates through three exchanges; now
    nothing corpus-sized is ever exchanged at any scale.  Per-term
    contributions stay 6-dp pinned before the per-document sum so the
    Spark and DuckDB oracles add identical doubles (documents with no
    matching term are excluded, as before — they have no tf rows in the
    oracle's formulation).  No Python anywhere.

    A query term given twice counts once; an empty query matches nothing.
    """
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        return docs.select("doc_id", F.lit(0.0).alias("score"),
                           F.lit(1).alias("rnk")).limit(0)
    # the token array is projected once; dl and every tf read that column
    toks = F.col("toks")
    row = once(ensure_spread(docs)
               .select("doc_id", tokens_col(F.col("text")).alias("toks"))
               .select("doc_id", F.size(toks).alias("dl"), F.array(*[
                   F.size(F.filter(toks, lambda t: t == F.lit(term)))
                   for term in terms]).alias("tfs")))
    stats = row.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"),
        *[F.sum((F.col("tfs")[i] > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))])

    def _contrib(i):
        tf = F.col("tfs")[i].cast("double")
        dfreq = F.col(f"df_{i}")
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - dfreq + F.lit(0.5))
                    / (dfreq + F.lit(0.5)))
        tf_part = (tf * (F.lit(k1) + 1.0)
                   / (tf + F.lit(k1)
                      * (F.lit(1.0) - F.lit(b)
                         + F.lit(b) * F.col("dl") / F.col("avgdl"))))
        return F.floor(idf * tf_part * 1000000 + F.lit(0.5)) / F.lit(1e6)

    per_doc = (row.filter(F.exists("tfs", lambda x: x > 0))
               .crossJoin(F.broadcast(stats))
               .select("doc_id", round4(
                   sum([_contrib(i) for i in range(1, len(terms))],
                       _contrib(0))).alias("score")))
    # top-k via orderBy().limit() — Spark plans TakeOrderedAndProject
    # (per-partition heaps + driver merge of k rows), so no global
    # single-reducer sort; the rank window then runs over k rows only
    topk = per_doc.orderBy(F.col("score").desc(), "doc_id").limit(k)
    w = W.orderBy(F.col("score").desc(), F.col("doc_id"))
    return topk.withColumn("rnk", F.row_number().over(w))
