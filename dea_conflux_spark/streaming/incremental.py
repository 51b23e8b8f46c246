"""Incremental / NRT drill via Structured Streaming.

The reference's queue-driven loop (SQS receive → drill → write → ack,
reference __main__.py:606-797 ``nrt_run_from_queue``) maps to a file-source
stream over the tile table with ``foreachBatch``: each micro-batch runs the
same drill-partials pipeline and appends to the partials store; the ledger
semantics (exactly-once per tile) come from the streaming checkpoint.  The
final combine stays a batch query over accumulated partials (dedup is
quality-based, not time-windowed — SURVEY.md §2.I: do NOT model it as a
watermark).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import TILE_SCHEMA, GridSpec
from ..operators.drill import drill_partials
from ..operators.tilecells import image_id_keys


def nrt_drill_stream(spark, tiles_path: str, polygons, plugin,
                     grid: GridSpec, out_dir: str, checkpoint: str,
                     trigger_available_now: bool = True):
    """Start (and return) a streaming query that drills tiles as their
    files land in ``tiles_path``, appending per-(poly, tile) partials to
    ``out_dir`` partitioned by day."""
    stream = (spark.readStream.schema(TILE_SCHEMA)
              .option("maxFilesPerTrigger", 8)
              .parquet(tiles_path))

    def run_batch(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        # rings="join": an NRT micro-batch carries ~1 timestep per
        # footprint, so the join payload is not duplicated — and the
        # per-batch driver collect of the dim broadcast is avoided
        parts = drill_partials(batch_df, polygons, plugin, grid,
                               rings="join")
        parts = (parts.withColumn("day", F.date_format("ts", "yyyyMMdd"))
                 .withColumn("epoch", F.lit(int(epoch_id)).cast("long")))
        # Exactly-once SINK semantics: output is keyed by epoch and
        # dynamically overwritten, so a micro-batch retried after a
        # mid-write failure replaces its own partitions instead of
        # appending the same epoch's partials twice (the streaming
        # checkpoint alone only guarantees the batch is re-delivered).
        sess = batch_df.sparkSession
        prev = sess.conf.get("spark.sql.sources.partitionOverwriteMode",
                             "static")
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (parts.write.mode("overwrite").partitionBy("epoch", "day")
             .parquet(out_dir))
        finally:
            sess.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    writer = (stream.writeStream.foreachBatch(run_batch)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")


def fp_ledger_dir(out_dir: str) -> str:
    return out_dir.rstrip("/") + "_fps"


def dedup_docs_stream(spark, docs_path: str, out_dir: str, checkpoint: str,
                      trigger_available_now: bool = True):
    """Streaming corpus ingest with exact dedup: documents landing in
    ``docs_path`` are fingerprinted (md5 of normalised text) and appended
    to ``out_dir`` only if their content was never accepted before —
    first arrival wins, the streaming analogue of ``dedup.exact_dedup``
    for a corpus that grows continuously.

    Semantics per micro-batch: (1) in-batch winners by (fp, min doc_id)
    ranking window; (2) cross-batch novelty via LEFT ANTI join against a
    dedicated FINGERPRINT LEDGER (``<out_dir>_fps``: fp-only rows,
    epoch-partitioned) — the same anti-join-vs-ledger shape as the
    drill's resume path (operators/ledger).  Per-batch novelty cost is a
    scan of the ledger's tiny fp rows, O(distinct fingerprints), NOT a
    rescan of the accumulated document corpus (whose rows carry full
    text); the accepted output is never read back.  Compact the ledger's
    epoch partitions between runs with :func:`compact_fp_ledger`; at
    real deployment scale the same role is played by an Iceberg/Delta
    MERGE target or a ledger bucketed by fp prefix.

    Exactly-once: both the output docs and the ledger rows are keyed by
    epoch and dynamically overwritten, and the novelty join EXCLUDES the
    current epoch's own (possibly partially written) ledger partition,
    so a retried micro-batch neither duplicates nor suppresses itself."""
    from pyspark.sql import Window as W

    from ..operators.textqa import norm_text

    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(docs_path))
    ledger = fp_ledger_dir(out_dir)

    def run_batch(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        b = batch_df.withColumn("fp", F.md5(norm_text(F.col("text"))))
        w = W.partitionBy("fp").orderBy("doc_id")
        b = (b.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") == 1).drop("rk"))
        from pyspark.errors import AnalysisException

        _finish_pending_compaction(ledger)
        try:
            seen = (sess.read.parquet(ledger)
                    .filter(F.col("epoch") != int(epoch_id))
                    .select("fp"))
        except AnalysisException:
            # No ledger.  Either a true first batch (no output either), or
            # an out_dir written before the fp-ledger scheme existed —
            # without a bootstrap that upgrade case would be treated as a
            # first batch and duplicates of every pre-upgrade doc would be
            # re-accepted.  Rebuild the ledger once from the accepted
            # output itself (idempotent: derived purely from output
            # content, so a retried batch redoes the identical write).
            seen = None
            try:
                prior = sess.read.parquet(out_dir)
                fp0 = (F.col("fp") if "fp" in prior.columns
                       else F.md5(norm_text(F.col("text"))))
                (prior.select(fp0.alias("fp")).distinct()
                 .withColumn("epoch", F.lit(-1).cast("long"))
                 .write.mode("overwrite").partitionBy("epoch")
                 .parquet(ledger))
                seen = sess.read.parquet(ledger).select("fp")
            except AnalysisException:
                pass  # genuinely the first batch
        if seen is not None:
            b = b.join(seen, "fp", "left_anti")
        out = b.withColumn("epoch", F.lit(int(epoch_id)).cast("long"))
        # the novelty anti-join would otherwise run once per write below
        out = out.localCheckpoint(eager=True)
        prev = sess.conf.get("spark.sql.sources.partitionOverwriteMode",
                             "static")
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (out.write.mode("overwrite").partitionBy("epoch")
             .parquet(out_dir))
            # ledger write AFTER the output commit: a crash in between
            # retries the epoch, which overwrites both partitions
            (out.select("fp", "epoch").write.mode("overwrite")
             .partitionBy("epoch").parquet(ledger))
        finally:
            sess.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    writer = (stream.writeStream.foreachBatch(run_batch)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _compact_tmp_dir(ledger: str) -> str:
    return ledger.rstrip("/") + "__compact_new"


def _finish_pending_compaction(ledger: str) -> None:
    """Complete a compaction swap interrupted between the two renames: the
    old ledger was moved aside but the compacted replacement was not yet
    moved in.  The replacement (written + _SUCCESS before any rename
    starts) becomes the ledger; without this the next batch would see no
    ledger at all and silently re-accept duplicates."""
    import os

    tmp = _compact_tmp_dir(ledger)
    if (not os.path.isdir(ledger) and os.path.isdir(tmp)
            and os.path.exists(os.path.join(tmp, "_SUCCESS"))):
        os.rename(tmp, ledger)


def compact_fp_ledger(spark, out_dir: str) -> int:
    """Collapse the fingerprint ledger's per-epoch partitions into one
    ``epoch=-1`` base partition (run while the stream is stopped).

    Keeps the ledger's file count O(1) instead of O(epochs) — the
    per-batch file-listing cost stays flat no matter how long the stream
    has been running.  Batches only ever write epoch >= 0 and the
    novelty join only ever excludes the CURRENT epoch, so the base
    partition is always visible to it.  Returns the distinct-fp count.

    Crash safety: the ledger is the stream's only cross-batch dedup
    state, so it is never overwritten in place (an in-place
    ``mode('overwrite')`` deletes every fingerprint before rewriting —
    a crash mid-write destroys the ledger; and under
    ``partitionOverwriteMode='dynamic'`` it would keep the old epoch
    partitions, defeating the O(1)-files goal).  Instead the compacted
    data is fully written to a sibling dir first, then swapped in by two
    directory renames; every crash window is recoverable — before the
    first rename the old ledger is untouched, between the renames
    :func:`_finish_pending_compaction` (called here and by every batch)
    completes the swap, and the stream-side output bootstrap is a final
    backstop.  At real deployment scale (object stores without atomic
    rename) this role is played by an Iceberg/Delta MERGE/replace
    commit."""
    import os
    import shutil

    ledger = fp_ledger_dir(out_dir)
    _finish_pending_compaction(ledger)
    tmp = _compact_tmp_dir(ledger)
    old = ledger.rstrip("/") + "__compact_old"
    shutil.rmtree(tmp, ignore_errors=True)  # stale attempt
    shutil.rmtree(old, ignore_errors=True)
    fps = (spark.read.parquet(ledger).select("fp").distinct()
           .withColumn("epoch", F.lit(-1).cast("long")))
    fps.write.mode("overwrite").partitionBy("epoch").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    os.rename(ledger, old)
    os.rename(tmp, ledger)
    shutil.rmtree(old, ignore_errors=True)
    return n


def windowed_tile_counts(spark, tiles_path: str):
    """Streaming windowed aggregation demo over the tile stream: tiles per
    day window keyed by timestep, with a watermark for late data — the
    engine's ``F.window`` surface (SURVEY.md §2.I)."""
    stream = (spark.readStream.schema(TILE_SCHEMA).parquet(tiles_path)
              .withColumns(image_id_keys("ts_idx"))
              .withColumn("ts", F.timestamp_add(
                  "DAY", F.col("ts_idx"),
                  F.lit("2020-01-01").cast("timestamp"))))
    return (stream.withWatermark("ts", "2 days")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count("*").alias("n_tiles"),
                 F.avg(F.length("bytes")).alias("avg_bytes")))
