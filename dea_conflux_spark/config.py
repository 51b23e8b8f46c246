"""World/grid constants and SparkSession factory.

The synthetic planar CRS covers ``[0, WORLD) x [0, WORLD)`` metres.  Cells at
resolution ``r`` are squares of side ``WORLD / 2**r`` — a quadtree grid whose
ids pack ``(res, ix, iy)`` into an int64 (see ``core.cells``).  This replaces
the reference's EPSG:3577 Albers grid (reference __main__.py:155-195) with a
self-contained planar frame so no geo libraries are needed.
"""

from __future__ import annotations

import os

# World frame ------------------------------------------------------------
WORLD = float(1 << 22)  # 4_194_304 m square world
MAX_RES = 24  # finest representable cell: 0.25 m
RES_BITS = 29  # bits for each of ix, iy in the packed cell id

# Tile grid (mirrors the reference scene grid: resolution=(-30, 30),
# reference tests/data/sum_wet.conflux.py:5)
PIXEL_RES = 30.0  # metres per pixel

# Base join resolution: cells of WORLD/2**13 = 512 m (a 64-px tile at 30 m/px
# spans 1920 m, i.e. ~4x4 base cells + ancestors -> bounded join fan-out).
BASE_RES = 13

EPOCH = "2020-01-01"  # ts = EPOCH + ts_idx days for synthetic tiles


def get_spark(app: str = "dea-conflux-spark", cpus: int | str | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None):
    """Create a local SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or '*'.  AQE is on (skew-join
    splitting + partition coalescing are part of the engine's skew story,
    SURVEY.md §4 O6).
    """
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan split size (guide §6): the default 128 MB yields 1-2 scan
        # tasks for the testdata tables (each table is a single file), so
        # every scan-heavy stage ran on 1-2 of the N cores.  16 MB splits
        # let row-group-rich files fan out across the box; single-row-group
        # files are unaffected (operators that do heavy per-row work over
        # such inputs spread explicitly — textqa.ensure_spread).  At
        # production scale (many ~GB files on object storage) set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=128m..1g: large sequential scans
        # want big splits, and the scan-task count feeding a shuffle drops
        # quadratically in block count (guide §2.2).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512-row Arrow batches (~8 MB of 16 KB tile rows) measured ~10%
        # faster than 128 on the round-3 drill (and faster than 1024/2048:
        # large batches lose JVM->python pipelining, tiny ones pay per-batch
        # overhead); re-sweep after UDF-loop changes
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_MRB", "512"))
        # byte-heavy tile rows (~16 KB each): the default 10k-row columnar
        # cache batch means ~160 MB allocations per batch -> GC spikes;
        # 512 rows keeps cached batches ~8 MB
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "512")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # G1 grows the driver heap toward -Xmx while drill actions allocate
        # tile copies fast, though the live set stays far smaller; shrinking
        # the heap after each marking cycle hands the free part back.
        # perfbench, 2g heap, 4 vCPUs: drill_wit peak RSS about 2.9 -> 2.2
        # GB, for about 30 ms more GC pause per flagship action.  Set as
        # "default" options so a caller's own extraJavaOptions add to them
        # instead of replacing them.
        .config("spark.driver.defaultJavaOptions",
                "-XX:MinHeapFreeRatio=10 -XX:MaxHeapFreeRatio=30")
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "300")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
