"""SparkSession factory tuned for this engine.

Local-mode test harness; the same config block is what we'd pass to
spark-submit on a real cluster (AQE on, skew-join on, Arrow on). The
reference's single-machine parallelism knob (n_proc + loky backend,
reference era5/reshuffle.py:245-246) maps to executor cores here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# ~200k transcript rows ≈ 30-40 MB of shuffle data per partition — small
# enough that one task's sort runs fully in its share of off-heap
# execution memory even at 32 concurrent tasks on one 16g region.
# Round-4 measurement (BENCH/profile_mem.md, 22.5M turns): with
# partitions fixed at 2*cores the flagship reshuffle REGRESSED 8->32
# cores (25s -> 30s; per-task memory shrank 4x while per-task data only
# halved); sizing partitions by DATA made 32 cores strictly faster
# (15.7s) and sped up 8 cores too (21.8s). Scaling memory with cores
# instead (32g heap + 64g off-heap) made it WORSE (38-43s: the round-1
# big-heap GC cliff returns). Cluster translation: shuffle partitions
# are a property of the INPUT, not the cluster size — the same count at
# N and 4N executors, just fewer waves.
ROWS_PER_SHUFFLE_PARTITION = 200_000


def sized_shuffle_partitions(n_rows: int, cores: int | None = None) -> int:
    """Data-sized shuffle partition count: enough partitions that each
    sort/aggregate task holds a bounded slice (~ROWS_PER_SHUFFLE_PARTITION
    rows), floored at 2*cores so small inputs still use the machine.

    The data-sized count is then rounded UP to the next multiple of the
    total core count: a stage runs in whole waves, and a fractional last
    wave idles most of the machine while the tail finishes (113
    partitions at 32 cores = 3 full waves + a 17-task wave at 53%
    utilization — ~12% of the stage lost to quantization; at 8 cores the
    same count is 14+ waves and loses <1%, which silently biases any
    8-vs-32 comparison). Rounding up keeps per-task slices within the
    memory bound (slices only shrink) and translates directly to a
    cluster: round up to a multiple of total executor cores."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    data_sized = max(2 * cores, -(-n_rows // ROWS_PER_SHUFFLE_PARTITION))
    return -(-data_sized // cores) * cores
# Arrow batch size ~ the reference's imgbuffer pipelining knob
# (reference cli.py:378-385): bound memory per task batch.
ARROW_BATCH = 10_000


def get_spark(
    app_name: str = "spark-ts-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(
        DEFAULT_SHUFFLE_PARTITIONS, cores
    )
    builder = SparkSession.builder
    if not os.environ.get("SPARK_GRAFT_VIA_SUBMIT"):
        # standalone/pytest path; under spark-submit the --master flag rules
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Tungsten sort/shuffle/agg buffers OFF the GC heap. With 32 local
        # task threads on one big JVM heap, execution buffers alone drove
        # young-gen GC to ~30s of stop-the-world per 7.5M-row pipeline run
        # (the round-1 "local[32] cliff": 48g G1 heap, 101s reshuffle vs 7s
        # at local[8]). Off-heap execution memory + a 16g heap cut the same
        # pipeline 3-5x at local[32]. On a real cluster this maps 1:1 to
        # executor conf (off-heap counts toward
        # spark.executor.memoryOverhead sizing).
        .config(
            "spark.memory.offHeap.enabled",
            os.environ.get("SPARK_GRAFT_OFFHEAP", "true"),
        )
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_GRAFT_OFFHEAP_SIZE", "16g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # collect_set/collect_list (minhash signatures, codec packing) are
        # TypedImperativeAggregates -> Object hash aggregation; the default
        # sort-based fallback threshold (128 keys!) silently turns every
        # high-cardinality object aggregation into a sort-aggregate. (The
        # rollups are NOT affected: Spark 4 plans min_by/max_by as
        # DeclarativeAggregates on the primitive HashAggregate path.)
        # Keys-per-task stays bounded because shuffle
        # partitions are sized with the data (keys/partition ~= group
        # count / shuffle partitions), so a 4M-key hash map (~tens of MB)
        # is the cheaper, bounded choice at any cluster size.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "4000000",
        )
    )
    # v2 commit: task-parallel renames instead of a serial driver loop
    # over every output file at job commit — the dominant SERIAL cost of
    # cell-partitioned writes (hundreds of files), i.e. the Amdahl term
    # that caps scaling efficiency. Trade-off: a failed/killed job can
    # leave partial output visible, so it is OPT-IN (bench + scaling
    # entry points set SPARK_GRAFT_FAST_COMMIT=1); user-facing CLI writes
    # keep the atomic v1 committer.
    if os.environ.get("SPARK_GRAFT_FAST_COMMIT"):
        builder = builder.config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
