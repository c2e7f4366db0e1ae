"""SparkSession factory tuned for this engine.

One session per process; AQE + Arrow on. Shuffle partitioning defaults are
sized for local test runs but are explicitly overridable because at cluster
scale (100 TB / 1000 executors) ``spark.sql.shuffle.partitions`` must track
cluster parallelism (rule of thumb: 2-3x total cores, or rely on AQE
coalescing from a high initial number).

Reference context: the reference creates a ``JavaStreamingContext`` per app
(``/root/reference/src/main/java/com/soto/WordCount.java:21-26``); ours is a
single long-lived ``SparkSession`` (the reference even rebuilt a
``HiveContext`` per micro-batch — ``Top3HotProduct.java:85`` — which we
explicitly avoid).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test parallelism. The driver runs us on local[32]; benchmarks use
# $SPARK_GRAFT_CPUS. At real cluster scale these come from spark-submit conf.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def _default_shuffle_partitions() -> int:
    """Scale-adaptive shuffle width (r14, guide §2.2): track the
    session's core count instead of a constant — the driver benches at
    SEVERAL core counts to measure scaling, and a fixed 32 pays 32
    tiny post-shuffle tasks per exchange on an 8-core leg. Floor of 16
    keeps AQE coalescing meaningful on tiny runs; a cluster deployment
    overrides via $SPARK_GRAFT_SHUFFLE_PARTITIONS (or the
    ``shuffle_partitions`` argument) to O(2-3x total cores)."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        # ADVICE r14: tolerate a malformed/zero override instead of
        # failing the session build (or handing Spark partitions=0) —
        # fall through to the computed default on garbage, floor at 1
        try:
            n = int(env)
        except ValueError:
            n = 0
        if n >= 1:
            return n
    try:
        cores = int(_DEFAULT_CPUS)
    except ValueError:  # "*" = all cores
        cores = os.cpu_count() or 32
    return max(16, cores)


def _max_partition_bytes() -> str:
    """Input split sizing (guide §6, r15): default stays Spark's 128m —
    right for the local bench's ~MB parquet inputs and the driver's
    comparability across rounds — but a cluster deployment reading
    100 TB of large parquet files should raise it (512m-1g cuts scan
    task count and the map side of every downstream shuffle, §2.2).
    Parameterized the same way as the shuffle width so the value is a
    deploy-time decision, not a code edit."""
    env = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    return env if env else "134217728"


def get_spark(
    app_name: str = "spark_streaming_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Settings rationale, scale-first:

    * AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic broadcast-join selection — the knobs the reference README
      tunes by hand (``/root/reference/README.md:930-997``) are automatic.
    * Arrow on: any pandas UDF path (similarity, multimodal) moves data in
      Arrow batches, not pickled rows.
    * ``shuffle.partitions`` low locally so tiny test shuffles don't pay
      200-task scheduling overhead; at cluster scale set it to O(cores).
    * parquet filter pushdown / column pruning are Spark defaults — tests
      assert they actually reach the scan (see tests/test_plans.py).
    * Streaming checkpoints (offset, commit and file-source logs, file
      sink ``_spark_metadata``, state-store deltas) go through
      ``FileSystemBasedCheckpointFileManager``: the default FileContext
      manager spawns a shell process per rename and per create on a host
      without native Hadoop, which was most of a micro-batch's fixed
      commit cost (``state.commit_ms`` 281 → 29 ms per trigger in a
      traced perfbench ``replay_groups`` run, local[4] on 4 vCPUs).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or _default_shuffle_partitions()))
        .config("spark.sql.files.maxPartitionBytes", _max_partition_bytes())
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # restart needs only the last committed batch; retaining the
        # default 100 checkpoint versions just multiplies state-store I/O
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        # Without libhadoop the default FileContext manager makes Hadoop's
        # local filesystem fork a `readlink` per rename and a `chmod` per
        # create: ~3 ms each, for every offset/commit log entry and every
        # state-store delta. On the local filesystem FileSystem.rename is
        # POSIX rename(2), and FileContext's local rename was already
        # check-then-rename, so no atomicity is lost. Checksums and .crc
        # sidecars stay on.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def checkpoint_keep_partitioning(df):
    """``localCheckpoint(eager=True)`` that PRESERVES the frame's
    partitioning for downstream exchange elision (r15): a checkpoint
    executed under AdaptiveSparkPlan publishes UnknownPartitioning
    (verified empirically on Spark 4.1.2 — the LogicalRDD drops the
    final plan's outputPartitioning), which silently re-inserts every
    downstream Exchange the caller's explicit repartition was meant to
    pre-pay. AQE is toggled off around the one materialization job and
    restored in ``finally``; the checkpoint itself is a single
    user-shaped shuffle, exactly the plan AQE would have produced."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
