"""SparkSession construction and tuning.

Local harness runs ``local[$SPARK_GRAFT_CPUS]``; the same conf set is what we
would ship to a 1000-executor cluster (AQE on, sized shuffle partitions,
broadcast threshold) — only the master and memory numbers change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that must be applied to *any* session running this engine, including a
# driver-provided one. All of these are runtime-settable SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    # Spark 4 defaults ANSI on; the reference ran on Databricks SQL in the
    # pre-ANSI dialect (x/0 -> NULL), and the DuckDB oracle also yields NULL
    # for double division by zero — keep the engines aligned.
    "spark.sql.ansi.enabled": "false",
    # Deterministic timestamp semantics vs the oracle (naive parquet ts).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); read as long nanos and convert
    # in the loader (tables.load_events) — Spark has no ns timestamp type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: shuffle-partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Cost-based optimization: activates only where catalog statistics
    # exist (register_warehouse ANALYZEs each table); harmless elsewhere.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Answer unfiltered COUNT/MIN/MAX over parquet from footer statistics
    # instead of scanning rows — the QC row-count battery and ad-hoc
    # count-stars become metadata reads (exactly what they are on any
    # columnar warehouse). Only fires where no filter/column transform
    # intervenes, so analytical plans are untouched.
    "spark.sql.parquet.aggregatePushdown": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session.

    Called defensively at every load so the engine behaves identically under
    the driver's own SparkSession.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this deployment — proceed; readers raise later
            # if a genuinely required conf (nanosAsLong) is locked.
            pass
    return spark


def build_spark(
    app_name: str = "databricks-incremental-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` sets local parallelism (default ``*``).
    ``spark.sql.shuffle.partitions`` defaults to a fixed 32, whatever the
    core count — small enough to avoid tiny-task overhead at test SF, and
    AQE coalesces further; on a real cluster this would be sized to
    ~128 MB per shuffle partition.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Arrow for the (few) Pandas-UDF paths in llmdata.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Keep stdout clean: bench.py's machine-readable tail line must not
        # compete with progress-bar redraws in the consumer's buffer.
        .config("spark.ui.showConsoleProgress", "false")
        # FileOutputCommitter v2: task outputs move to the destination at
        # TASK commit (parallel) instead of a sequential driver-side rename
        # pass at JOB commit. Safe for this engine because the write
        # targets are almost all private-then-published: merge targets
        # write to a ._staging dir that is atomically swapped only after
        # the job succeeds, pipeline warehouses are fresh per-run dirs,
        # and changelog commits publish by rename after _SUCCESS — so
        # v2's weaker job-abort cleanup cannot expose partial output to a
        # reader there. Known exceptions (ADVICE r13): the near-dup
        # registry's dups_path audit append
        # (streaming/incremental.py _admit) and the small gold overwrite
        # rewrites (streaming/refresh.py _rewrite_trends /
        # _rewrite_customer_orders) write into live read paths — under v2
        # a mid-JOB crash can leave partially-committed task files
        # visible there until the stream replays / refresh re-runs (v1
        # left nothing visible). Both are derived/audit outputs rebuilt
        # by the next cycle, so the crash window is accepted locally; a
        # deployment that cannot accept it sets SPARK_GRAFT_COMMITTER_V=1.
        # Interleaved A/B at sf0.1 (r13, 5 pairs): sales pipeline
        # 7.62 -> 7.33s, incremental update cycle 6.03 -> 5.70s (v2 faster
        # in 4/5 pairs on both). On cloud object stores a deployment would
        # use a manifest committer instead — hence the env dial.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            os.environ.get("SPARK_GRAFT_COMMITTER_V", "2"),
        )
        # Streaming state-store provider dial (VERDICT r13 #4). Default
        # stays Spark's HDFS-backed in-memory provider: the drain A/B at
        # sf0.1 (scripts/drain_ab_r14.py, alternating fresh processes)
        # measured RocksDB slower on every drain key locally — the JNI +
        # per-batch snapshot overhead dwarfs these small states. On a
        # real deployment with large/long-lived state (multi-GB dedup
        # horizons), RocksDB bounds executor memory instead of OOMing:
        # flip SPARK_GRAFT_STATESTORE=rocksdb there.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            {
                "hdfs": "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider",
                "rocksdb": "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            }[os.environ.get("SPARK_GRAFT_STATESTORE", "hdfs")],
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # reliable-checkpoint storage for the pin dial (pinning.py):
    # SPARK_GRAFT_PIN=checkpoint routes every lineage pin through
    # sc.checkpoint, which needs a (cluster-visible) directory.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return apply_runtime_confs(spark)
