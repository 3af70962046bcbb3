"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[N]``; the same builder config is what we would ship
to a 1000-executor cluster — AQE owns runtime re-planning (partition
coalescing, skew-join splitting, dynamic broadcast), so the static settings
here are deliberately few.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def positive_int_env(name: str, default: int) -> int:
    """The environment variable ``name`` as a positive integer (``default``
    when unset); any other value raises ValueError naming the variable."""
    raw = os.environ.get(name, str(default))
    if not (raw.isascii() and raw.isdigit()) or int(raw) < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return int(raw)


def default_driver_mem(phys_bytes: int | None = None) -> str:
    """The local driver heap: 16g, or three quarters of the host's physical
    RAM where that is less, so the one JVM never claims the whole host."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, phys_bytes * 3 // 4 // 2 ** 20)}m"


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's Spark conf to any builder (local or cluster)."""
    # Shuffle partitions for the *local* test harness. On a real cluster
    # this is a floor only: AQE coalesces small partitions and splits skewed
    # ones at runtime, so we set the initial number high there (e.g. 2000+
    # for 100 TB inputs) and let adaptive execution shrink it per-stage.
    shuffle_partitions = positive_int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32)
    # Executor-side Python workers must be able to import this package.
    # local[N] inherits the driver's sys.path for free (same process tree);
    # multi-JVM masters (local-cluster, standalone, YARN) spawn workers with
    # a clean environment, so ship the repo root — in a real deployment this
    # is `--py-files engine.zip` instead.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pypath = os.pathsep.join(
        p for p in (_repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    builder = builder.config("spark.executorEnv.PYTHONPATH", _pypath)
    return (
        builder
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and sort-merge→broadcast demotion. This is the core of
        # the 100 TB posture — plans self-correct from observed stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for the few pandas UDFs we do have (email parse,
        # multimodal decode) — batch columnar transfer, not per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dims (region/nation/customer at small SF) are
        # broadcast; AQE upgrades joins when runtime size < threshold too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Parquet: keep predicate pushdown + dictionary filtering on
        # (defaults, pinned here because the engine depends on them).
        # zstd output (guide §6): smaller than snappy at similar read
        # speed — fewer bytes through the sink commits and any downstream
        # re-read; transparent to readers (DuckDB included).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Partition sizing for scans: 128 MiB splits are the right grain for
        # 100 TB of parquet (≈800k tasks at 128 MiB → AQE coalesces).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Durable checkpoints (materialize.py writes one per iteration of
        # every iterative operator when SPARK_GRAFT_CHECKPOINT_DIR is set);
        # without this the checkpoint dir grows without bound over long runs
        # — Spark never deletes them by default (ADVICE r8).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # The synthetic events table stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long nanos, Catalog converts to a
        # micros timestamp (exact integer division — no double round-trip).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )


def get_spark(app_name: str = "hierarchical-graph-db-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Locally: ``local[$SPARK_GRAFT_CPUS]``. On a cluster the same conf applies;
    master comes from spark-submit instead.

    The local branch adds two settings a cluster does not get: a driver heap
    sized for the one JVM, and driver-side file listing. Parallel listing
    costs a Spark job per read of more than 32 paths; in local mode that
    job's tasks are threads of the same JVM reading the same disk, so it
    buys nothing and doubles the jobs of a keyed store lookup.
    """
    builder = SparkSession.builder.appName(app_name)
    master = os.environ.get("SPARK_MASTER")
    if master:
        # Explicit master (e.g. local-cluster[2,4,4096] for the
        # multi-executor sweep, or a real cluster URL). local-cluster spawns
        # separate executor JVMs, so executor memory/cores must be set to the
        # values encoded in the master string.
        builder = builder.master(master)
    else:  # local test harness
        builder = builder.master(f"local[{_LOCAL_CPUS}]")
        # local[N] runs driver and all N executor threads in ONE JVM whose
        # default heap is spark.driver.memory=1g — fine at the unit-test
        # scale factors, but an sf1 (6M-row lineitem) sweep OOMs it. Size
        # the single JVM like the N executors it stands in for, within the
        # host's RAM; only honored when this process launches the JVM
        # (first session). On a real cluster the submit config owns memory
        # and this is skipped.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_mem()))
        # List files on the driver, never as a Spark job (see docstring):
        # a bucketed-store read of 64 version dirs ran a 64-task listing
        # job (0.23-0.32 s on 4 cores) before its scan. Explicit masters
        # keep Spark's default of 32 paths, where parallel listing can pay
        # off against an object store.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2 ** 31 - 1))
    spark = configure(builder).getOrCreate()
    # Durable lineage cuts: when a checkpoint dir is configured, every
    # iterative operator's materialize() call writes checkpoint blocks there
    # (survives executor loss on a real cluster) instead of localCheckpoint
    # (executor-local, lineage-unsafe). See materialize.py.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
