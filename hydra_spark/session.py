"""SparkSession factory for the engine.

Local sandbox runs on local[N] (single JVM); on a real cluster the same
builder config applies unchanged except master/memory. Every knob here
scales with `cores` so the local[8] vs local[32] scaling-efficiency
measurement (BASELINE.md) is apples-to-apples: shuffle partitions,
state-store partitions and source partitioning all track parallelism —
no fixed-width stage that would flatten the scaling curve.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# RocksDB-backed state store: state spills to disk instead of growing the
# JVM heap — required posture for 10^12-key state at cluster scale.
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

# Runtime-settable SQL defaults of the engine: get_spark sets them on the
# builder; runner.main (the spark-submit entry) sets each one only if
# the submit command line left it unset.
SQL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # audio rows carry ~10-60 KB binary payloads; cap Arrow batch rows
    # so a decode batch stays ~10-60 MB, not 10k-row default x 60 KB.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
    # incremental (changelog) state checkpoints: upload per-batch
    # deltas, not a full RocksDB snapshot per store per batch
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # per-op row counting in RocksDB costs a get per put; the listener
    # reports store instances and commit time instead
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
    # both join sides in ONE RocksDB instance per partition (virtual
    # column families) instead of four: 16 -> 4 stores at local[4],
    # measured join state commit p50 2,478 -> 49 ms per 200-clip batch
    # and state memory 16.8 -> 4.3 MB. The format is pinned in the
    # offset log, so a checkpoint started on format 2 resumes on it.
    "spark.sql.streaming.join.stateFormatVersion": "3",
    # an idle query re-lists its source every pollingDelay (Spark: 10
    # ms), building a fresh InMemoryFileIndex each time; in a CPU
    # profile of 3 flagship triggers the drained quarantine side
    # stream's thread took 29% of the JVM's samples doing that. Busy
    # queries and the watermark-flush tick never wait on it.
    "spark.sql.streaming.pollingDelay": "250ms",
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # INT64 micros, not legacy INT96: INT96 timestamps carry NO
    # parquet column stats, which blinds manifest-level file
    # skipping (tables.plan_files) to every time-range predicate —
    # and Iceberg spec forbids INT96 anyway.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # local FS: driver-side file listing is microseconds; the default
    # threshold (32 paths) launches a 128-task listing job per stream
    # start — pure scheduling overhead here. On object storage with
    # 10^5+ files per table, drop this back to the default so listing
    # distributes.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
}


# driver heap of get_spark and tools/submit.sh. It is a cap, not a
# reservation. Half of a 15.7 GiB host's RAM (8035m) measured worse on
# both benchmark workloads (cpu_ms_per_clip +10-17%, 4 seeds each):
# G1's region size follows the cap, 32 MB at 48g and 4 MB at 8035m.
DRIVER_MEMORY = "48g"


def _set_allocator_env() -> None:
    """glibc malloc tunables, exported BEFORE the JVM starts so the
    pyspark daemon and every forked worker inherit them.

    The decode path streams multi-MB Arrow batches through the Python
    workers; with default glibc behavior every batch is mmap'd on
    allocation and munmap'd on free, so every pass re-faults gigabytes
    of zero pages. At 32 concurrent workers the kernel zone-lock
    contention makes page faults the dominant cost (measured: 12M
    faults/pass, 60-80%% sys time, and local[32] SLOWER than local[8]).
    Raising the mmap/trim thresholds keeps freed blocks on the heap for
    reuse: measured 12M -> 1.3M faults and ~3x decode throughput at 32
    cores. Same knobs apply per-executor on a real cluster
    (spark.executorEnv.*)."""
    defaults = {
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
        "MALLOC_TOP_PAD_": str(1 << 26),
        "MALLOC_ARENA_MAX": "2",
    }
    for k, v in defaults.items():
        os.environ.setdefault(k, v)


def get_spark(
    cores: int | None = None,
    app_name: str = "hydra_spark",
    shuffle_partitions: int | None = None,
    driver_memory: str = DRIVER_MEMORY,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _set_allocator_env()
    # Python workers must be able to import the engine package: classes
    # pickled BY REFERENCE (e.g. the hydra_cdf streaming DataSource)
    # resolve through the worker's import path, not cloudpickle. Export
    # before the JVM/daemon starts; on a real cluster the package ships
    # via --py-files / the image and this is a no-op.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # at cluster scale: 2-3x total executor cores; locally: = cores
        shuffle_partitions = cores

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        # local FS only: the default FileContext manager calls
        # getFileLinkStatus per checkpoint file, which without native
        # libhadoop spawns a `readlink` process (measured: 1,269 of them
        # in one 3-trigger benchmark pass, 1,064 under _checkpoint/state;
        # 5 with this manager). Cluster sessions keep Spark's default.
        .config("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINT_MANAGER)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in SQL_DEFAULTS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
