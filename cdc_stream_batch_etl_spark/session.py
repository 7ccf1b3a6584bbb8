"""SparkSession factory.

The reference (c2012mato/cdc-stream-batch-etl) has no execution engine of its
own — it pushes SQL to Postgres and transforms in pandas (see
/root/reference/python/batch_processor.py:24-97, utils.py:43-50). Here the
session IS the engine: AQE on, UTC timezone pinned (oracle parity), Arrow
enabled for the few pandas-UDF paths.

Scale notes (100 TB):
- ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin let the
  runtime re-plan shuffle partition counts and split skewed join partitions.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a 1000-executor cluster it should be ~2-3x total cores (set via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS``).
- parquet filter pushdown / column pruning are left at their defaults (on).

Streaming checkpoints commit through Spark's FileSystem-based checkpoint
manager (``CHECKPOINT_FILE_MANAGER``). Every micro-batch commits small
files: the offset and commit logs, the file-source and file-sink logs,
and a ``.delta`` plus ``.crc`` per state-store partition. Spark's default
manager for ``file:`` paths renames through Hadoop's ``FileContext``;
without Hadoop's native library each such rename resolves the path with
``RawLocalFileSystem.getFileLinkStatus``, which starts a ``readlink``
process. The FileSystem manager renames with ``FileSystem.rename``, an
atomic ``rename(2)`` on the local file system, behind the same
create-temp-then-rename protocol and the same "fail if the log file
already exists" check; Spark's checksum wrapper and Hadoop's ``.crc``
sidecars are unchanged. ``get_spark`` only builds ``local[N]`` sessions,
so only local checkpoints take this path: a cluster deployment (HDFS or
an object store) builds its own session and keeps Spark's default
manager.

Spark's generated code is cached JVM-wide in an LRU of compiled classes
(``spark.sql.codegen.cache.maxEntries``, 100 by default), and
``get_spark`` sizes it to ``CODEGEN_CACHE_ENTRIES``. Structured
Streaming plans the same incremental query again on every trigger, so
each trigger asks for classes an earlier trigger already compiled: a
cold drain of ``start_pipelines`` needs about 185 classes and a
perfbench streaming cycle with its point reads about 225. At 100 the
LRU evicted them, and every trigger recompiled them with Janino on its
stream-execution thread before its tasks ran. At 1024, about four times
that working set, classes used every trigger stay cached. What still
compiles on each trigger is code with a literal Spark writes straight
into it: the watermark predicates, the ``latest_state`` run write
(its ``batch_seq`` is ``F.lit(batch_id)``) and a point read's
``pk = <literal>`` scan. Those classes are used once and age out first.
The conf is static: it takes effect only when ``get_spark`` builds the
JVM's first session, and a session that a caller of ``__spark_entry__``
builds itself keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Local checkpoint commits rename with ``rename(2)`` and start no process.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: Compiled generated classes kept JVM-wide: about 4x the streaming
#: pipeline's working set, so a trigger reuses the classes an earlier
#: trigger compiled.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app: str = "cdc-stream-batch-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session, tuned for local[N] single-JVM mode."""
    cores = cores if cores is not None else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = (
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cores)))
    )
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Spark's bundled RocksDB state store — the >JVM-heap streaming-state
#: path. The default HDFS-backed provider keeps every store's working
#: set on-heap; at 100 TB-scale state (the windowed and keyed-state
#: operators; W10's latest-state cache is parquet delta runs outside
#: the state store, streaming/cdc_stream.py) that heap residency is the
#: bottleneck, while RocksDB keeps state off-heap on local SSD with the
#: same checkpoint contract.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession, enabled: bool = True) -> None:
    """Switch the streaming state store provider for queries STARTED
    after this call (the provider is fixed per query at start and
    recorded in its checkpoint — restart a query to migrate it).

    Changelog checkpointing is enabled with RocksDB: per-batch uploads
    become the key delta instead of full SST snapshots, which is the
    difference between O(changed keys) and O(store size) commit cost on
    large stores."""
    if enabled:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


def pin_session_for_correctness(spark: SparkSession) -> None:
    """Settings every query assumes, applied idempotently to ANY session
    (the correctness driver may hand us a session we didn't build).

    UTC matters because ``to_date(timestamp)`` / ``datediff`` are
    session-timezone-dependent in Spark while the DuckDB oracle is tz-naive.
    The nanos pin lets the events table (TIMESTAMP(NANOS) parquet, which
    Spark otherwise refuses to read) surface as LongType; catalog.load_table
    converts it back to a microsecond timestamp.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
