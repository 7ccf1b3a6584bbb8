"""Table catalog over the driver testdata parquet directories.

Stands in for the reference's Postgres scans (utils.py:43-50 `execute_query`)
— SURVEY.md §2.1 S1. The FIXTURES.md §3 mapping (e-commerce → TPC-H-ish):
customers→customer, orders→orders, order_items→lineitem, products→part,
CDC stream→events.

Scale notes: `spark.read.parquet` gives Catalyst filter pushdown + column
pruning for free; at 100 TB the same call points at a partitioned table
(partition pruning) — nothing here hand-materializes or collects.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .session import pin_session_for_correctness

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    pin_session_for_correctness(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # The driver has shipped events.parquet with two physical types for
        # `ts` across rounds; normalize both to a session-TZ TimestampType:
        # - TIMESTAMP(NANOS): Spark's reader rejects it outright; with the
        #   nanosAsLong pin (session.py) it surfaces as nanos-since-epoch
        #   LongType. Truncate to micros with integer division (exact —
        #   double division loses µs at 1e18 magnitudes), matching DuckDB's
        #   ns→µs truncation.
        # - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
        #   TIMESTAMP_NTZ; cast to TimestampType (session TZ is pinned UTC,
        #   so the instant is unchanged and matches DuckDB's tz-naive read).
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # Fail loudly: a silent cast of an unexpected physical type
            # (e.g. string) would corrupt ts to NULLs downstream.
            raise ValueError(
                f"events.ts has unexpected physical type {ts_type!r}; "
                "expected bigint (nanos), timestamp_ntz, or timestamp"
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for the SQL API."""
    for n in TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 32,
    sort_key: str | None = None,
) -> None:
    """Materialize a table bucketed (and optionally sorted) by its join
    key — the 100 TB co-located-join path.

    Two tables bucketed on the same key with the same bucket count join
    with NO shuffle of either side (SortMergeJoin over pre-hashed files;
    with matching sort keys the per-bucket sort is also skipped), and a
    groupBy on the bucket key aggregates shuffle-free. This is the Spark
    analog of the reference's FK B-tree indexes (sql/init.sql:53-57,
    SURVEY §4): pay the partitioning cost once at write, amortize it over
    every downstream join/agg. Asserted in tests/test_bucketing.py.

    n_buckets sizing at scale: target ≤ ~1 GB per bucket per partition
    file; at 100 TB that means thousands of buckets — the number must
    match on both sides of a co-located join, so fix it per key domain
    (e.g. all orderkey-bucketed tables share one constant).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_key)
    if sort_key:
        writer = writer.sortBy(sort_key)
    writer.saveAsTable(table_name)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Materialize a table hive-partitioned by low-cardinality columns —
    the 100 TB partition-PRUNING path, complementing write_bucketed's
    co-location: bucketing kills the join shuffle, partitioning kills the
    scan itself for any query that filters on the partition column
    (Catalyst turns the predicate into PartitionFilters and the
    non-matching directories are never listed into the scan).

    Partition columns must be low-cardinality (date, source, lang —
    thousands of values, not millions): each value is a directory, and a
    high-cardinality partition key degenerates into the small-files
    problem. Time-series facts partition by day; the curation corpus by
    (source, lang). Asserted in tests/test_partition_pruning.py.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def zorder_value(col_a, col_b, min_a, max_a, min_b, max_b, bits: int = 8):
    """Morton (Z-order) interleave of two numeric columns, each
    equal-width-binned to 2**bits cells over its [min, max] domain.

    Pure Catalyst integer arithmetic (casts, clamps, shifts, ORs) — no
    UDF, fully codegen'd. Equal-width binning keeps the expression
    scan-local (the min/max are plan-time literals supplied by the
    caller from one agg); a heavily skewed column should be
    pre-transformed (log) or binned on sampled quantile boundaries
    before interleaving — the interleave itself is distribution-blind.
    """
    from pyspark.sql import functions as F

    cells = (1 << bits) - 1

    def bucket(c, lo, hi):
        scaled = (c.cast("double") - F.lit(float(lo))) / F.lit(
            max(float(hi) - float(lo), 1e-12)
        )
        return F.least(
            F.lit(cells), F.greatest(F.lit(0), (scaled * cells).cast("int"))
        )

    a, b = bucket(col_a, min_a, max_a), bucket(col_b, min_b, max_b)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(a.bitwiseAND(F.lit(1 << i)), i + 1))
            .bitwiseOR(F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i))
        )
    return z


def write_zorder(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 16
) -> None:
    """Materialize a table Z-ORDER-clustered on two columns — the 100 TB
    DATA-SKIPPING path for multi-dimensional predicates, completing the
    layout trio: partitioning prunes directories (one column, low
    cardinality), bucketing kills join shuffles (one key), Z-ordering
    prunes parquet FILES on TWO high-cardinality columns at once.

    A single-column sort gives perfect min/max file stats on that column
    and useless ones on every other; the Morton curve's locality makes a
    contiguous z-range cover a compact ~sqrt x sqrt rectangle of the
    2-D cell grid, so every output file carries TIGHT min/max footer
    stats on BOTH columns and a selective predicate on either (or both)
    overlaps only a fraction of the files. repartitionByRange on the
    z-value does the global clustering with Spark's sampled range
    partitioner (no single-partition sort anywhere), and the
    within-partition sort makes row-group stats monotone too.
    Asserted measurably in tests/test_zorder.py by reading the parquet
    footers back and counting files a box predicate can skip.
    """
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    z = zorder_value(F.col(col_a), F.col(col_b), lo_a, hi_a, lo_b, hi_b)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


#: commit-marker prefix — the manifest is a set of IMMUTABLE empty
#: marker files ``_commit_<N>``, one per committed version dir ``_vN``
#: (a tiny snapshot log, the Iceberg idea minus the metadata payload).
#: Nothing is ever modified in place: a version is committed by CREATING
#: its marker and retired by DELETING marker-then-dir, so readers can
#: never observe a half-written manifest — the failure mode a single
#: mutable pointer file has on stores whose overwrite-rename is
#: delete+rename (Hadoop local FS FileContext, S3A).
_COMMIT_RE = re.compile(r"^_commit_(\d+)$")
_VERSION_RE = re.compile(r"^_v(\d+)$")


def _hadoop(spark: SparkSession, path: str):
    Path = spark._jvm.org.apache.hadoop.fs.Path
    p = Path(path)
    return Path, p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _committed_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed version numbers (ascending), [] for a legacy table."""
    Path, root_p, fs = _hadoop(spark, path)
    if not fs.exists(root_p):
        return []
    out = []
    for status in fs.listStatus(root_p):
        m = _COMMIT_RE.match(status.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _commit_version(spark: SparkSession, path: str, n: int) -> None:
    """Commit ``_vN`` by creating its immutable marker (empty file —
    the NAME is the information, so there is no partial-content state;
    create is atomic on HDFS, local FS, and object stores)."""
    Path, _, fs = _hadoop(spark, path)
    out = fs.create(Path(path.rstrip("/") + f"/_commit_{n}"), True)
    out.close()


def resolve_table_path(spark: SparkSession, path: str) -> str:
    """The directory a reader should scan: the newest committed
    ``path/_vN`` whose dir exists, else ``path`` itself (legacy plain
    table). Fail-open on markers whose dir is mid-retirement."""
    Path, _, fs = _hadoop(spark, path)
    for n in reversed(_committed_versions(spark, path)):
        vdir = path.rstrip("/") + f"/_v{n}"
        if fs.exists(Path(vdir)):
            return vdir
    return path


def load_versioned(spark: SparkSession, path: str) -> DataFrame:
    """Reader for compaction-managed tables: resolve the newest
    committed version, scan, and re-resolve + retry ONCE if the
    resolved version was retired between listing and schema resolution.

    Contract: the returned DataFrame is LAZY and pinned to the resolved
    version directory. The retain-two-generations rule keeps that
    directory alive through the entire next compaction and up to the
    retirement step of the one after, so any action launched within
    one full compaction cycle of the resolve is safe. An action
    deferred across TWO OR MORE completed compactions can hit the
    retired directory at run time — a failure this function cannot
    intercept (the action happens outside it); such long-lived readers
    should run through ``with_versioned_retry``, which re-resolves and
    reruns the action on the fresh snapshot."""
    try:
        df = spark.read.parquet(resolve_table_path(spark, path))
        df.schema  # force resolution now, while the version is live
        return df
    except Exception:
        return spark.read.parquet(resolve_table_path(spark, path))


def with_versioned_retry(spark: SparkSession, path: str, action):
    """Run ``action(df)`` against the newest committed version and, if
    the pinned version is retired mid-action (the reader slept through
    ≥ 2 compactions), re-resolve ONCE and rerun on the fresh snapshot.

    This is the action-time completion of load_versioned's resolve-time
    retry: together they give a reader loop the full "never errors, any
    number of concurrent compactions" contract
    (tests/test_compaction.py::test_reader_never_errors_during_compaction).
    The rerun sees the NEWER snapshot — same rows-equivalence the
    compaction guarantees, so any idempotent read action is safe."""
    try:
        return action(spark.read.parquet(resolve_table_path(spark, path)))
    except Exception:
        return action(spark.read.parquet(resolve_table_path(spark, path)))


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """Small-file compaction — the maintenance pass the layout writers
    need at 100 TB: streaming micro-batches and per-trigger CDC merges
    leave thousands of KB-sized parquet files per partition, and every
    downstream scan then pays one task + one footer read PER FILE
    (scheduler pressure and NameNode/liststore load dominate long before
    I/O does). Rewrites the table so each output file targets
    ``target_bytes`` (the 128 MB default matches
    spark.sql.files.maxPartitionBytes, so one post-compaction file maps
    to one scan split).

    File count is data_bytes/target rounded up — computed from the
    actual on-disk byte size via the Hadoop FS API (no data scan), then
    one repartition-and-rewrite. With ``partition_cols`` the rewrite
    preserves hive partitioning and repartitions BY the partition
    columns so each directory is written by the tasks that own it
    (without this, every task writes a sliver into every directory —
    the same small-files problem again, at write time).

    Returns {"files_before", "files_after", "bytes"} for the caller's
    maintenance log.

    Durability — immutable commit-marker manifest (r10, replacing the
    r9 two-rename swap whose crash window left NO table at `path`): the
    compacted data is written ONCE to a fresh VERSION directory
    ``path/_vN`` (underscore-prefixed, so plain parquet readers never
    see it), then committed by CREATING the empty marker file
    ``_commit_N`` — a tiny snapshot log. Readers (``load_versioned`` /
    ``resolve_table_path``) list markers and scan the newest committed
    dir; since markers are only ever created or deleted whole (never
    rewritten), there is NO mutable manifest state to catch mid-update
    — the race a single pointer file has on stores whose
    overwrite-rename is delete+rename (Hadoop local-FS FileContext,
    S3A). The PREVIOUS version is retained through one compaction
    (retired only by the next one, marker first, then data), so an
    in-flight scan that resolved before the commit finishes cleanly; a
    reader older than two compactions re-resolves and retries once
    (load_versioned). Crash anywhere = the newest marker still names a
    complete version; marker-less version dirs and orphan markers are
    swept as debris on the next run. No rename is used at all, so the
    protocol holds unchanged on object stores. Legacy plain tables
    migrate on first compaction (their root files act as the implicit
    previous version); legacy ``__precompact`` crash debris from the
    r9 scheme is still auto-restored.

    Byte budget with hive partitioning: a repartition on the partition
    columns alone would put each hive partition in ONE task → one file
    per directory regardless of size. Instead each partition's current
    byte size is read from the parquet `_metadata` column (constant per
    file, so the scan prunes every data column and is footer-priced),
    the per-partition file count is ceil(bytes/target), and rows are
    salted `xxhash64(row) % n_files(partition)` so each directory gets
    ~its own budgeted file count — large partitions split, small ones
    stay single-file (no sliver re-fragmentation).
    """
    from pyspark.sql import functions as F

    Path, dst, fs = _hadoop(spark, path)
    root = path.rstrip("/")
    old_p = Path(root + "__precompact")
    # legacy (r9 scheme) crash-window auto-recovery: a run that died
    # between rename(dst→__precompact) and rename(tmp→dst) left NO
    # table at `path` but a complete copy at __precompact — restore it
    # BEFORE anything else
    if not fs.exists(dst) and fs.exists(old_p):
        if not fs.rename(old_p, dst):
            raise IOError(
                f"compact_partitions: could not restore {root}__precompact to {path}"
            )

    committed = _committed_versions(spark, path)
    prev_n = committed[-1] if committed else 1  # legacy root = implicit _v1
    src = root + f"/_v{prev_n}" if committed else path
    next_n = prev_n + 1
    new_version = f"_v{next_n}"
    tmp = root + "/" + new_version

    # debris sweep: legacy sibling dirs from the r9 scheme, pointer files
    # from the interim single-pointer scheme, version dirs with NO commit
    # marker (a crashed write), and orphan markers whose dir is gone
    # (a crashed retirement). Retirement of SUPERSEDED versions happens
    # post-commit instead (below): sweeping them here would give an
    # in-flight reader ~zero grace when compactions run back-to-back —
    # post-commit, a superseded version survives through the entire next
    # compaction's write.
    committed_set = set(committed)
    for stale in (
        Path(root + "__compacting"),
        old_p,
        Path(root + "/._CURRENT.tmp"),
        Path(root + "/_CURRENT"),
    ):
        if fs.exists(stale):
            fs.delete(stale, True)
    for status in fs.listStatus(dst):
        name = status.getPath().getName()
        m = _VERSION_RE.match(name)
        if m and int(m.group(1)) not in committed_set:
            fs.delete(status.getPath(), True)
        cm = _COMMIT_RE.match(name)
        if cm and not fs.exists(Path(root + f"/_v{cm.group(1)}")):
            fs.delete(status.getPath(), False)

    src_p = Path(src)
    total_bytes = fs.getContentSummary(src_p).getLength()
    files_before = len(spark.read.parquet(src).inputFiles())
    n_files = max(1, -(-total_bytes // target_bytes))

    df = spark.read.parquet(src)
    try:
        if partition_cols:
            # per-hive-partition byte sizes from footer metadata only
            per_part = (
                df.select(
                    *partition_cols,
                    F.col("_metadata.file_path").alias("_fp"),
                    F.col("_metadata.file_size").alias("_fs"),
                )
                .groupBy(*partition_cols, "_fp")
                .agg(F.first("_fs").alias("_fs"))
                .groupBy(*partition_cols)
                .agg(F.sum("_fs").alias("_pbytes"))
                .withColumn(
                    "_nf",
                    F.greatest(
                        F.lit(1), F.ceil(F.col("_pbytes") / F.lit(target_bytes))
                    ).cast("int"),
                )
                .drop("_pbytes")
            )
            salted = (
                df.join(F.broadcast(per_part), list(partition_cols), "left")
                .withColumn(
                    "_salt",
                    F.pmod(F.xxhash64(*df.columns), F.coalesce("_nf", F.lit(1))),
                )
                .drop("_nf")
            )
            # explicit partition count = total budgeted file count, and
            # RANGE partitioning so distinct (partition, salt) groups
            # spread across distinct tasks — best-effort, not a hard
            # guarantee: RangePartitioner samples its boundaries, so
            # two adjacent groups can still share a task (one
            # over-budget file per directory remains possible in the
            # tail). A plain hash repartition at the default shuffle
            # count is strictly worse (arbitrary group collisions); an
            # exact one-group-per-task assignment would need a dense
            # rank over (partition_cols, _salt), a second shuffle this
            # maintenance pass doesn't earn. per_part is footer-priced
            # and hive-partition-sized, so the count aggregation is a
            # cheap scalar.
            n_total = int(
                per_part.agg(F.sum("_nf").cast("bigint")).collect()[0][0]
                or 0
            )
            (
                salted.repartitionByRange(
                    max(1, n_total), *partition_cols, "_salt"
                )
                .drop("_salt")
                .write.mode("overwrite")
                .partitionBy(*partition_cols)
                .parquet(tmp)
            )
        else:
            df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    except BaseException:
        # a failed write leaves only an uncommitted version dir; remove
        # it so the table state is exactly what the pointer says
        if fs.exists(Path(tmp)):
            fs.delete(Path(tmp), True)
        raise
    # THE commit: atomically CREATE the new version's marker. Readers
    # either still resolve the previous version (retained) or the new
    # one — never a gap, and never a half-written manifest.
    _commit_version(spark, path, next_n)
    # post-commit retirement: versions at least two generations old
    # (marker deleted FIRST, so a crash leaves an uncommitted orphan dir
    # for the next sweep, never a committed marker without data) — and,
    # once any version dir has itself been superseded, the legacy root
    # files (the implicit _v1). Each version therefore lives from its
    # commit until the END of the next-but-one compaction, giving every
    # in-flight reader at least one full compaction's write time.
    for n in committed:
        if n <= next_n - 2:
            fs.delete(Path(root + f"/_commit_{n}"), False)
            fs.delete(Path(root + f"/_v{n}"), True)
    if committed:
        for status in fs.listStatus(dst):
            name = status.getPath().getName()
            if not name.startswith(("_", ".")):
                fs.delete(status.getPath(), True)
    files_after = len(spark.read.parquet(resolve_table_path(spark, path)).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total_bytes),
    }
