"""Structured Streaming CDC pipeline: envelope parse, stats maintenance,
latest-wins state upsert with deletes.

Reference: the CDC processor consumes 4 Debezium topics and per-event
maintains Redis change-log/stats/cache keys (/root/reference/python/
cdc_processor.py:23-212, utils.py:86-94). Here each Redis key family is a
streaming query over one source (SURVEY §3.2 "Spark shape"):

- change-log append      → the parsed stream itself (sink: append)
- cdc:stats counters     → groupBy(table, op).count(), outputMode update
- entity caches (W10)    → foreachBatch latest-wins merge (upsert + delete)

Exactly-once: the reference is at-least-once (auto-commit consumer,
SURVEY §2.9 W12); Structured Streaming checkpointing + idempotent
foreachBatch merge gives exactly-once to the state tables — strictly
stronger, documented deviation.

Kafka vs files: production wiring is `readStream.format("kafka")` (see
sources/kafka.py); tests drive the identical DataFrame graph from a file
source — the transformation code below is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def _change_frame(parsed: DataFrame) -> DataFrame:
    """Flat change frame from a frame whose `e` column is the parsed envelope."""
    return parsed.select(
        F.col("e.source.table").alias("table"),
        F.col("e.op").alias("op"),
        F.col("e.ts_ms").alias("ts_ms"),
        F.timestamp_millis(F.col("e.ts_ms")).alias("event_time"),
        F.col("e.before").alias("before"),
        F.col("e.after").alias("after"),
    )


def parse_envelope(raw: DataFrame, table: str, row_schema=None) -> DataFrame:
    """S5: Kafka value bytes → typed envelope → flat change frame
    (cdc_processor.py:26-43). `raw` must have a `value` (string/binary)
    column, e.g. from readStream.format('kafka').

    ``row_schema`` overrides the registered table schema — the Debezium
    ALTER TABLE path (SURVEY S11): when the upstream table gains a
    column, the consumer restarts on the SAME checkpoint with the
    widened schema; from_json reads old envelopes (missing field →
    NULL) and new ones alike, and the downstream latest-state merge is
    schema-agnostic (payload travels as JSON), so old bucket files and
    new-envelope rows coexist — torture-tested in
    tests/test_schema_evolution.py."""
    env = schemas.cdc_envelope(row_schema or schemas.TABLE_SCHEMAS[table])
    return _change_frame(
        raw.select(F.from_json(F.col("value").cast("string"), env).alias("e"))
    )


def split_envelope(raw: DataFrame, table: str) -> tuple[DataFrame, DataFrame]:
    """S5 with DEAD-LETTER routing: the reference wraps every event in
    try/except and logs-and-continues on malformed payloads
    (cdc_processor.py:64-68, 277-279) — an event that can't parse must
    not kill the pipeline, but silently dropping it loses the forensic
    trail. Spark mapping: `from_json` yields a null struct on malformed
    JSON; rows whose envelope (or required `op` field) is null route to
    a dead-letter frame carrying the raw payload, everything else flows
    on as the typed change stream.

    Returns (changes, dead_letters). Both are streaming DataFrames off
    ONE parse — Catalyst evaluates from_json once per row and the two
    filters are complementary predicates on the same projection.
    """
    env = schemas.cdc_envelope(schemas.TABLE_SCHEMAS[table])
    parsed = raw.select(
        F.col("value").cast("string").alias("raw_value"),
        F.from_json(F.col("value").cast("string"), env).alias("e"),
    )
    ok = F.col("e").isNotNull() & F.col("e.op").isNotNull()
    changes = _change_frame(parsed.filter(ok))
    dead = parsed.filter(~ok).select(
        F.col("raw_value"),
        F.when(F.col("e").isNull(), F.lit("unparseable_json"))
        .otherwise(F.lit("missing_op"))
        .alias("reason"),
    )
    return changes, dead


def cdc_stats_stream(changes: DataFrame) -> DataFrame:
    """A15/A16: running (table, op) counters — the reference's
    cdc:stats:{table}:{op} Redis counters (cdc_processor.py:46-51) as a
    streaming aggregate (state store replaces Redis)."""
    return changes.groupBy("table", "op").agg(F.count("*").alias("event_count"))


# State is hash-partitioned on pk into this many bucket directories; a
# micro-batch rewrites ONLY the buckets its keys land in. Size so one
# bucket ≲ executor memory at the target state volume (100 TB state /
# 4096 buckets ≈ 25 GB; local tests use the small default).
N_STATE_BUCKETS = 16


def _bucket_of(pk_col):
    return F.pmod(F.hash(pk_col), F.lit(N_STATE_BUCKETS)).alias("bucket")


def _state_exists(spark: SparkSession, path: str) -> bool:
    """Explicit existence probe via the Hadoop FS API — a transient READ
    error must fail the batch (checkpoint replay retries it), never be
    mistaken for 'first batch' and wipe accumulated state."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def _merge_latest(state_path: str):
    """foreachBatch body: latest-wins upsert + delete against a parquet
    state table hash-bucketed on pk (W10, cdc_processor.py:72-100).

    Per micro-batch, one read, one dedup, one write: tag every batch row
    with the epoch id (`batch_seq`), its bucket and its arrival order
    (`seq`); read ONLY the bucket partitions the batch touches (partition
    pruning on the bucket dir) with `seq` NULL; keep the newest row per pk
    by (ts_ms, batch_seq, seq nulls last); dynamic-partition-overwrite
    exactly those buckets. The one ordering covers both merges: batch
    rows outrank older state on a ts_ms tie because batch_id is above
    every earlier epoch, c→u→d inside one batch resolves by seq (SURVEY
    §7 hard part), and a (ts_ms, batch_seq) tie between state and batch
    only occurs when batch_id is replayed, where the rows are identical.
    The read needs no lineage break: dynamic overwrite stages task output
    and replaces the bucket directories at job commit, after every task
    has read its input.

    Untouched bucket files are never rewritten, so the write is
    O(touched state) — the parquet equivalent of a keyed MERGE INTO (the
    reference's Redis SET is O(1) per key). But a batch of k keys misses
    a given bucket with probability (15/16)^k at 16 buckets, so a trigger
    of about 50 or more keys touches nearly every bucket and rewrites all
    of the state (perfbench measures buckets_rewritten_share = 1.0).

    Deletes are retained as TOMBSTONES (op='d' rows kept in state, hidden
    by read_latest_state): dropping them would let a late/re-ordered
    upsert with an older ts_ms resurrect a deleted key — the W11
    out-of-order hazard. Tombstone GC maps to retention policy
    (partition-drop after the watermark horizon), not merge logic.

    Durability: each touched bucket's replace is staged-then-committed by
    the file commit protocol, and the merge is idempotent (replaying
    batch N gives the same state). A crash inside the commit window can
    tear ONE bucket; that checkpoint replay of the batch then repairs
    every bucket follows from the idempotence but is untested until a
    fault-injection test exists.
    Cross-bucket atomicity under arbitrary crashes needs a transactional
    table format — swap the writer for Delta/Iceberg MERGE INTO at
    deployment; the merge semantics here are unchanged by that swap.
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch.sparkSession
        incoming = batch.select(
            "pk",
            "op",
            "ts_ms",
            "payload_json",
            F.lit(batch_id).cast("long").alias("batch_seq"),
            _bucket_of(F.col("pk")),
            F.monotonically_increasing_id().alias("seq"),
        )
        touched = [r["bucket"] for r in incoming.select("bucket").distinct().collect()]
        if not touched:
            return  # empty batch: nothing to merge, nothing to rewrite
        merged_src = incoming
        if _state_exists(spark, state_path):
            # partition pruning: only the touched bucket dirs are read
            current = (
                spark.read.parquet(state_path)
                .filter(F.col("bucket").isin(touched))
                .withColumn("seq", F.lit(None).cast("long"))
            )
            merged_src = current.unionByName(incoming)
        w = Window.partitionBy("pk").orderBy(
            F.desc("ts_ms"), F.desc("batch_seq"), F.desc_nulls_last("seq")
        )
        (
            merged_src.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("pk", "op", "ts_ms", "payload_json", "batch_seq", "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(state_path)
        )

    return apply


def read_latest_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable cache view: live rows only (tombstones hidden); the
    physical bucket column stays internal to the state layout."""
    return (
        spark.read.parquet(state_path)
        .filter(F.col("op") != "d")
        .select("pk", "op", "ts_ms", "payload_json", "batch_seq")
    )


def latest_state_query(changes: DataFrame, table: str, state_path: str, checkpoint: str):
    """Start the W10 cache-maintenance streaming query for one table.
    'r' (snapshot read) ops upsert like creates (SURVEY W13)."""
    keyed = (
        changes.filter(F.col("table") == table)
        .select(
            F.coalesce(F.col("after.id"), F.col("before.id")).alias("pk"),
            "op",
            "ts_ms",
            F.to_json(F.coalesce(F.col("after"), F.col("before"))).alias("payload_json"),
        )
    )
    return (
        keyed.writeStream.outputMode("append")
        .foreachBatch(_merge_latest(state_path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
