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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..catalog import _hadoop


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


def split_envelope(
    raw: DataFrame, table: str, row_schema=None
) -> tuple[DataFrame, DataFrame]:
    """S5: Kafka value bytes → typed envelope → flat change frame
    (cdc_processor.py:26-43), with DEAD-LETTER routing. `raw` must have
    a `value` (string/binary) column, e.g. from
    readStream.format('kafka'). The reference wraps every event in
    try/except and logs-and-continues on malformed payloads
    (cdc_processor.py:64-68, 277-279) — an event that can't parse must
    not kill the pipeline, but silently dropping it loses the forensic
    trail. Spark mapping: `from_json` yields a null struct on malformed
    JSON; rows whose envelope (or required `op` field) is null route to
    a dead-letter frame carrying the raw payload, everything else flows
    on as the typed change stream.

    Returns (changes, dead_letters). Both are streaming DataFrames off
    ONE parse, and the two filters are complementary predicates on it.
    The parse is exploded out of a one-element array: Catalyst pushes a
    filter through a projection by copying the projected expression
    into it, so a plain select + filter ran from_json three times per
    row, while a filter on a generator's output stays above it and
    from_json runs once.

    ``row_schema`` overrides the registered table schema — the Debezium
    ALTER TABLE path (SURVEY S11): when the upstream table gains a
    column, the consumer restarts on the SAME checkpoint with the
    widened schema; from_json reads old envelopes (missing field →
    NULL) and new ones alike, and the downstream latest-state merge is
    schema-agnostic (payload travels as JSON), so old run files and
    new-envelope rows coexist — torture-tested in
    tests/test_schema_evolution.py.
    """
    env = schemas.cdc_envelope(row_schema or schemas.TABLE_SCHEMAS[table])
    value = F.col("value").cast("string")
    parsed = raw.select(
        value.alias("raw_value"), F.explode(F.array(F.from_json(value, env))).alias("e")
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


# perfbench's traced run divides its per-trigger written-partition
# count by this; that import is its only reader.
N_STATE_BUCKETS = 16

# A trigger that leaves more delta runs than this folds them into one base.
# On 4 cores with 1k-row triggers a delta write took ~0.15 s and a
# compaction 0.5-1.4 s at 10k-100k keys, so at 16 the compaction adds
# about a third or less to the mean trigger while a read merges at most
# 17 runs.
COMPACT_AFTER_RUNS = 16

_RUN_DIR = "run="
_STATE_COLUMNS = ("pk", "op", "ts_ms", "payload_json", "batch_seq", "seq")


def newest_wins(rows: DataFrame) -> DataFrame:
    """The newest row per pk of the raw state rows: highest ts_ms, then
    the later trigger (batch_seq), then the later arrival inside it
    (seq; a compacted base row has seq NULL, so a row it was folded
    from outranks it). The one ordering both read_latest_state and
    compaction use. Tombstones are kept: the caller hides them above
    this window, so a `pk =` filter still reaches the parquet scan."""
    w = Window.partitionBy("pk").orderBy(
        F.desc("ts_ms"), F.desc("batch_seq"), F.desc_nulls_last("seq")
    )
    return rows.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _write_run(rows: DataFrame, state_path: str, run: str) -> None:
    """Replace exactly the `run=<run>` partition with `rows`."""
    (
        rows.select(*_STATE_COLUMNS, F.lit(run).alias("run"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run")
        .parquet(state_path)
    )


def _runs(spark: SparkSession, state_path: str) -> list:
    """Hadoop paths of the run directories under the state root."""
    _, root, fs = _hadoop(spark, state_path)
    if not fs.exists(root):
        return []
    return [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(_RUN_DIR)
    ]


def _drop_runs(spark: SparkSession, state_path: str, paths: list) -> None:
    _, _, fs = _hadoop(spark, state_path)
    for p in paths:
        fs.delete(p, True)


def _compact(spark: SparkSession, state_path: str, batch_id: int) -> None:
    """Fold every run into one newest-wins base once there are more
    than COMPACT_AFTER_RUNS of them. The base goes to `run=c<batch_id>`,
    a name no delta run uses, and only then are the folded runs deleted.
    A read failure raises before anything is deleted."""
    folded = _runs(spark, state_path)
    if len(folded) <= COMPACT_AFTER_RUNS:
        return
    base = f"c{batch_id}"
    current = newest_wins(spark.read.parquet(state_path))
    _write_run(current.withColumn("seq", F.lit(None).cast("long")), state_path, base)
    _drop_runs(spark, state_path, [p for p in folded if p.getName() != _RUN_DIR + base])


def _merge_latest(state_path: str):
    """foreachBatch body: latest-wins upsert + delete for W10
    (cdc_processor.py:72-100), kept as append-only delta runs of parquet.

    Write: each trigger tags its rows with the epoch id (`batch_seq`)
    and the arrival order inside the batch (`seq`,
    monotonically_increasing_id) and dynamic-overwrites only its own
    `run=<batch_id>` partition. It reads no state, collects nothing and
    shuffles nothing, so its cost is O(batch) where the reference pays
    one Redis SET per key. A replayed batch rewrites only its own run.

    Read: `read_latest_state` keeps the newest row per pk over every
    run (`newest_wins`: ts_ms, then batch_seq, then seq) and then hides
    tombstones. c→u→d inside one batch resolves by seq (SURVEY §7 hard
    part); an equal ts_ms across batches goes to the later batch.
    batch_seq and seq are data columns, so the order never depends on a
    directory name.

    Compaction: once a trigger leaves more than COMPACT_AFTER_RUNS runs,
    it writes their newest-wins rows (seq NULL) as a base under
    `run=c<batch_id>` and then deletes the runs it folded. That is
    O(state) once every few triggers instead of every trigger, the
    layout of Spark's own HDFS state store (a delta file per version
    plus a periodic snapshot; Structured Streaming, SIGMOD 2018). A
    replayed compaction rewrites its own base in place, which needs no
    lineage break: the dynamic overwrite replaces the directory at job
    commit, after every task has read its input.

    Crashes: a run directory appears whole at job commit. A crash after
    a run write, before the offset commit, replays the batch into the
    same run name. A crash after the base write and before the deletion
    leaves the base beside the runs it came from: every base row copies
    the row it was folded from, which outranks or equals it, so the
    newest-wins view is the same, and the next compaction folds the
    leftovers. A base never takes a delta run's name, so a replay can
    never overwrite it. Every crash point leaves a superset of rows with
    the same newest-wins view.

    Deletes are retained as TOMBSTONES (op='d' rows, hidden by
    read_latest_state and kept by compaction): dropping them would let
    a late upsert with an older ts_ms resurrect a deleted key — the W11
    out-of-order hazard. Tombstone GC maps to retention policy, not
    merge logic.

    Why not Spark's state store (an update-mode aggregation keeping the
    newest row per pk): it would need the arrival tie-break as a column
    of the stream, but monotonically_increasing_id() is rejected on
    streaming frames and the file source has no per-row position. Only
    a Kafka source carries one (`offset`), so the state store fits only
    there.
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        rows = batch.select(
            "pk",
            "op",
            "ts_ms",
            "payload_json",
            F.lit(batch_id).cast("long").alias("batch_seq"),
            F.monotonically_increasing_id().alias("seq"),
        )
        _write_run(rows, state_path, str(batch_id))
        _compact(batch.sparkSession, state_path, batch_id)

    return apply


def read_latest_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable cache view: the newest row per pk across the runs,
    live rows only (tombstones hidden above the window)."""
    return (
        newest_wins(spark.read.parquet(state_path))
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
