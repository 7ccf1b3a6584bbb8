"""One-call streaming deployment — the reference's three processor
processes (cdc_processor, stream_processor, + alerts producer) as a set of
concurrently running Structured Streaming queries over shared sources.

The reference runs separate OS processes with two Kafka consumer groups
(SURVEY §2.1 S4); here each output family is an independent streaming
query with its own checkpoint — same isolation, one SparkSession, and the
source is read independently per query (Spark's analog of independent
consumer groups).

Sinks are parquet directories under `out_dir` (the Redis key families as
tables, SURVEY §1.3); checkpoints under `<out_dir>/_checkpoints/<name>`.

Partition share: the five queries run at once, so they split the
session's `spark.sql.shuffle.partitions` (P) instead of each taking all
of it: every query starts with `max(1, P // 5)` shuffle partitions. A
stateful operator keeps one state-store partition per shuffle partition,
and every trigger runs one state task and commits one set of state files
per partition, whatever the store's size. Were each query to take all
of P = 4 on 4 cores, every trigger of each stateful query would run 4
state tasks for stores of 4 to 127 rows, and the five queries' tasks
would queue for the same 4 slots. The share is fixed per checkpoint:
Structured Streaming (SIGMOD 2018) records the value in the offset log
at a query's first batch and runs every later batch, restarts included,
with the recorded value, because a state-store partition holds the keys
that hash to it. So a checkpoint created under another P (or before the
share existed) keeps its own count; only a new checkpoint takes the
share. latest_state keeps no state store, but its foreachBatch runs on
the query's session, so its compaction's newest-wins shuffle takes the
share too.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.anomalies import alerts_stream
from ..operators.windows import minute_metrics_of, product_velocity_of
from .cdc_stream import cdc_stats_stream, latest_state_query, split_envelope

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
#: The queries start_pipelines runs at once; each takes 1/_QUERIES of P.
_QUERIES = 5


@dataclass
class StreamingPipelines:
    queries: dict[str, StreamingQuery] = field(default_factory=dict)

    def await_all(self, timeout_sec: float = 300) -> None:
        """Wait for every query, all of them within one `timeout_sec`
        deadline. A query that failed raises its exception, in query
        order, also once the deadline has passed."""
        deadline = time.monotonic() + timeout_sec
        for q in self.queries.values():
            left = deadline - time.monotonic()
            # awaitTermination takes whole milliseconds above zero
            if left >= 1e-3:
                q.awaitTermination(left)
            elif q.exception() is not None:
                raise q.exception()

    def stop_all(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()


def _parquet_sink(df: DataFrame, path: str, checkpoint: str, name: str) -> StreamingQuery:
    return (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )


def _overwrite_sink(df: DataFrame, path: str, checkpoint: str, name: str) -> StreamingQuery:
    """Complete-mode aggregate → parquet snapshot overwritten per
    micro-batch (the `:latest` key family). Overwrite deletes the old
    files before the new ones are committed, so a reader between the two
    sees no snapshot. The batch reads the state store, not `path`, so
    the write needs no lineage break.

    A crash in that gap (tests/test_crash_recovery.py, crash (c)) leaves
    no snapshot and no commit-log entry for the batch. The restart
    replays the batch on the state-store version the previous batch
    committed and writes the same counts an uninterrupted run does, none
    counted twice; the gap lasts until that replay."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(path)

    return (
        df.writeStream.outputMode("complete")
        .foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )


def start_pipelines(
    raw_cdc: DataFrame,
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    out_dir: str,
    cdc_table: str = "customers",
) -> StreamingPipelines:
    """Start the full streaming surface:

    - cdc_stats      running (table, op) counters       [complete snapshot]
    - latest_state   W10 cache maintenance              [foreachBatch merge]
    - minute_metrics W1 windowed purchase metrics       [append]
    - velocity       W4 per-product 5-min velocity      [append]
    - alerts         W6-W9 union, S6 payload shape      [append]

    `raw_cdc` is a `value`-column stream (Kafka or file); `events` is the
    events-shaped stream; `customer`/`nation` are static dims for the
    stream-static enrichment. Each analytics sink runs the builder of
    the registered batch query of the same family (minute_metrics,
    product_velocity, alerts_summary before its roll-up), so a sealed
    window streams the batch query's row.

    The envelope is parsed once (`split_envelope`) and both CDC queries
    read its `changes`: a line that is not JSON, or has no `op`, is not
    counted in cdc_stats and does not touch latest_state. Its
    dead-letter frame is not written by any query here.

    Each query starts with `max(1, P // 5)` shuffle partitions, P being
    the session's `spark.sql.shuffle.partitions` (see the module
    docstring). The value is set on `raw_cdc`'s session only while the
    queries start and is restored afterwards, also when a start fails;
    each `start()` clones the session, so its query keeps the share.
    Another thread on the same session sees the share while the starts
    run. If building or starting a query fails, the queries already
    started are stopped before the error propagates.
    """
    spark = raw_cdc.sparkSession
    total = spark.conf.get(_SHUFFLE_PARTITIONS)
    ck = f"{out_dir}/_checkpoints"
    p = StreamingPipelines()
    spark.conf.set(_SHUFFLE_PARTITIONS, str(max(1, int(total) // _QUERIES)))
    try:
        changes, _ = split_envelope(raw_cdc, cdc_table)
        p.queries["cdc_stats"] = _overwrite_sink(
            cdc_stats_stream(changes), f"{out_dir}/cdc_stats", f"{ck}/cdc_stats", "cdc_stats"
        )
        p.queries["latest_state"] = latest_state_query(
            changes, cdc_table, f"{out_dir}/latest_state", f"{ck}/latest_state"
        )
        p.queries["minute_metrics"] = _parquet_sink(
            minute_metrics_of(events),
            f"{out_dir}/minute_metrics",
            f"{ck}/minute_metrics",
            "minute_metrics",
        )
        p.queries["velocity"] = _parquet_sink(
            product_velocity_of(events), f"{out_dir}/velocity", f"{ck}/velocity", "velocity"
        )
        p.queries["alerts"] = _parquet_sink(
            alerts_stream(events, customer, nation),
            f"{out_dir}/alerts",
            f"{ck}/alerts",
            "alerts",
        )
    except BaseException:
        p.stop_all()
        raise
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, total)
    return p
