"""Custom stateful streaming operator via applyInPandasWithState.

Reference: the stream processor keeps a per-customer activity dict in
Redis — ``order_count_today`` read-modify-write, last order time/amount,
24 h TTL (/root/reference/python/stream_processor.py:111-125). That is
running per-key state emitted on every update with timeout-based expiry —
NOT expressible as a watermarked window aggregate (windows emit per
window; this emits the running daily total per event batch and forgets
the key a day after its last activity, exactly like the Redis TTL).

Spark mapping: ``applyInPandasWithState`` with event-time timeout — the
state store replaces Redis, the watermark drives TTL eviction. Arrow
batches keep the Python hop vectorized.

This module also owns the streaming layer's one keyed-state path:
every ``streaming/*`` operator that keeps per-key state hands its
``handler(key, pdfs, state)`` to ``keyed_state``. On a stream that is
the update-mode ``applyInPandasWithState`` call; on a batch frame the
same handler runs once per group through ``applyInPandas`` against a
cold state (nothing stored before, a watermark past every row), so a
batch frame gets the answer a stream would give if all of it arrived
in one micro-batch and every buffered row were sealed.

Scale: state is partitioned by user_id across executors (shuffle on the
grouping key), size is O(active keys × 32 bytes) — bounded by the
timeout eviction, with RocksDB state store as the >memory spill path.

Forward path: Spark 4's ``transformWithStateInPandas`` (typed
ValueState/ListState/MapState + timers, schema evolution, RocksDB-only)
is the successor API and a drop-in home for this operator's logic. It is
NOT used here because its driver worker requires ``google.protobuf``,
which this environment does not ship (verified r10, re-verified r11:
StateMessage_pb2 imports google.protobuf). The applyInPandasWithState
form is feature-complete for every state shape the engine needs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

ACTIVITY_TTL_MS = 24 * 3600 * 1000  # reference's 86400 s Redis TTL

#: the cold state's watermark: the largest whose µs still fit in a long,
#: so every event of a batch frame is sealed
_END_OF_INPUT_MS = (2**63 - 1) // 1000

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("order_count_today", LongType()),
        StructField("total_value_today", DoubleType()),
        StructField("last_order_ts_ms", LongType()),
        StructField("last_order_amount", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("cnt", LongType()),
        StructField("total", DoubleType()),
        StructField("last_ts", LongType()),
        StructField("last_amount", DoubleType()),
    ]
)


class _ColdState:
    """The ``GroupState`` a batch group sees: no prior state, never timed
    out, the watermark at end of input; writes are dropped because each
    batch group is called exactly once."""

    exists = False
    hasTimedOut = False

    def getCurrentWatermarkMs(self) -> int:
        return _END_OF_INPUT_MS

    def update(self, value: tuple) -> None:
        pass

    def remove(self) -> None:
        pass

    def setTimeoutTimestamp(self, timestamp_ms: int) -> None:
        pass


_COLD = _ColdState()


def keyed_state(
    src: DataFrame,
    keys: list[str],
    handler: Callable[..., Iterator[pd.DataFrame]],
    output_schema: StructType,
    state_schema: StructType,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Run ``handler(key, pdfs, state)`` per ``keys`` group: update-mode
    ``applyInPandasWithState`` on a stream, one cold call per group
    through ``applyInPandas`` on a batch frame (Spark rejects
    applyInPandasWithState outside a stream)."""
    grouped = src.groupBy(*keys)
    if src.isStreaming:
        return grouped.applyInPandasWithState(
            handler,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout,
        )

    def cold(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        out = list(handler(key, iter([pdf]), _COLD))
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    return grouped.applyInPandas(cold, output_schema)


def whole_group(
    pdfs: Iterator[pd.DataFrame], order: list[str] | None = None
) -> pd.DataFrame | None:
    """A group's micro-batch as one frame, stably sorted by ``order`` when
    given; None when it has no rows (a pure timeout call). Arrow splits a
    group into chunks that are not time-ordered, so an order-dependent
    fold must see the whole group before it sorts."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return pdf.sort_values(order, kind="mergesort") if order else pdf


def _track(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        # TTL expiry: forget the key, emit nothing (Redis key eviction)
        state.remove()
        return
    cnt, total, last_ts, last_amount = (
        state.get if state.exists else (0, 0.0, 0, 0.0)
    )
    # Redis expires at access: if the key sat idle past the TTL, its state
    # is gone before the next write lands. The GroupState timeout alone
    # can't express this — a timed-out key with new data in the same
    # micro-batch takes the data path, not the timeout path — so staleness
    # is re-derived here from the FULL batch in event-time order (Arrow
    # may split one group across chunks, and chunks are not time-ordered:
    # a chunk-local check can both miss a reset and reset spuriously).
    pdf = whole_group(pdfs)
    if pdf is not None:
        ts_all = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
        order = np.argsort(ts_all, kind="stable")
        ts_sorted = ts_all[order]
        val_sorted = pdf["value"].to_numpy()[order]

        # access-time sequence: the prior write (if live state) followed by
        # this batch's events; a >TTL gap anywhere starts a fresh epoch
        have_prior = cnt > 0
        access = np.concatenate(([last_ts], ts_sorted)) if have_prior else ts_sorted
        reset_pts = np.nonzero(np.diff(access) > ACTIVITY_TTL_MS)[0] + 1
        epoch_start = int(reset_pts[-1]) if reset_pts.size else 0
        ev_start = max(epoch_start - (1 if have_prior else 0), 0)
        live_vals = val_sorted[ev_start:]
        if have_prior and epoch_start == 0:
            cnt += len(live_vals)
            total += float(live_vals.sum())
        else:  # prior state (if any) and pre-gap events expired
            cnt = len(live_vals)
            total = float(live_vals.sum())
        last_ts = int(ts_sorted[-1])
        # among newest-ts ties, the latest arrival wins (stable sort keeps
        # arrival order) — the reference's last SET wins
        last_amount = float(val_sorted[-1])
    state.update((cnt, total, last_ts, last_amount))
    # evict a day after the key's newest event (event-time TTL), clamped
    # ahead of the watermark (a timeout behind it is rejected — keys whose
    # TTL already elapsed get evicted at the next watermark tick)
    state.setTimeoutTimestamp(
        max(last_ts + ACTIVITY_TTL_MS, state.getCurrentWatermarkMs() + 1)
    )
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "order_count_today": [cnt],
            "total_value_today": [round(total, 2)],
            "last_order_ts_ms": [last_ts],
            "last_order_amount": [last_amount],
        }
    )


def customer_activity_stateful(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """A21/W3: running per-customer purchase activity with TTL state.

    Streaming: update mode, state evicted by event-time timeout. Batch:
    the same handler on a cold state — one pass with the same in-batch
    TTL-gap epochs.
    """
    purchases = events.filter(events["event_type"] == "purchase").select(
        "user_id", "ts", "value"
    )
    return keyed_state(
        purchases.withWatermark("ts", watermark),
        ["user_id"],
        _track,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    )
