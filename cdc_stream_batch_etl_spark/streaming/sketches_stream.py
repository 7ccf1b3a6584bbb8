"""Streaming KMV distinct-count — bounded sketch state on the live stream.

The batch KMV (operators/sketches.py) demonstrates the math; the reason
sketches exist is THIS shape: a cardinality estimate maintained online
with O(K) state per key, where exact distinct-counting would hold an
unbounded user set in the state store forever. The k-minimum-values set
is a commutative, idempotent monoid (merge = k-smallest of the union),
so arrival order, micro-batch boundaries, and replay cannot perturb the
final state — the strongest parity guarantee any stateful operator here
offers, and the property the test asserts: the stream's final sketch
EQUALS the batch operator's, row for row.

Unlike the TTL counter in stateful.py and the order-dependent EWMA
fold in drift.py, this state is order-INDEPENDENT. State per
event_type: the sorted K-minimum 60-bit md5 hashes (dedup.hash64 —
same hash as the batch twin, so their sketches are comparable objects).
No timeout: a cardinality sketch is cumulative by definition; K bounds
the state instead of a TTL.

Scale: shuffle on event_type (low-cardinality by design; per-user
sketches shard by user like drift.py notes), state = K longs per key,
emission = one row per (key, micro-batch) with the running estimate.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..dedup import hash64_expr
from ..operators.sketches import HASH_SPACE, KMV_K
from .stateful import keyed_state

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_hashes", LongType()),
        StructField("kth_hash", LongType()),
        StructField("kmv_estimate", DoubleType()),
    ]
)

STATE_SCHEMA = StructType([StructField("mins", ArrayType(LongType()))])


def _merge_kmin(current: list[int], new_hashes: list[int]) -> list[int]:
    """k-smallest of the union — the KMV monoid operation."""
    return sorted(set(current) | set(new_hashes))[:KMV_K]


def _estimate(mins: list[int]) -> tuple[int, int | None, float]:
    n = len(mins)
    if n < KMV_K:
        return n, None, float(n)
    kth = mins[KMV_K - 1]
    return n, kth, (KMV_K - 1) / (kth / HASH_SPACE)


def _sketch(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    (mins,) = state.get if state.exists else ([],)
    mins = list(mins)
    for pdf in pdfs:
        if len(pdf):
            mins = _merge_kmin(mins, pdf["hv"].tolist())
    state.update((mins,))
    n, kth, est = _estimate(mins)
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_hashes": [n],
            "kth_hash": [kth],
            "kmv_estimate": [est],
        }
    )


def kmv_stream(events: DataFrame) -> DataFrame:
    """Running per-event-type KMV cardinality sketch over the stream.

    A batch frame runs the same hash + merge once on a cold state; its
    rows equal operators/sketches.kmv_distinct_by_type, the canonical
    batch twin (tests assert final-state equality)."""
    src = events.select(
        "event_type", F.expr(hash64_expr("cast(user_id as string)")).alias("hv")
    )
    return keyed_state(src, ["event_type"], _sketch, OUTPUT_SCHEMA, STATE_SCHEMA)
