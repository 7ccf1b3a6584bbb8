"""Streaming Misra-Gries heavy hitters — bounded deterministic top-k
state on the live stream.

Where it sits in the state-algebra spectrum the streaming layer
demonstrates (see cms_stream.py's table): CMS keeps a FIXED grid of
counters and answers point queries with one-sided error; Misra-Gries
(the k-counter generalization of Boyer-Moore majority) keeps AT MOST
MG_K (value, counter) pairs per key and directly yields the candidate
heavy-hitter SET with the deterministic guarantee

    c(v) <= true(v) <= c(v) + D,   D = number of decrement steps,
    D <= N / (MG_K + 1)

so any value with true frequency > N/(MG_K+1) is GUARANTEED retained —
the classic streaming answer to "which users dominate this event type"
with O(k) state per key, no sketch error tables.

Order contract: Misra-Gries summaries are arrival-order-dependent, so
the operator DEFINES its order — rows fold in (unix_micros(ts),
event_id) order within each micro-batch, batches in offset-log order —
making the result a pure function of the batched replay. The parity
test folds the identical order in plain Python; the restart test
asserts the checkpointed offset log resumes mid-stream without
double-folding (MG state, like CMS, is NOT replay-idempotent).

State: per event_type — three parallel arrays (values, counters) plus
the scalar ledger (n_processed, n_decrements). Emission (update mode):
one row per RETAINED counter per touched key per micro-batch, plus the
ledger columns for the guarantee check.

Scale: state is MG_K longs per key — constant; the shuffle is keyed on
event_type (add a salt stage per the psi_stream pattern if one type
dominates); per-batch work is one sort of the group's slice.
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
    LongType,
    StringType,
    StructField,
    StructType,
)

from .stateful import keyed_state, whole_group

MG_K = 8

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("counter", LongType()),
        StructField("n_processed", LongType()),
        StructField("n_decrements", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("vals", ArrayType(LongType())),
        StructField("cnts", ArrayType(LongType())),
        StructField("n_processed", LongType()),
        StructField("n_decrements", LongType()),
    ]
)


def mg_fold(
    summary: dict[int, int], stream: list[int], k: int = MG_K
) -> tuple[dict[int, int], int]:
    """The textbook Misra-Gries fold — shared by the operator and the
    test's plain-Python twin. Returns (summary, n_decrement_steps)."""
    dec = 0
    for v in stream:
        if v in summary:
            summary[v] += 1
        elif len(summary) < k:
            summary[v] = 1
        else:
            dec += 1
            for u in list(summary):
                summary[u] -= 1
                if summary[u] == 0:
                    del summary[u]
    return summary, dec


def _update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        vals, cnts, n_proc, n_dec = state.get
        summary = dict(zip(vals, cnts))
    else:
        summary, n_proc, n_dec = {}, 0, 0
    batch = whole_group(pdfs, ["tu", "event_id"])
    users = [int(u) for u in batch["user_id"]]
    summary, dec = mg_fold(summary, users)
    n_proc += len(users)
    n_dec += dec
    items = sorted(summary.items())
    state.update(
        (
            [int(v) for v, _ in items],
            [int(c) for _, c in items],
            int(n_proc),
            int(n_dec),
        )
    )
    yield pd.DataFrame(
        {
            "event_type": [event_type] * len(items),
            "user_id": [v for v, _ in items],
            "counter": [c for _, c in items],
            "n_processed": [n_proc] * len(items),
            "n_decrements": [n_dec] * len(items),
        }
    )


def mg_stream(events: DataFrame) -> DataFrame:
    """Per event_type: the running Misra-Gries summary of user_id
    frequencies (MG_K counters max), update-mode snapshot per touched
    key per micro-batch; a batch frame folds once on a cold state. Twin:
    mg_fold over the identically-ordered replay (tests/test_mg_stream.py)."""
    src = events.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("tu"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
    )
    return keyed_state(src, ["event_type"], _update, OUTPUT_SCHEMA, STATE_SCHEMA)
