"""Streaming window funnel — the arbitrary-stateful twin of
operators/windowfunnel.py.

The batch DP keeps exactly two scalars per user (latest view `lv`,
best 2-chain anchor `m2`) plus three reached-level bits — which is
precisely the shape ``applyInPandasWithState`` is for: per-user state
is O(1), monotone, and mergeable across micro-batches, so a funnel over
an unbounded CDC stream needs no event buffering at all (contrast the
join-based funnel spellings, whose streaming form must retain W of
events per user).

In-order contract: the DP's "strictly before" is the (tu, event_id)
order. Within a micro-batch the handler sorts; ACROSS batches it
assumes per-user event-time order (true for the CDC replay and ordered
file feeds used here — the same contract as the reference's consumer,
which processes each topic partition in offset order). A full
out-of-order treatment would buffer events per user until the
watermark and replay them sorted — a documented extension, not needed
for parity with the in-order reference semantics.

Levels only ever grow, so ``update`` output mode emits a user's row at
most once per batch it changes in; "latest emission per user" is the
final answer, asserted equal to the BATCH funnel on the same fixture in
tests/test_funnel_stream.py (the batch/stream parity contract of
trending_products and user_sessions), including across a
kill-free multi-trigger replay.

Scale: one shuffle on user_id per micro-batch; state = 5 small ints per
ever-active user, no TTL needed for the funnel itself (add a state
timeout if the user universe is unbounded and levels may be dropped
after inactivity).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..operators.windowfunnel import FUNNEL_W_US
from .stateful import keyed_state, whole_group

#: "no value yet" sentinel for lv/m2 — far enough below any epoch-µs
#: that (tu - sentinel) can never pass the window test
_NONE = -(1 << 62)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("lv", T.LongType()),
        T.StructField("m2", T.LongType()),
        T.StructField("l1", T.IntegerType()),
        T.StructField("l2", T.IntegerType()),
        T.StructField("l3", T.IntegerType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("funnel_level", T.LongType()),
    ]
)


def _step(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    lv, m2, l1, l2, l3 = (
        state.get if state.exists else (_NONE, _NONE, 0, 0, 0)
    )
    # the documented (tu, event_id) order holds across Arrow chunk
    # boundaries only if the whole group is sorted at once
    pdf = whole_group(pdfs, ["tu", "event_id"])
    if pdf is not None:
        for tu, ty in zip(pdf["tu"], pdf["event_type"]):
            tu = int(tu)
            # flags first (strictly-before semantics), then state update
            if ty == "click" and tu - lv <= FUNNEL_W_US:
                l2 = 1
                if lv > m2:
                    m2 = lv
            elif ty == "purchase" and tu - m2 <= FUNNEL_W_US:
                l3 = 1
            if ty == "view":
                l1 = 1
                if tu > lv:
                    lv = tu
    state.update((lv, m2, l1, l2, l3))
    level = 3 if l3 else 2 if l2 else 1 if l1 else 0
    yield pd.DataFrame({"user_id": [key[0]], "funnel_level": [level]})


def funnel_stream(events: DataFrame) -> DataFrame:
    """Per-user funnel level over a stream of events — emits the user's
    current level on every micro-batch that touches the user; a batch
    frame gets each user's final level."""
    src = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("tu"), "event_type"
    )
    return keyed_state(src, ["user_id"], _step, OUTPUT_SCHEMA, STATE_SCHEMA)
