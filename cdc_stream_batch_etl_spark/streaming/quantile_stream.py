"""Streaming binned quantiles — live p50/p95/p99 per event type with
bounded state.

The latency-dashboard staple: exact quantiles over a stream need the
whole history; production systems keep a mergeable summary instead.
This operator maintains the SAME W-bin equi-width histogram as the
batch sketch (operators/histogram.py: fixed [V_LO, V_HI) domain, clamp
at the edges) as per-event-type state — one 64-long array per type,
the sketch's fixed footprint no matter the stream volume — and emits
the read-out (smallest bin whose cumulative count reaches ceil(p·n),
upper edge as the estimate) every micro-batch.

State algebra (extending the spectrum documented in cms_stream.py): bin
counters are commutative but NOT idempotent — like CMS, correctness
under failure leans on Structured Streaming's checkpointed offset log
for effective exactly-once, and the kill-restart test asserts the
final read-out still equals the batch twin row for row
(tests/test_quantile_stream.py).

The bins are computed BEFORE the stateful shuffle with the identical
expression the batch twin uses, so the stream's final state and the
batch sketch are the same object bin for bin; the read-out rule is
shared code (operators/histogram.quantiles_by_type is the batch twin
registered as `binned_quantiles_by_type`).

Scale: the shuffle keys on event_type and carries (type, bin) pairs —
Structured Streaming does not allow an aggregation ahead of
applyInPandasWithState in the same query, so the micro-batch's rows
reach the state function raw and are folded into the 64 counters
Arrow-batch-at-a-time in pandas (a value_counts per chunk, never a
Python loop per row). State stays one 64-long array per type; a
genuinely hot key's cost is the shuffle of its (type, bin) pairs,
bounded per trigger by the micro-batch size.
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

from ..operators.histogram import BIN_W, N_BINS, QUANTILES, V_LO
from .stateful import keyed_state

OUTPUT_SCHEMA = StructType(
    [StructField("event_type", StringType()), StructField("n_rows", LongType())]
    + [
        f
        for p in QUANTILES
        for f in (
            StructField(f"p{int(p * 100)}_bin", LongType()),
            StructField(f"p{int(p * 100)}_est", DoubleType()),
        )
    ]
)

STATE_SCHEMA = StructType([StructField("counts", ArrayType(LongType()))])


def _readout(counts: list[int]) -> list:
    """The shared read-out rule: smallest bin with cum >= ceil(p*n)."""
    import math

    n = sum(counts)
    out: list = [n]
    cum = 0
    marks = {p: None for p in QUANTILES}
    for b, c in enumerate(counts):
        cum += c
        for p in QUANTILES:
            if marks[p] is None and n > 0 and cum >= math.ceil(p * n):
                marks[p] = b
    for p in QUANTILES:
        b = marks[p]
        out.append(b)
        out.append(None if b is None else V_LO + (b + 1) * BIN_W)
    return out


def _update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    (counts,) = state.get if state.exists else ([0] * N_BINS,)
    counts = list(counts)
    for pdf in pdfs:
        for b, c in pdf["bin"].value_counts().items():
            counts[int(b)] += int(c)
    state.update((counts,))
    row = [event_type] + _readout(counts)
    yield pd.DataFrame([row], columns=[f.name for f in OUTPUT_SCHEMA.fields])


def quantile_stream(events: DataFrame) -> DataFrame:
    """Running per-event-type binned quantiles over a stream. Emits the
    current read-out for every type touched in the micro-batch
    (update-mode semantics)."""
    bin_idx = F.least(
        F.greatest(F.floor((F.col("value") - V_LO) / BIN_W), F.lit(0)),
        F.lit(N_BINS - 1),
    ).cast("bigint")
    binned = events.filter(F.col("value").isNotNull()).select(
        "event_type", bin_idx.alias("bin")
    )
    return keyed_state(binned, ["event_type"], _update, OUTPUT_SCHEMA, STATE_SCHEMA)
