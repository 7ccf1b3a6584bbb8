"""Streaming EWMA drift detection — an order-dependent stateful fold.

The reference's anomaly detectors (W6-W9, etl_monitoring/stream alerts)
are all threshold rules against CURRENT values; a production stream also
watches for *distribution drift* — "purchase values this hour look
unlike the running history" — which needs per-key state that is neither
a window aggregate nor a counter: an exponentially-weighted mean and
variance folded over events IN EVENT-TIME ORDER, with an alert when a
micro-batch's mean escapes the control band (the classic EWMA control
chart, Roberts 1959; the streaming analog of the reference's z-style
alert thresholds).

Its state shape differs from the Redis-TTL-shaped counter in
streaming/stateful.py on purpose: a sequential FOLD (each event updates
mean/var before the next) rather than a commutative accumulation — the
class of logic that genuinely cannot be a windowed agg, because the
update is order-dependent and the state never resets.

Determinism: events are sorted by (ts, event_id) inside each group
before folding, so replay/restart produce identical state; Arrow chunk
boundaries are erased by concatenating the full group
(stateful.whole_group). A batch DataFrame runs the same handler on a
cold state (stateful.keyed_state): one fold, no prior model.

Scale: state is 4 doubles + 1 long per event_type (dozens of keys — the
grouping column is low-cardinality by design; for per-user drift the
same operator shards by user_id). The shuffle is the groupBy's hash
exchange; everything else is Arrow-batched numpy inside the executor.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .stateful import keyed_state, whole_group

ALPHA = 0.125  # EWMA smoothing
K_SIGMA = 3.0  # control-band width
MIN_HISTORY = 8  # events before the band is armed

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
        StructField("ewvar", DoubleType()),
        StructField("batch_mean", DoubleType()),
        StructField("drift", BooleanType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("ewma", DoubleType()),
        StructField("ewvar", DoubleType()),
    ]
)


def _fold(n: int, ewma: float, ewvar: float, values: np.ndarray) -> tuple[int, float, float]:
    """Sequential EWMA mean/variance update (West 1979 incremental form)."""
    for v in values:
        if n == 0:
            ewma, ewvar = float(v), 0.0
        else:
            delta = float(v) - ewma
            ewma = ewma + ALPHA * delta
            ewvar = (1.0 - ALPHA) * (ewvar + ALPHA * delta * delta)
        n += 1
    return n, ewma, ewvar


def _detect(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    n, ewma, ewvar = state.get if state.exists else (0, 0.0, 0.0)

    # event-time order with a total tiebreak — replay-deterministic fold
    pdf = whole_group(pdfs, ["ts", "event_id"])
    if pdf is None:
        return
    values = pdf["value"].to_numpy(dtype=np.float64)

    # drift is judged BEFORE this batch updates the model: does the new
    # batch's mean escape the band the history predicted?
    batch_mean = float(values.mean())
    armed = n >= MIN_HISTORY
    drift = bool(armed and abs(batch_mean - ewma) > K_SIGMA * float(np.sqrt(ewvar)))

    n, ewma, ewvar = _fold(n, ewma, ewvar, values)
    state.update((n, ewma, ewvar))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_events": [n],
            "ewma": [ewma],
            "ewvar": [ewvar],
            "batch_mean": [batch_mean],
            "drift": [drift],
        }
    )


def value_drift_stateful(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-event-type EWMA control chart over `value`.

    Streaming: update-mode emissions per micro-batch, state carried
    forever (no TTL — the model IS the history). Batch: the same fold on
    a cold state — identical arithmetic, drift always false (no prior
    model)."""
    src = events.select("event_id", "ts", "event_type", "value")
    return keyed_state(
        src.withWatermark("ts", watermark),
        ["event_type"],
        _detect,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
    )
