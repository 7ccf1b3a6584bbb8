"""Streaming CUSUM control chart — a phased custom stateful shape.

operators/cusum.py runs the two-sided CUSUM chart OFFLINE over daily
revenue via the prefix-extremum identity (recurrence-free, window-
expressible); this is the ONLINE form a pipeline monitor actually
deploys: per event_type, the sequential Page (1954) recurrence

    s+ <- max(0, s+ + (v - mu0 - k))      alarm when s+ > h
    s- <- max(0, s- - (v - mu0 + k))      alarm when s- > h

folded over event VALUES in event-time order, with the calibration
(mu0, sigma -> k = 0.5*sigma, h = 4*sigma — the batch twin's K_SIGMA/
H_SIGMA multiples) estimated from the first CAL_N events of the key and
frozen thereafter: the textbook phase-I/phase-II split, which a batch
window can't express because the chart state never resets and spans
every micro-batch since calibration.

Its distinguishing feature vs ewma drift (streaming/drift.py) is a
PHASED state machine — the same fold first accumulates calibration
moments, then switches to chart arithmetic with frozen parameters —
exercising state whose SEMANTICS change mid-stream, not just its values.

Determinism: groups sort by (ts, event_id) before folding (the drift.py
replay contract); the fold is plain IEEE double arithmetic, so stream,
restart-resumed stream, and a batch frame (the same handler on a cold
state, stateful.keyed_state) produce bit-identical state. Alarm counts
are cumulative longs.

Scale: state is 8 doubles + 3 longs per event_type (low-cardinality by
design; shard by user_id for per-entity charts). One hash exchange from
the groupBy; the fold is Arrow-batched numpy in the executor.
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

#: calibration length (phase I) and the batch twin's sigma multiples
CAL_N = 16
K_SIGMA = 0.5
H_SIGMA = 4.0

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("calibrated", BooleanType()),
        StructField("mu0", DoubleType()),
        StructField("k", DoubleType()),
        StructField("h", DoubleType()),
        StructField("s_up", DoubleType()),
        StructField("s_down", DoubleType()),
        StructField("n_alarms_up", LongType()),
        StructField("n_alarms_down", LongType()),
        StructField("alarm_in_batch", BooleanType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s_cal", DoubleType()),
        StructField("ss_cal", DoubleType()),
        StructField("mu0", DoubleType()),
        StructField("k", DoubleType()),
        StructField("h", DoubleType()),
        StructField("s_up", DoubleType()),
        StructField("s_down", DoubleType()),
        StructField("alarms_up", LongType()),
        StructField("alarms_down", LongType()),
    ]
)

_ZERO = (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0)


def _fold(state: tuple, values: np.ndarray) -> tuple[tuple, bool]:
    """Sequential phased fold; returns (new_state, any_alarm_crossing).

    Phase I (n < CAL_N): accumulate calibration moments; on the event
    that completes the window, freeze mu0/k/h. Phase II: Page's
    recurrence with alarm counting (an alarm is counted per event whose
    statistic sits past h — the batch chart's per-day convention)."""
    n, s_cal, ss_cal, mu0, k, h, sp, sn, a_up, a_dn = state
    alarm = False
    for v in values:
        v = float(v)
        if n < CAL_N:
            s_cal += v
            ss_cal += v * v
            n += 1
            if n == CAL_N:
                mu0 = s_cal / CAL_N
                var = ss_cal / CAL_N - mu0 * mu0
                sigma = float(np.sqrt(var)) if var > 0 else 0.0
                k = K_SIGMA * sigma
                h = H_SIGMA * sigma
            continue
        sp = max(0.0, sp + (v - mu0 - k))
        sn = max(0.0, sn - (v - mu0 + k))
        n += 1
        if sp > h:
            a_up += 1
            alarm = True
        if sn > h:
            a_dn += 1
            alarm = True
    return (n, s_cal, ss_cal, mu0, k, h, sp, sn, a_up, a_dn), alarm


def _emit(event_type: str, st: tuple, alarm: bool) -> pd.DataFrame:
    n, _s, _ss, mu0, k, h, sp, sn, a_up, a_dn = st
    return pd.DataFrame(
        {
            "event_type": [event_type],
            "n_events": [n],
            "calibrated": [n >= CAL_N],
            "mu0": [mu0],
            "k": [k],
            "h": [h],
            "s_up": [sp],
            "s_down": [sn],
            "n_alarms_up": [a_up],
            "n_alarms_down": [a_dn],
            "alarm_in_batch": [alarm],
        }
    )


def _chart(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    st = tuple(state.get) if state.exists else _ZERO

    pdf = whole_group(pdfs, ["ts", "event_id"])
    if pdf is None:
        return
    st, alarm = _fold(st, pdf["value"].to_numpy(dtype=np.float64))
    state.update(st)
    yield _emit(event_type, st, alarm)


def cusum_stateful(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-event-type online CUSUM chart over `value`.

    Streaming: update-mode emissions per micro-batch, state carried
    forever (the chart IS the history). Batch: the same fold on a cold
    state — identical arithmetic, so stream-final state == batch state."""
    src = events.select("event_id", "ts", "event_type", "value")
    return keyed_state(
        src.withWatermark("ts", watermark),
        ["event_type"],
        _chart,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
    )
