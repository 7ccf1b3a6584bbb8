"""Streaming PSI drift monitor — live Population Stability Index per
event type against a batch-computed reference distribution.

operators/drift.py's psi_drift scores era-vs-era drift in batch; the
production deployment is a MONITOR: the reference profile (yesterday's
bucket counts, computed by the batch engine) is fixed, the current
window accumulates live, and the dashboard reads a PSI per trigger.
Per-type state is one fixed N_PSI_BINS-long counter array (the
quantile_stream footprint), the reference is a plain broadcast-by-closure
dict, and every micro-batch emits (event_type, n_rows, psi, band) under
the same Laplace-smoothed formula as the batch operator — smoothing over the
bins live in EITHER side, so a bucket the reference never saw still
contributes finite mass.

Bucketing: floor(value / BUCKET_WIDTH) clamped to [0, N_PSI_BINS) —
the batch operator's bucket rule with the histogram module's clamp
(state must be fixed-width; the driver corpus fits well inside).

State algebra: commutative, not idempotent (the CMS/quantile class) —
exactly-once leans on the checkpointed offset log; the kill-restart
test asserts the final PSI equals an uninterrupted run and the pure-
Python fold of the same counts.

Scale: shuffle keys on event_type carrying (type, bin) pairs; state is
64 longs per type; the reference dict is |types|·|bins| ints shipped
once in the task closure.
"""

from __future__ import annotations

import math
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

from ..operators.drift import BUCKET_WIDTH
from .stateful import keyed_state

#: fixed state width: buckets floor(value/BUCKET_WIDTH) clamped here
N_PSI_BINS = 64

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_rows", LongType()),
        StructField("psi", DoubleType()),
        StructField("band", StringType()),
    ]
)

STATE_SCHEMA = StructType([StructField("counts", ArrayType(LongType()))])


def psi_from_counts(ref: list[int], cur: list[int]) -> float:
    """Laplace-smoothed PSI over the bins live in either side — the
    shared read-out rule (pure Python: the parity tests fold the same
    counts through this exact function)."""
    live = [b for b in range(len(ref)) if ref[b] > 0 or cur[b] > 0]
    nb = len(live)
    if nb == 0:
        return 0.0
    tot_r = sum(ref[b] for b in live)
    tot_c = sum(cur[b] for b in live)
    psi = 0.0
    for b in live:
        p = (ref[b] + 1) / (tot_r + nb)
        q = (cur[b] + 1) / (tot_c + nb)
        psi += (p - q) * math.log(p / q)
    return psi


def _band(psi: float) -> str:
    return "stable" if psi < 0.1 else ("moderate" if psi < 0.25 else "shifted")


def psi_stream(events: DataFrame, reference: dict[str, list[int]]) -> DataFrame:
    """Running PSI per event type against ``reference`` (type → the
    N_PSI_BINS reference counts). Types absent from the reference score
    against an empty profile (all drift). Update-mode emission."""

    def _update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        (counts,) = state.get if state.exists else ([0] * N_PSI_BINS,)
        counts = list(counts)
        for pdf in pdfs:
            for b, c in pdf["bin"].value_counts().items():
                counts[int(b)] += int(c)
        state.update((counts,))
        ref = reference.get(event_type, [0] * N_PSI_BINS)
        psi = psi_from_counts(ref, counts)
        yield pd.DataFrame(
            [[event_type, sum(counts), psi, _band(psi)]],
            columns=[f.name for f in OUTPUT_SCHEMA.fields],
        )

    bin_idx = F.least(
        F.greatest(F.floor(F.col("value") / BUCKET_WIDTH), F.lit(0)),
        F.lit(N_PSI_BINS - 1),
    ).cast("bigint")
    binned = events.filter(F.col("value").isNotNull()).select(
        "event_type", bin_idx.alias("bin")
    )
    return keyed_state(binned, ["event_type"], _update, OUTPUT_SCHEMA, STATE_SCHEMA)


def reference_profile(events: DataFrame) -> dict[str, list[int]]:
    """Batch helper: the N_PSI_BINS reference counts per type from a
    (bounded) reference frame — the deployment computes this once per
    day from the batch engine and passes it to psi_stream."""
    bin_idx = F.least(
        F.greatest(F.floor(F.col("value") / BUCKET_WIDTH), F.lit(0)),
        F.lit(N_PSI_BINS - 1),
    ).cast("int")
    rows = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", bin_idx.alias("bin"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    out: dict[str, list[int]] = {}
    for r in rows:
        out.setdefault(r.event_type, [0] * N_PSI_BINS)[r.bin] = r.n
    return out
