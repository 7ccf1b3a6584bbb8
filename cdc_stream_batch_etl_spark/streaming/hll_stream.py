"""Streaming HyperLogLog — live per-key cardinality with 512 longs of
state (the monoid twin operators/hll.py promises in its scale note).

KMV (sketches_stream.py) carries the K smallest hashes; HLL carries
max-rho per register — also a commutative, idempotent monoid (merge =
element-wise max), so arrival order, micro-batch boundaries, and
replay cannot perturb the final state, and the parity test asserts
the stream's final registers EQUAL the batch operator's, register for
register. HLL's advantage at scale is the FIXED footprint: KMV state
grows to K distinct hashes per key; HLL is exactly m=512 bytes-ish of
maxima regardless of cardinality — the sketch production systems
actually keep per key when keys are many (per-user reach, per-ad
uniques).

Hash, bucket split, rho, and the raw-estimate read-out are IMPORTED
from the batch twin (same md5-derived 60-bit hash, same
length-of-binary MSB rule evaluated vectorized here) — one math, two
execution shapes, the quantile_stream/histogram.py convention.

No timeout: cumulative by definition; m bounds the state instead of a
TTL. Scale: shuffle on event_type; emission = one row per touched key
per trigger with the running raw estimate.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
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
from ..operators.hll import _POW2_NEG, _W_BITS, ALPHA_M, HLL_M
from .stateful import keyed_state

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("registers_used", LongType()),
        StructField("empty_registers", LongType()),
        StructField("max_rho", LongType()),
        StructField("raw_estimate", DoubleType()),
    ]
)

STATE_SCHEMA = StructType([StructField("regs", ArrayType(LongType()))])


def _fold_registers(regs: list[int], hvs: "np.ndarray") -> list[int]:
    """Element-wise max-merge of a batch of hashes into the register
    array — the HLL monoid operation, vectorized with numpy (r11 ADVICE:
    the old per-row loop was a throughput hotspot at high per-key rates).

    bit_length(w) is recovered exactly via np.frexp: for 0 < w < 2^53
    the float64 representation is exact and the frexp exponent IS the
    bit length (hv is a 60-bit md5 integer, so w < 2^51 — integer-exact,
    no log/exp rounding in sight, per the repo's determinism rule)."""
    hv = np.asarray(hvs, dtype=np.int64)
    bucket = hv >> _W_BITS
    w = hv & ((1 << _W_BITS) - 1)
    _, e = np.frexp(w.astype(np.float64))
    rho = np.where(w == 0, _W_BITS + 1, _W_BITS + 1 - e).astype(np.int64)
    regs_arr = np.asarray(regs, dtype=np.int64)
    np.maximum.at(regs_arr, bucket, rho)
    return regs_arr.tolist()


def readout(regs: list[int]) -> tuple[int, int, int, float]:
    """(used, empty, max_rho, raw_estimate) — the batch twin's exact
    arithmetic: Σ 2^-M over registers in bucket order (list order IS
    bucket order here), empty registers contributing 1.0 each."""
    used = sum(1 for m in regs if m > 0)
    s = 0.0
    for m in regs:
        if m > 0:
            s += _POW2_NEG[m]
    s += (HLL_M - used) * 1.0
    est = ALPHA_M * float(HLL_M) * float(HLL_M) / s
    return used, HLL_M - used, max(regs), est


def _sketch(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    (regs,) = state.get if state.exists else ([0] * HLL_M,)
    regs = list(regs)
    for pdf in pdfs:
        if len(pdf):
            regs = _fold_registers(regs, pdf["hv"].to_numpy())
    state.update((regs,))
    used, empty, mx, est = readout(regs)
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "registers_used": [used],
            "empty_registers": [empty],
            "max_rho": [mx],
            "raw_estimate": [est],
        }
    )


def hll_stream(events: DataFrame) -> DataFrame:
    """Running per-event-type HLL over the stream. A batch frame folds
    once on a cold state; its rows equal operators/hll.
    hll_distinct_by_type (tests assert final-state register equality)."""
    src = events.select(
        "event_type", F.expr(hash64_expr("cast(user_id as string)")).alias("hv")
    )
    return keyed_state(src, ["event_type"], _sketch, OUTPUT_SCHEMA, STATE_SCHEMA)
