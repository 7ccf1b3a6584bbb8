"""Streaming count-min sketch — additive counter state on the live stream.

Companion to sketches_stream.kmv_stream, completing the state-algebra
spectrum the streaming layer demonstrates:

  stateful.py   TTL counter        — additive, time-bounded state
  drift.py      EWMA fold          — ORDER-DEPENDENT (needs sorted replay)
  sketches_stream.py  KMV k-min    — commutative AND idempotent (replay-proof)
  this          count-min counters — commutative, NOT idempotent

That last distinction is the point: a counter monoid merges in any
order, but a REPLAYED micro-batch would double-count — so unlike KMV,
whose math forgives replay, CMS correctness leans on Structured
Streaming's checkpointed offset log for effective exactly-once. The
restart test asserts exactly that: kill after a batch, restart on the
same checkpoint, and the final counters still equal the batch twin's
(operators/sketches.countmin_sketch) row for row.

State keying: (depth, bucket) — D×W keys (4×256 here), one LongType
counter each, the sketch's own fixed footprint regardless of stream
volume. The bucket hash is computed BEFORE the stateful shuffle with
the same md5-derived hash64 as the batch twin, so the two sketches are
comparable objects bit for bit.

Scale: the shuffle is uniform by construction (that is what the hash
row is FOR); state is one long per key; emission is one row per touched
key per micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import LongType, StructField, StructType

from ..dedup import hash64_expr
from ..operators.sketches import CMS_DEPTH, CMS_WIDTH
from .stateful import keyed_state

OUTPUT_SCHEMA = StructType(
    [
        StructField("depth", LongType()),
        StructField("bucket", LongType()),
        StructField("counter", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("counter", LongType())])


def _bump(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    depth, bucket = key
    (counter,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        counter += len(pdf)
    state.update((counter,))
    yield pd.DataFrame(
        {"depth": [depth], "bucket": [bucket], "counter": [counter]}
    )


def cms_stream(events: DataFrame) -> DataFrame:
    """Running D×W count-min counters over the stream, update-mode rows
    per touched (depth, bucket); a batch frame gets the final counters.
    Batch twin: operators/sketches.countmin_sketch (tests assert
    final-state equality and restart safety)."""
    src = events.select(
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
        F.col("user_id"),
    ).select(
        F.col("d").cast("bigint").alias("depth"),
        (
            F.expr(hash64_expr("concat(cast(d as string), ':', cast(user_id as string))"))
            % CMS_WIDTH
        ).cast("bigint").alias("bucket"),
    )
    return keyed_state(src, ["depth", "bucket"], _bump, OUTPUT_SCHEMA, STATE_SCHEMA)
