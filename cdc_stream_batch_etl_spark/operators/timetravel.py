"""Point-in-time state reconstruction — CDC time travel.

`latest_state` answers "what is each entity NOW"; an auditable CDC
pipeline must also answer "what was each entity AT time T" — the
point-in-time read behind incident forensics ("what did the cache hold
when the alert fired?"), reproducible backfills, and the temporal side
of SCD2 (scd.py models the full history; this materializes one
consistent snapshot of it). Reference anchor: the Redis latest-state
cache (cdc_processor.py:89-101) has no history — replaying the
changelog with a timestamp cut is exactly how its state would be
reconstructed after an incident, which is what this operator does.

Semantics: filter the changelog to events at or before AS_OF, then the
latest-wins dedup with the (ts, event_id) tiebreak — identical rules to
latest_state, so `state_asof(T→∞) ≡ latest_state` (pytest-asserted).
Entities whose first event is after T are absent, as they must be.

Scale: one pushed timestamp-range filter (the cut reaches the parquet
scan) + the same single user-keyed window as latest_state. On a real
deployment the changelog is date-partitioned, so the cut also prunes
partitions — the filter is the cheapest possible time machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

#: The cut point; the Spark plan and the DuckDB oracle below share it.
AS_OF = "2024-01-15 00:00:00"

_ASOF_ORACLE = f"""
WITH cut AS (
  SELECT * FROM events WHERE ts <= TIMESTAMP '{AS_OF}'
), ranked AS (
  SELECT user_id, event_id, event_type, ts, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM cut
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       ts AS last_ts,
       value AS last_value
FROM ranked WHERE rn = 1
"""


@register("state_asof", oracle=_ASOF_ORACLE)
def state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each entity's latest-wins state as of AS_OF — latest_state with a
    pushed timestamp cut."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit(AS_OF).cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )
