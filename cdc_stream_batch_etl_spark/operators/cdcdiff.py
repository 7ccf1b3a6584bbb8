"""Temporal state comparison over the changelog — snapshot diff and
state dwell times.

state_asof (timetravel.py) reconstructs ONE point-in-time snapshot;
auditing a CDC pipeline also needs the DELTA between two points ("what
changed during the incident window?") and the occupancy profile ("how
long do entities sit in each state?").

`state_diff` computes both snapshots in ONE aggregation pass: per
entity, the argmax event at-or-before T1 and at-or-before T2 as two
conditional struct-max aggregates — one user-keyed shuffle, no join,
no second scan (the naive spelling joins two window passes). The
(ts, event_id) lexicographic struct order is the repo's latest-wins
tiebreak, so `t2 branch ≡ latest_state` semantics at T2.

`state_dwell_times` pairs each event with its successor via lead()
over the same total order and sums microsecond dwell per state —
integer epoch arithmetic (unix_micros ≡ date_diff microsecond), so the
oracle hash-matches; the open interval after each entity's last event
is excluded by lead()'s NULL, as an occupancy metric must.

Scale: both are the single-user-shuffle class (the latest_state /
user_sessions plan); the diff output is one row per entity, the dwell
output one row per state.

Reference anchor: the reference's Redis latest-state cache
(cdc_processor.py:89-101) holds only NOW; diffing two replays is how
its incident forensics would actually be done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

#: Diff window [T1, T2].
DIFF_T1 = "2024-01-10 00:00:00"
DIFF_T2 = "2024-01-20 00:00:00"

_DIFF_ORACLE = f"""
WITH agg AS (
  SELECT user_id,
         max(CASE WHEN ts <= TIMESTAMP '{DIFF_T1}'
             THEN struct_pack(ts := ts, eid := event_id, et := event_type)
             END) AS s1,
         max(CASE WHEN ts <= TIMESTAMP '{DIFF_T2}'
             THEN struct_pack(ts := ts, eid := event_id, et := event_type)
             END) AS s2
  FROM events
  WHERE ts <= TIMESTAMP '{DIFF_T2}'
  GROUP BY user_id
)
SELECT user_id,
       s1.eid AS t1_event_id,
       s1.et  AS t1_event_type,
       s2.eid AS t2_event_id,
       s2.et  AS t2_event_type,
       CASE WHEN s1.eid IS NULL THEN 'created'
            WHEN s1.eid = s2.eid THEN 'unchanged'
            ELSE 'updated' END AS status
FROM agg
"""


@register("state_diff", oracle=_DIFF_ORACLE)
def state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per entity: its latest-wins state at T1 and T2 and whether the
    window created, updated, or left it unchanged — both snapshots from
    one conditional-argmax aggregation (one shuffle, no join)."""
    t1 = F.lit(DIFF_T1).cast("timestamp")
    t2 = F.lit(DIFF_T2).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts") <= t2)
    s = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    agg = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("ts") <= t1, s)).alias("s1"),
        F.max(s).alias("s2"),
    )
    return agg.select(
        "user_id",
        F.col("s1.eid").alias("t1_event_id"),
        F.col("s1.et").alias("t1_event_type"),
        F.col("s2.eid").alias("t2_event_id"),
        F.col("s2.et").alias("t2_event_type"),
        F.when(F.col("s1.eid").isNull(), "created")
        .when(F.col("s1.eid") == F.col("s2.eid"), "unchanged")
        .otherwise("updated")
        .alias("status"),
    )


_DWELL_ORACLE = """
WITH seq AS (
  SELECT event_type, ts,
         lead(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(date_diff('microsecond', ts, next_ts)) AS BIGINT)
         AS total_dwell_us,
       CAST(sum(date_diff('microsecond', ts, next_ts)) AS DOUBLE)
         / count(*) AS avg_dwell_us
FROM seq WHERE next_ts IS NOT NULL
GROUP BY event_type
"""


@register("state_dwell_times", oracle=_DWELL_ORACLE)
def state_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per state (event type): interval count, total and mean microsecond
    dwell until the entity's next event — the occupancy profile of the
    entity state machine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dwell_us"),
    ).filter(F.col("dwell_us").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dwell_us").alias("total_dwell_us"),
        (F.sum("dwell_us").cast("double") / F.count("*")).alias("avg_dwell_us"),
    )
