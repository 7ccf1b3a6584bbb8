"""Sessionization — gap-based user sessions, batch and stream.

Beyond-reference operator. The reference's nearest construct is the
per-customer daily-activity read-modify-write (stream_processor.py:111-125,
SURVEY.md A21), which buckets by calendar day; real training-data and
product-analytics pipelines bucket by *inactivity gap*. Semantics: a
user's events belong to one session while consecutive gaps are < GAP;
a gap >= GAP starts a new session.

Spark-first implementation: the native ``session_window`` grouping column
— Catalyst's built-in session aggregation (one hash shuffle on user_id,
windows merged inside the aggregate, whole-stage codegen'd). No lag/
running-sum two-window dance, no second shuffle: ``groupBy(user_id,
session_window(ts, gap))`` is the entire plan.

This module owns the one sessions builder, `user_sessions_of`, a
function of an events DataFrame (see operators/windows.py): the
registered query applies it to the events table, and on an events
stream the same call runs under the watermark. Session windows are the
one windowed aggregation whose state MERGES windows (two open sessions
fuse when a bridging event arrives); append mode emits a session once
the watermark passes session_end + gap. Events older than the watermark
do not merge into existing sessions, so the watermark must exceed the
source's real out-of-orderness — replays of unordered files pass a
wider one. Per-key state is the set of open sessions, bounded by
activity rate × gap.

Oracle: the classic gaps-and-islands SQL (lag → boundary flag → running
sum → group), an independent spelling of the same semantics. Boundary
rule (probed empirically, asserted in tests/test_asof_sessions_cc.py):
Spark merges an event at exactly ``prev_ts + gap`` into the running
session — a new session starts only when ``next_ts - prev_ts > gap`` —
so the oracle's boundary predicate is strict ``>``.

Money determinism: session value totals are exact-decimal sums cast to
double (functions/money.py) so parallel/partial aggregation order cannot
perturb the float result vs the oracle.

At 100 TB: one shuffle on user_id; session state per key is bounded by
the merge buffer, and AQE handles skewed power-users. Duration is output
as exact integer microseconds (no float drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import dsum
from ..registry import register
from .windows import WATERMARK

GAP = "4 hours"
_GAP_US = 4 * 3600 * 1_000_000

_SESSIONS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM islands
GROUP BY user_id, session_idx
"""


def user_sessions_of(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), GAP).alias("sw"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "total_value",
            (
                F.unix_micros(F.col("session_end")) - F.unix_micros(F.col("session_start"))
            ).alias("duration_us"),
        )
    )


@register("user_sessions", oracle=_SESSIONS_ORACLE)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_sessions_of(load_table(spark, sf_dir, "events"))
