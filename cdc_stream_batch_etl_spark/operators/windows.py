"""Event-time windowed analytics: W1 and W4, batch and stream.

The reference keeps bounded deques and TTL'd Redis keys and computes
processing-time windows on trigger (/root/reference/python/
stream_processor.py:216-253,196-204,147-179). Per SURVEY §2.9 W11 the
engine defines event-time tumbling windows over `ts` as the spec (a
documented deviation-by-design: the reference stamps arrival time,
stream_processor.py:56).

This module owns the W1 (`minute_metrics_of`) and W4
(`product_velocity_of`) builders and the `WATERMARK` every windowed
family shares. A builder is a function of an events DataFrame: the
registered query applies it to the events table, and
`streaming/pipeline.start_pipelines` applies it to the events stream.
`withWatermark` is a no-op on a batch frame (Spark drops it from the plan);
on a stream it bounds window state and seals windows for append mode
(SURVEY §2.9 W3: the watermark replaces both deque maxlen and Redis TTL).

Oracle note: DuckDB has no `window()`; tumbling buckets are spelled
`make_timestamp(floor(epoch(ts)/W)*W * 1e6)` — identical to Spark's
1970-01-01-origin windows (DuckDB `time_bucket` is NOT used: its weekly
origin is 2000-01-03, which would diverge for multi-day windows).

Scale notes: windowed groupBys are single-shuffle hash aggregates keyed on
(window, entity); at 100 TB the events table is date-partitioned so window
queries prune to their date range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import davg, dsum
from ..registry import register

#: event-time delay every windowed family tolerates (W1, W4, W7-W9,
#: sessions and trending_products)
WATERMARK = "10 minutes"


def _bucket_sql(seconds: int) -> str:
    return f"make_timestamp(CAST(floor(epoch(ts)/{seconds})*{seconds}*1000000 AS BIGINT))"


_MINUTE_ORACLE = f"""
SELECT {_bucket_sql(60)} AS window_start,
       count(*) AS event_count,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


def minute_metrics_of(events: DataFrame) -> DataFrame:
    """W1: per-minute purchase count / revenue / avg (the reference's
    compute_real_time_metrics over its 1-min buffer, stream_processor.py:
    216-253), as event-time tumbling windows."""
    return (
        events.withWatermark("ts", WATERMARK)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count("*").alias("event_count"),
            dsum("value").alias("total_value"),
            davg("value").alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_count", "total_value", "avg_value")
    )


@register("minute_metrics", oracle=_MINUTE_ORACLE)
def minute_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minute_metrics_of(load_table(spark, sf_dir, "events"))


_VELOCITY_ORACLE = f"""
SELECT CAST(json_extract(props, 'k') AS INTEGER) AS product_k,
       {_bucket_sql(300)} AS window_start,
       count(*) AS purchase_count,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1, 2
"""


def product_velocity_of(events: DataFrame) -> DataFrame:
    """W4: 5-minute per-product sales velocity (stream_processor.py:196-204;
    the Redis `realtime:product:{id}:velocity` key with TTL 300s becomes a
    (product, 5-min window) aggregate; product id = props.k)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("product_k"),
            F.window("ts", "5 minutes").alias("w"),
        )
        .agg(F.count("*").alias("purchase_count"), dsum("value").alias("total_value"))
        .select("product_k", F.col("w.start").alias("window_start"), "purchase_count", "total_value")
    )


@register("product_velocity", oracle=_VELOCITY_ORACLE)
def product_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return product_velocity_of(load_table(spark, sf_dir, "events"))


_DAILY_ORACLE = """
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       count(*) AS event_count,
       count(DISTINCT user_id) AS unique_users
FROM events
GROUP BY 1, 2
"""


@register("daily_rollup", oracle=_DAILY_ORACLE)
def daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: daily per-type counters (the reference's per-state/category
    counters with 86400s TTL, stream_processor.py:147-152,174-179)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.to_date("ts").alias("event_date"), "event_type"
    ).agg(
        F.count("*").alias("event_count"),
        F.countDistinct("user_id").alias("unique_users"),
    )


_ACTIVITY_ORACLE = """
SELECT user_id,
       CAST(ts AS DATE) AS activity_date,
       count(*) AS events_today,
       max(ts) AS last_event_time,
       arg_max(value, event_id) AS last_value
FROM events
GROUP BY 1, 2
"""


@register("user_activity", oracle=_ACTIVITY_ORACLE)
def user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21: per-customer daily activity (order_count_today + last order
    time/amount read-modify-write, stream_processor.py:111-125) as a
    (user, day) aggregate; "last" resolved by max event_id (unique,
    generation-ordered) for determinism."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id", F.to_date("ts").alias("activity_date")).agg(
        F.count("*").alias("events_today"),
        F.max("ts").alias("last_event_time"),
        F.max_by("value", "event_id").alias("last_value"),
    )
