"""Anomaly detectors W6-W9 + unified alerts stream, batch and stream.

The reference's detect_anomalies/send_alert (/root/reference/python/
stream_processor.py:103-109,205-212,255-311) raise four alert families and
publish them with a severity lookup (C14). This module owns the W6-W9
builders and their union `alerts_stream`, each a function of an events
DataFrame (see operators/windows.py): the registered queries apply them
to the events table, and `streaming/pipeline.start_pipelines` applies
`alerts_stream` to the events stream (append mode emits a window's alert
once the watermark seals it).

Thresholds come from config.Thresholds — reference constants rescaled to
the testdata domains (citations in config.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..config import DEFAULT_CONFIG
from ..functions.labels import alert_severity
from ..functions.money import dsum
from ..registry import register
from .windows import WATERMARK

_T = DEFAULT_CONFIG.thresholds


def _bucket_sql(seconds: int) -> str:
    return f"make_timestamp(CAST(floor(epoch(ts)/{seconds})*{seconds}*1000000 AS BIGINT))"


_HIGH_VALUE_ORACLE = f"""
SELECT event_id, user_id, ts, value,
       'high_value_order' AS alert_type,
       'HIGH' AS severity
FROM events
WHERE event_type = 'purchase' AND value > {_T.high_value_event}
"""


def high_value_alerts_of(events: DataFrame) -> DataFrame:
    """W6: stateless row-level high-value filter (stream_processor.py:103-109);
    on a stream it holds no state and needs no watermark."""
    return (
        events.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > _T.high_value_event)
        )
        .withColumn("alert_type", F.lit("high_value_order"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
        .select("event_id", "user_id", "ts", "value", "alert_type", "severity")
    )


@register("anomaly_high_value", oracle=_HIGH_VALUE_ORACLE)
def anomaly_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return high_value_alerts_of(load_table(spark, sf_dir, "events"))


_BULK_ORACLE = f"""
SELECT * FROM (
  SELECT {_bucket_sql(300)} AS window_start,
         count(*) AS event_count,
         'bulk_orders' AS alert_type,
         'MEDIUM' AS severity
  FROM events
  GROUP BY 1
) WHERE event_count > {_T.bulk_events_per_window}
"""


def bulk_alerts_of(events: DataFrame) -> DataFrame:
    """W7: bulk-orders filter over the windowed count (stream_processor.py:
    261-269; >10/min rescaled to >5/5min)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("event_count"))
        .filter(F.col("event_count") > _T.bulk_events_per_window)
        .withColumn("alert_type", F.lit("bulk_orders"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
        .select(F.col("w.start").alias("window_start"), "event_count", "alert_type", "severity")
    )


@register("anomaly_bulk_events", oracle=_BULK_ORACLE)
def anomaly_bulk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bulk_alerts_of(load_table(spark, sf_dir, "events"))


_VELOCITY_ALERT_ORACLE = f"""
SELECT * FROM (
  SELECT CAST(json_extract(props, 'k') AS INTEGER) AS product_k,
         {_bucket_sql(604800)} AS window_start,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         'rapid_stock_depletion' AS alert_type,
         'HIGH' AS severity
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY 1, 2
) WHERE total_value > {_T.velocity_window_sum}
"""


def velocity_alerts_of(events: DataFrame) -> DataFrame:
    """W8: rapid-depletion filter over per-product windowed sums
    (stream_processor.py:205-212; >50/5min rescaled to >400/7day). The
    threshold is calibrated for 7-day sums, so the stream uses 7-day
    windows too, not W4's 5-minute ones."""
    return (
        events.withWatermark("ts", WATERMARK)
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("product_k"),
            F.window("ts", "7 days").alias("w"),
        )
        .agg(dsum("value").alias("total_value"))
        .filter(F.col("total_value") > _T.velocity_window_sum)
        .withColumn("alert_type", F.lit("rapid_stock_depletion"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
        .select("product_k", F.col("w.start").alias("window_start"), "total_value", "alert_type", "severity")
    )


@register("anomaly_velocity", oracle=_VELOCITY_ALERT_ORACLE)
def anomaly_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return velocity_alerts_of(load_table(spark, sf_dir, "events"))


_GEO_ORACLE = f"""
WITH counts AS (
  SELECT {_bucket_sql(86400)} AS window_start,
         n.n_name,
         count(*) AS cnt
  FROM events e
  JOIN customer c ON e.user_id = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE e.event_type = 'signup'
  GROUP BY 1, 2
), per_window AS (
  SELECT window_start,
         CAST(sum(cnt) AS BIGINT) AS total_signups,
         max(struct_pack(cnt := cnt, name := n_name)) AS top
  FROM counts
  GROUP BY 1
)
SELECT window_start,
       top.name AS dominant_nation,
       top.cnt AS nation_signups,
       total_signups,
       CAST(top.cnt AS DOUBLE) / total_signups * 100 AS concentration_pct,
       'geographic_concentration' AS alert_type,
       'LOW' AS severity
FROM per_window
WHERE total_signups >= {_T.geo_min_customers}
  AND CAST(top.cnt AS DOUBLE) / total_signups > {_T.geo_concentration_ratio}
"""


def geo_concentration_of(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """W9: geographic concentration (stream_processor.py:271-290) — daily
    signup windows, dominant nation by lexicographic max of (count, name)
    (deterministic argmax, SURVEY A22), ratio + floor guards (C15).

    On a stream this is a stream-static join (J4) with the customer and
    nation dims. nation (scale-constant) is broadcast by hint; the
    customer join is left to AQE — customer grows with the corpus, so
    forcing a broadcast would OOM at 100× (J4 degrades to a shuffled
    enrichment join at that scale)."""
    counts = (
        events.withWatermark("ts", WATERMARK)
        .filter(F.col("event_type") == "signup")
        .join(customer, F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.window("ts", "1 day").alias("w"), "n_name")
        .agg(F.count("*").alias("cnt"))
    )
    # second (chained) aggregation: on a stream the downstream groupBy
    # MUST re-window via window(window_time(w), ...) — grouping on the raw
    # window struct makes it non-time-windowed and it emits unsealed
    # partials (observed: per-micro-batch day fragments); on a batch frame
    # it groups exactly as w does
    per_window = counts.groupBy(
        F.window(F.window_time("w"), "1 day").alias("w")
    ).agg(
        F.sum("cnt").cast("bigint").alias("total_signups"),
        F.max(F.struct(F.col("cnt"), F.col("n_name").alias("name"))).alias("top"),
    )
    ratio = F.col("top.cnt").cast("double") / F.col("total_signups")
    return (
        per_window.filter(
            (F.col("total_signups") >= _T.geo_min_customers)
            & (ratio > _T.geo_concentration_ratio)
        )
        .withColumn("alert_type", F.lit("geographic_concentration"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("top.name").alias("dominant_nation"),
            F.col("top.cnt").alias("nation_signups"),
            "total_signups",
            (ratio * 100).alias("concentration_pct"),
            "alert_type",
            "severity",
        )
    )


@register("anomaly_geo_concentration", oracle=_GEO_ORACLE)
def anomaly_geo_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geo_concentration_of(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def alerts_stream(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """S3/S6: the four alert families normalized to one keyed payload
    stream — the shape sources/kafka.alert_sink produces to the
    `realtime-alerts` topic (stream_processor.py:292-311)."""
    families = [
        high_value_alerts_of(events),
        bulk_alerts_of(events),
        velocity_alerts_of(events),
        geo_concentration_of(events, customer, nation),
    ]
    unioned = None
    for fam in families:
        norm = fam.select(
            "alert_type",
            "severity",
            F.to_json(F.struct(*fam.columns)).alias("payload"),
        )
        unioned = norm if unioned is None else unioned.unionByName(norm)
    return unioned


_ALERTS_ORACLE = f"""
WITH hv AS ({_HIGH_VALUE_ORACLE}),
     bulk AS ({_BULK_ORACLE}),
     vel AS ({_VELOCITY_ALERT_ORACLE}),
     geo AS ({_GEO_ORACLE})
SELECT alert_type, severity, count(*) AS alert_count FROM (
  SELECT alert_type, severity FROM hv
  UNION ALL SELECT alert_type, severity FROM bulk
  UNION ALL SELECT alert_type, severity FROM vel
  UNION ALL SELECT alert_type, severity FROM geo
) GROUP BY 1, 2
"""


@register("alerts_summary", oracle=_ALERTS_ORACLE)
def alerts_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S6-shaped union of the four alert families (the reference
    produces all of them onto one `realtime-alerts` topic,
    stream_processor.py:292-311) rolled up by (type, severity)."""
    return (
        alerts_stream(
            load_table(spark, sf_dir, "events"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation"),
        )
        .groupBy("alert_type", "severity")
        .agg(F.count("*").alias("alert_count"))
    )
