"""Structured Streaming real-time analytics: watermarked event-time
windows + anomaly alert streams.

Reference: stream_processor.py keeps 1000-event deques and recomputes
metrics every 100 events on processing time (/root/reference/python/
stream_processor.py:26-31,72-75,216-253). Here (SURVEY §2.9):

- W1/W4/W5 windows  → groupBy(window(event_time, ...)) with watermark
- W3 bounded state  → the watermark evicts window state (replaces both
                      deque maxlen and Redis TTL)
- W2 trigger        → micro-batch trigger (documented deviation from the
                      reference's every-100-events trigger)
- W6-W9 anomalies   → filters over rows/windowed aggregates → one union
                      alert stream (S3/S6)

These builders take any streaming (or batch — identical graph) DataFrame
with the events shape (ts timestamp, event_type string, user_id long,
value double, props json string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..registry import register
from ..functions.labels import alert_severity

_T = DEFAULT_CONFIG.thresholds

WATERMARK = "10 minutes"


def minute_metrics_stream(events: DataFrame) -> DataFrame:
    """W1: tumbling 1-minute purchase metrics with watermark-bounded state."""
    src = events.withWatermark("ts", WATERMARK) if events.isStreaming else events
    return (
        src.filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_count", "total_value")
    )


def sessions_stream(
    events: DataFrame, gap: str = "4 hours", watermark: str = WATERMARK
) -> DataFrame:
    """Gap-based user sessions on the live stream — the streaming dual of
    operators/sessions.py (same ``session_window`` call, so batch and
    stream agree row-for-row on closed sessions; asserted in
    tests/test_streaming.py). State per (user, open session) is merged by
    the session-window operator and evicted once the watermark passes the
    session end — the deque/TTL replacement pattern (SURVEY §2.9 W3).

    Events older than the watermark do NOT merge into existing sessions
    (they open their own, later dropped/finalized inconsistently), so the
    watermark must exceed the source's real out-of-orderness — parity
    tests that replay unordered historical files pass an oversized one.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def velocity_stream(events: DataFrame) -> DataFrame:
    """W4: per-product 5-minute velocity (product id = props.k)."""
    src = events.withWatermark("ts", WATERMARK) if events.isStreaming else events
    return (
        src.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("product_k"),
            F.window("ts", "5 minutes").alias("w"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
        .select("product_k", F.col("w.start").alias("window_start"), "total_value")
    )


def trending_products_stream(events: DataFrame, n: int = 3) -> DataFrame:
    """Per-hour top-N products by purchase value — the windowed-rank
    shape ("trending now") no other stream here covers.

    Streaming DataFrames cannot run rank() windows, so the rank is
    spelled as a SECOND chained windowed aggregation (the
    geo_concentration_stream `window(window_time(w))` idiom): stage 1
    aggregates exact per-(product, hour) revenue; stage 2 collects the
    hour's (value, product) structs and keeps the top-N via
    slice(reverse(array_sort(...))) — a bounded aggregation buffer
    (≤ products-per-hour, and the catalog bounds products), evicted by
    the same watermark. Ties break toward the higher product id (struct
    desc order), deterministically in both batch and stream.

    Emits one row per (window, rank): append mode on a stream seals a
    window once the watermark passes its end; on a batch frame the same
    graph runs as two plain aggregations — the parity test
    (tests/test_trending.py) holds the sealed-window outputs equal."""
    src = events.withWatermark("ts", WATERMARK) if events.isStreaming else events
    per_product = (
        src.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("product_k"),
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value")
        )
    )
    top = (
        per_product.groupBy(F.window(F.window_time("w"), "1 hour").alias("w"))
        .agg(
            F.slice(
                F.reverse(
                    F.array_sort(
                        F.collect_list(F.struct("total_value", "product_k"))
                    )
                ),
                1,
                n,
            ).alias("top")
        )
    )
    return top.select(
        F.col("w.start").alias("window_start"),
        F.posexplode("top").alias("rank0", "t"),
    ).select(
        "window_start",
        (F.col("rank0") + 1).cast("bigint").alias("rank"),
        F.col("t.product_k").alias("product_k"),
        F.col("t.total_value").alias("total_value"),
    )


def high_value_alerts_stream(events: DataFrame) -> DataFrame:
    """W6: stateless high-value filter — works identically on a stream
    (append mode, no state) and a batch frame."""
    return (
        events.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > _T.high_value_event)
        )
        .withColumn("alert_type", F.lit("high_value_order"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
        .select("event_id", "user_id", "ts", "value", "alert_type", "severity")
    )


def bulk_alerts_stream(events: DataFrame) -> DataFrame:
    """W7: bulk-event windows. On a stream the count filter applies per
    finalized window (append mode emits on watermark expiry)."""
    src = events.withWatermark("ts", WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("event_count"))
        .filter(F.col("event_count") > _T.bulk_events_per_window)
        .withColumn("alert_type", F.lit("bulk_orders"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
        .select(F.col("w.start").alias("window_start"), "event_count", "alert_type", "severity")
    )


def velocity_alerts_stream(events: DataFrame) -> DataFrame:
    """W8: rapid-depletion alerts — thresholded per-product windowed sums
    (stream_processor.py:205-212). Emits per finalized window in append
    mode; the watermark bounds state exactly where the reference used a
    300 s Redis TTL."""
    return (
        velocity_stream(events)
        .filter(F.col("total_value") > _T.velocity_window_sum)
        .withColumn("alert_type", F.lit("rapid_stock_depletion"))
        .withColumn("severity", alert_severity(F.col("alert_type")))
    )


def geo_concentration_stream(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """W9: geographic-concentration alerts as a stream-static join (J4):
    the signup stream joins the static customer/nation dims (nation
    broadcast by hint; the customer strategy is Catalyst's — customer
    grows with the corpus, so a forced broadcast would OOM at scale) — then a windowed
    deterministic argmax (A22: lexicographic max of (count, name)) with
    ratio + floor guards (stream_processor.py:271-290)."""
    src = events.withWatermark("ts", WATERMARK) if events.isStreaming else events
    counts = (
        src.filter(F.col("event_type") == "signup")
        .join(customer, F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.window("ts", "1 day").alias("w"), "n_name")
        .agg(F.count("*").alias("cnt"))
    )
    # second (chained) streaming aggregation: the downstream groupBy MUST
    # re-window via window(window_time(w), ...) — grouping on the raw
    # window struct makes the second agg non-time-windowed and it emits
    # unsealed partials (observed: per-micro-batch day fragments)
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


def alerts_stream(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """S3/S6: the four alert families normalized to one keyed payload
    stream — the shape sources/kafka.alert_sink produces to the
    `realtime-alerts` topic (stream_processor.py:292-311)."""
    families = [
        high_value_alerts_stream(events),
        bulk_alerts_stream(events),
        velocity_alerts_stream(events),
        geo_concentration_stream(events, customer, nation),
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


_TRENDING_ORACLE = """
WITH per AS (
  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS product_k,
         date_trunc('hour', ts) AS window_start,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT window_start,
       CAST(row_number() OVER (PARTITION BY window_start
                               ORDER BY total_value DESC, product_k DESC)
            AS BIGINT) AS rank,
       product_k,
       total_value
FROM per
QUALIFY rank <= 3
"""


@register("trending_products", oracle=_TRENDING_ORACLE)
def trending_products(spark, sf_dir: str) -> DataFrame:
    """Batch twin of trending_products_stream — identical graph on the
    static events table (tests/test_trending.py proves stream parity;
    the oracle proves the chained-agg rank against an independent SQL
    row_number)."""
    from ..catalog import load_table

    return trending_products_stream(load_table(spark, sf_dir, "events"), n=3)
