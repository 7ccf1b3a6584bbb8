"""trending_products, batch and stream; where the other event-time
families live.

Reference: stream_processor.py keeps 1000-event deques and recomputes
metrics every 100 events on processing time (/root/reference/python/
stream_processor.py:26-31,72-75,216-253). Here (SURVEY §2.9) each
event-time family is one builder, a function of an events DataFrame
(ts timestamp, event_type string, user_id long, value double, props
json string). The registered batch query applies it to the events
table and `streaming/pipeline.start_pipelines` applies it to the events
stream:

- W1 `minute_metrics_of`, W4 `product_velocity_of`, and the shared
  `WATERMARK`                                    → operators/windows.py
- W6-W9 `*_alerts_of`, `geo_concentration_of`, their union
  `alerts_stream`                                → operators/anomalies.py
- gap sessions `user_sessions_of`                → operators/sessions.py
- per-hour top-N `trending_products_stream`      → this module
- W2 trigger → micro-batch trigger (documented deviation from the
  reference's every-100-events trigger)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import WATERMARK
from ..registry import register


def trending_products_stream(events: DataFrame, n: int = 3) -> DataFrame:
    """Per-hour top-N products by purchase value — the windowed-rank
    shape ("trending now") no other stream here covers.

    Streaming DataFrames cannot run rank() windows, so the rank is
    spelled as a SECOND chained windowed aggregation (the
    geo_concentration_of `window(window_time(w))` idiom): stage 1
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
    per_product = (
        events.withWatermark("ts", WATERMARK)
        .filter(F.col("event_type") == "purchase")
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
