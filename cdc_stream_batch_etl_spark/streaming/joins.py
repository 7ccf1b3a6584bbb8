"""Stream-stream joins — watermark-bounded event correlation.

The reference has no stream-stream correlation (its processors consume
topics independently; SURVEY §2.2 S4). This module adds the Spark-native
capability its architecture couldn't express: joining two live streams
with bounded state.

`purchase_click_attribution_stream` correlates each click with the same
user's purchases in the FOLLOWING attribution window (click-to-purchase
conversion) — the streaming twin of the batch as-of attribution
(operators/asof.py). Both input streams carry event-time watermarks and
the join predicate bounds the time skew from both sides, so Spark can
prove when buffered rows are joinable-no-more and evict them: state per
side is O(rate × (watermark delay + window)), NOT unbounded history.
Without the two-sided time bound, a stream-stream inner join must hold
every row forever — the difference between a deployable operator and a
memory leak (this is why the interval predicate is non-optional here).

Scale: the join shuffles both streams by user_id into co-partitioned
state stores; skewed users fan out within one partition's store but
never across executors. RocksDB state store is the >memory path, same
as the CDC latest-state merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK = "10 minutes"
ATTRIBUTION_WINDOW = "10 minutes"


def _interval_join(
    clicks: DataFrame, purchases: DataFrame, watermark: str, window: str, how: str
) -> DataFrame:
    """Clicks joined to the same user's purchases at most `window` after
    them. Both sides watermarked (Spark drops the watermark from a batch
    plan, so a batch frame runs the plain range join); the two-sided
    range predicate bounds join state from both directions."""
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    return c.join(
        p,
        F.expr(
            f"""
            c.user_id = p.user_id
            AND p.ts >= c.ts
            AND p.ts <= c.ts + interval {window}
            """
        ),
        how,
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("p.value").alias("purchase_value"),
    )


def purchase_click_attribution_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = WATERMARK,
    window: str = ATTRIBUTION_WINDOW,
) -> DataFrame:
    """(click, purchase) pairs where the purchase follows the click by at
    most `window`, per user."""
    return _interval_join(clicks, purchases, watermark, window, "inner")


def unconverted_clicks_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = WATERMARK,
    window: str = ATTRIBUTION_WINDOW,
) -> DataFrame:
    """LEFT-OUTER variant: every click, with its converting purchase or
    NULLs if none arrived in the window. The null (unconverted) rows can
    only be emitted once the purchase-side WATERMARK has passed the end
    of the click's window — proof of absence needs a closed book, so
    outer results trail the watermark by construction (a click near the
    end of the stream whose window the watermark never passes stays
    buffered; feed a final heartbeat event or stop-and-drain to flush —
    the inherent outer-join-on-streams contract, not a bug)."""
    return _interval_join(clicks, purchases, watermark, window, "leftOuter").drop(
        "purchase_ts"
    )
