"""Stream-stream interval join: output matches the same join run on the
batch frame, across micro-batch boundaries (a click in batch 0 joins a
purchase arriving in batch 1)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_stream_batch_etl_spark.sources.files import parquet_stream
from cdc_stream_batch_etl_spark.streaming.joins import purchase_click_attribution_stream

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def event_batches(spark, tmp_path):
    rows = [
        [  # batch 0: clicks, one in-batch purchase
            (1, "2024-01-01 00:00:00", 7, "click", 0.0),
            (2, "2024-01-01 00:01:00", 7, "purchase", 30.0),  # joins click 1
            (3, "2024-01-01 00:02:00", 8, "click", 0.0),
            (4, "2024-01-01 00:03:00", 9, "click", 0.0),
        ],
        [  # batch 1: cross-batch purchase for user 8; too-late for user 9
            (5, "2024-01-01 00:05:00", 8, "purchase", 50.0),  # joins click 3
            (6, "2024-01-01 00:20:00", 9, "purchase", 70.0),  # outside window
            (7, "2024-01-01 00:21:00", 9, "click", 0.0),
        ],
        [  # batch 2: a second purchase within window of click 7
            (8, "2024-01-01 00:25:00", 9, "purchase", 90.0),  # joins click 7
        ],
    ]
    src = tmp_path / "events"
    src.mkdir()
    for i, batch in enumerate(rows):
        spark.createDataFrame(batch, ["event_id", "ts0", "user_id", "event_type", "value"]).select(
            "event_id",
            F.col("ts0").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
        ).coalesce(1).write.parquet(str(src / f"b{i}.parquet"))
    return str(src) + "/*"


def test_stream_stream_join_matches_batch_twin(spark, tmp_path, event_batches):
    stream = parquet_stream(spark, event_batches, SCHEMA)
    out_stream = purchase_click_attribution_stream(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = (
        out_stream.writeStream.format("memory")
        .queryName("attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attr").collect()
    }

    batch_df = spark.read.schema(SCHEMA).parquet(event_batches)
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in purchase_click_attribution_stream(
            batch_df.filter(F.col("event_type") == "click"),
            batch_df.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert got == expected == {(1, 2), (3, 5), (7, 8)}


def test_left_outer_stream_join_emits_unconverted(spark, tmp_path, event_batches):
    """Clicks with no purchase in-window surface with NULL purchase_id
    once the watermark passes their window. A far-future heartbeat click
    in the last batch pushes the watermark so earlier unmatched clicks
    flush; the heartbeat itself stays buffered (its own window never
    closes) - asserting that too."""
    from cdc_stream_batch_etl_spark.streaming.joins import unconverted_clicks_stream

    # extend the fixture with a watermark-advancing heartbeat batch
    hb = [(99, "2024-01-01 03:00:00", 999, "click", 0.0)]
    import pathlib

    src_dir = pathlib.Path(event_batches[:-2])
    spark.createDataFrame(hb, ["event_id", "ts0", "user_id", "event_type", "value"]).select(
        "event_id",
        F.col("ts0").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    ).coalesce(1).write.parquet(str(src_dir / "b9.parquet"))

    stream = parquet_stream(spark, event_batches, SCHEMA)
    out = unconverted_clicks_stream(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("unconv")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM unconv").collect()
    matched = {(r["click_id"], r["purchase_id"]) for r in rows if r["purchase_id"] is not None}
    unmatched = {r["click_id"] for r in rows if r["purchase_id"] is None}
    assert matched == {(1, 2), (3, 5), (7, 8)}
    # click 4 (user 9, 00:03) never converted - watermark passed, flushed
    assert 4 in unmatched
    # the heartbeat's own window never closed, so it must NOT appear
    assert 99 not in unmatched
