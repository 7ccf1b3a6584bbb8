"""Unioned alert stream (W6-W9 → S6 shape): the streaming run over file
micro-batches must produce a subset of the batch run (append mode holds
back windows the final watermark hasn't sealed — trailing windows only),
and every family that fires in batch minus the trailing horizon must fire
in the stream."""

import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.operators.anomalies import alerts_stream


def test_alert_union_stream_vs_batch(spark, tmp_path, sf_dir):
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    batch_rows = {
        (r.alert_type, r.severity, r.payload)
        for r in alerts_stream(events, customer, nation).collect()
    }
    assert batch_rows, "no alerts fired at all — thresholds off?"

    # micro-batches must be roughly time-ordered (as a real CDC/Kafka feed
    # is): random shards spanning the full range would make the watermark
    # late-drop everything after the first file
    src = str(tmp_path / "events_src")
    ordered = events.withColumn("__q", F.ntile(4).over(Window.orderBy("ts")))
    for q in range(1, 5):
        ordered.filter(F.col("__q") == q).drop("__q").coalesce(1).write.parquet(
            f"{src}/batch_{q}"
        )
    stream_src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/batch_*")
    )
    q = (
        alerts_stream(stream_src, customer, nation)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("alerts_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    stream_rows = {
        (r.alert_type, r.severity, r.payload)
        for r in spark.sql("SELECT * FROM alerts_out").collect()
    }

    assert stream_rows <= batch_rows, (
        f"stream produced rows batch did not: {sorted(stream_rows - batch_rows)[:3]}"
    )
    # anything missing must be within the unfinalized trailing horizon:
    # a window is sealed once watermark (max_ts - 10 min) passes its end,
    # so each family's starts older than max_ts - 10 min - its window
    # width must have emitted (W6 is stateless: width 0)
    import datetime as dt

    horizon = {
        "high_value_order": dt.timedelta(0),
        "bulk_orders": dt.timedelta(minutes=5),
        "rapid_stock_depletion": dt.timedelta(days=7),
        "geographic_concentration": dt.timedelta(days=1),
    }
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    for alert_type, _, payload in batch_rows - stream_rows:
        cutoff = (max_ts - dt.timedelta(minutes=10) - horizon[alert_type]).isoformat(sep="T")
        d = json.loads(payload)
        start = d.get("window_start") or d.get("ts")
        assert start is not None
        assert start >= cutoff, f"sealed window missing from stream: {d} (cutoff {cutoff})"
