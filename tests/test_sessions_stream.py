"""Stream/batch parity for session_window sessionization: sealed
sessions must stream identically to the batch run, including across
micro-batch boundaries (where the window-MERGE state path fires when a
later file bridges two previously-open sessions)."""

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.operators.sessions import _GAP_US, user_sessions_of


def test_sessions_stream_matches_batch_on_sealed_sessions(
    spark, tmp_path, sf_dir, state_provider
):
    events = load_table(spark, sf_dir, "events")
    key = lambda r: (  # noqa: E731
        r.user_id, r.session_start, r.session_end, r.n_events,
        r.total_value, r.duration_us,
    )
    batch = {key(r) for r in user_sessions_of(events).collect()}

    # time-ordered micro-batches, as a real feed would deliver
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
    ckpt = str(tmp_path / "ckpt")
    q = (
        user_sessions_of(stream_src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    stream = {key(r) for r in spark.sql("SELECT * FROM sessions_out").collect()}
    # the applyInPandasWithState session state actually lives in the
    # requested provider (misspelled conf silently falls back)
    from tests.conftest import assert_state_provider_engaged

    assert_state_provider_engaged(ckpt, state_provider)

    # nothing streams that the batch run doesn't produce
    assert stream <= batch, sorted(stream - batch)[:3]
    # every session sealed by the final watermark must have streamed:
    # the watermark is max_ts - 10 min, and a session seals once the
    # watermark passes session_end + gap
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    cutoff = (
        max_ts
        - dt.timedelta(minutes=10)
        - dt.timedelta(microseconds=_GAP_US)
    )
    missing_sealed = {r for r in (batch - stream) if r[2] < cutoff}
    assert not missing_sealed, sorted(missing_sealed)[:3]
    assert stream, "no sealed sessions streamed at all"
