"""Streaming binned-quantile contracts: the final per-type read-out
equals the batch twin (binned_quantiles_by_type) exactly — bin counters
are an additive monoid, so any micro-batching folds to the same state —
across adversarial batching and a kill-restart under both state store
providers."""

from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.operators.histogram import quantiles_by_type
from cdc_stream_batch_etl_spark.streaming.quantile_stream import quantile_stream


def _final_rows(spark, out):
    """Latest emission per event_type by micro-batch id."""
    final = {}
    for r in spark.read.parquet(out).collect():
        prev = final.get(r.event_type)
        if prev is None or r.bid > prev.bid:
            final[r.event_type] = r
    return {
        k: (r.n_rows, r.p50_bin, r.p50_est, r.p95_bin, r.p95_est, r.p99_bin, r.p99_est)
        for k, r in final.items()
    }


def _batch_rows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return {
        r.event_type: (
            r.n_rows, r.p50_bin, r.p50_est, r.p95_bin, r.p95_est, r.p99_bin, r.p99_est
        )
        for r in quantiles_by_type(ev).collect()
    }


def _run_stream(spark, ev, src, out, ckpt):
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = (
        quantile_stream(stream)
        .writeStream.foreachBatch(
            lambda bdf, bid: bdf.withColumn("bid", F.lit(bid))
            .write.mode("append")
            .parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_quantile_stream_final_equals_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    n = ev.count()
    # uneven, reverse-ordered files — adversarial batching; the counter
    # monoid must fold to the same state regardless
    ev.orderBy(F.desc("value")).limit(n // 4).coalesce(1).write.parquet(str(src / "b0"))
    ev.orderBy(F.desc("value")).offset(n // 4).coalesce(1).write.parquet(str(src / "b1"))
    _run_stream(spark, ev, src, out, str(tmp_path / "ckpt"))
    assert _final_rows(spark, out) == _batch_rows(spark, sf_dir)


def test_quantile_stream_restart_resumes(spark, sf_dir, tmp_path, state_provider):
    """Bin counters are not idempotent under replay — the checkpointed
    offset log must prevent double counting across a kill-restart, under
    the HDFS-backed AND RocksDB state stores."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n = ev.count()
    ev.limit(n // 3).coalesce(1).write.parquet(str(src / "b0"))
    _run_stream(spark, ev, src, out, ckpt)  # phase 1, then "crash"
    ev.offset(n // 3).coalesce(1).write.parquet(str(src / "b1"))
    _run_stream(spark, ev, src, out, ckpt)  # restart on the same checkpoint
    assert _final_rows(spark, out) == _batch_rows(spark, sf_dir)
    from tests.conftest import assert_state_provider_engaged

    assert_state_provider_engaged(ckpt, state_provider)


def test_readout_rule_degenerate_states():
    """The shared read-out on planted states: empty (no rows — every
    mark None), single-bin mass, and mass exactly at a ceil boundary."""
    from cdc_stream_batch_etl_spark.operators.histogram import BIN_W, N_BINS, V_LO
    from cdc_stream_batch_etl_spark.streaming.quantile_stream import _readout

    empty = _readout([0] * N_BINS)
    assert empty[0] == 0 and all(v is None for v in empty[1:])

    one = [0] * N_BINS
    one[7] = 5
    n, p50b, p50e, p95b, p95e, p99b, p99e = _readout(one)
    assert (n, p50b, p95b, p99b) == (5, 7, 7, 7)
    assert p50e == p95e == p99e == V_LO + 8 * BIN_W

    # 10 in bin 0, 10 in bin 1: ceil(.5*20)=10 -> bin 0; ceil(.95*20)=19 -> bin 1
    two = [0] * N_BINS
    two[0] = 10
    two[1] = 10
    n, p50b, _, p95b, _, p99b, _ = _readout(two)
    assert (n, p50b, p95b, p99b) == (20, 0, 1, 1)

