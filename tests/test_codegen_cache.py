"""The session's codegen class cache holds the streaming pipeline's working
set (session.CODEGEN_CACHE_ENTRIES): a drain that replays plans an
earlier drain ran compiles (almost) nothing."""

import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.session import CODEGEN_CACHE_ENTRIES
from cdc_stream_batch_etl_spark.sources.files import parquet_stream, text_stream
from cdc_stream_batch_etl_spark.streaming.pipeline import start_pipelines


def _env(op, ts_ms, cid, name):
    return json.dumps(
        {
            "op": op,
            "ts_ms": ts_ms,
            "source": {"table": "customers"},
            "before": None if op == "c" else {"id": cid, "first_name": "old"},
            "after": None
            if op == "d"
            else {"id": cid, "first_name": name, "last_name": "L", "email": "x@y.z"},
        }
    )


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one histogram sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_the_pipeline_working_set(spark, tmp_path, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    cdc_src = tmp_path / "cdc"
    cdc_src.mkdir()
    for b, op in enumerate(("c", "u", "d")):
        (cdc_src / f"b{b}.txt").write_text(
            "\n".join(_env(op, 1000 * b + i, i, f"u{i}-{b}") for i in range(6)) + "\n"
        )
    events = load_table(spark, sf_dir, "events")
    ev_src = str(tmp_path / "ev")
    ordered = events.withColumn("__q", F.ntile(3).over(Window.orderBy("ts")))
    for q in range(1, 4):
        ordered.filter(F.col("__q") == q).drop("__q").coalesce(1).write.parquet(
            f"{ev_src}/b{q}"
        )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    compiled = []
    for run in range(3):
        before = _compiles(spark)
        p = start_pipelines(
            text_stream(spark, str(cdc_src)),
            parquet_stream(spark, ev_src + "/b*", events.schema),
            customer,
            nation,
            str(tmp_path / f"out{run}"),
        )
        try:
            p.await_all(300)
        finally:
            p.stop_all()
        compiled.append(_compiles(spark) - before)

    first, *replays = compiled
    assert all(n <= first / 10 for n in replays), compiled
