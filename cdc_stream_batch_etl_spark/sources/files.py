"""File-based streaming sources — deterministic micro-batch drivers for
tests and backfills.

A parquet/json/text directory streamed with maxFilesPerTrigger=1 replays
data as an ordered sequence of micro-batches: the same transformation
graphs that run on Kafka in production run on files in CI (SURVEY §7:
"sources/sinks abstracted; parquet + rate/file streaming in CI")."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def parquet_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def text_stream(spark: SparkSession, path: str) -> DataFrame:
    """Lines as a `value` string column — the same shape a Kafka source
    presents after `.cast("string")`, so split_envelope works unchanged."""
    return spark.readStream.option("maxFilesPerTrigger", "1").text(path)
