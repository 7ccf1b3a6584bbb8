"""Pipeline runner — the thin orchestration layer replacing the
reference's Airflow DAG + batch loop.

Reference: run_batch_job extracts → transforms → loads timestamped +
`:latest` Redis keys + a run summary with counters and a quality gate
(/root/reference/python/batch_processor.py:236-286, 178-234;
airflow/dags/cdc_etl_orchestration.py:38-360 adds health checks and a
quality gate but calls APIs that don't exist — SURVEY header caveat; this
runner implements the *working* semantics).

Spark shape: each "Redis key family" is a parquet output table written
under out_dir/<name>/run_ts=<ts>/ with a `latest` copy (S7) — at 100 TB
the run_ts partition IS the retention mechanism the reference's TTLs
approximate (drop old partitions instead of key expiry).

Concurrency: the outputs are independent, so a run overlaps them on the
caller's session. Each chain — one ``BATCH_QUERIES`` output plus the
``DERIVED_QUERIES`` histogram that reads it — runs on its own thread,
and ``health_check`` probes its five sources the same way. Every thread
is entered through ``inheritable_thread_target``, so its jobs keep the
caller's job group and local properties. Results keep the registry order
(batch outputs first, then derived), and a chain's exception reaches the
caller.

Writes: each output is ONE Spark write, the observed write into
``run_ts=<ts>``; ``latest`` is a file-level copy of the committed files
through Hadoop's ``FileSystem`` (no second job), still a parquet
directory. The run summary is built from an Arrow table on the JVM, so
a run starts no Python worker.

Persist contract: ``run_batch_pipeline`` clears the cache once, after
every chain has finished (per output it would drop a running chain's
persisted frame), also when a chain raises; ``run_query`` clears it
after each query.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .catalog import load_table
from .operators.orders import order_analytics
from .operators.products import product_insights
from .operators.segments import customer_segments
from .operators.summary import segment_histogram, stock_status_histogram

BATCH_QUERIES = {
    "customer_segments": customer_segments,
    "product_insights": product_insights,
    "order_analytics": order_analytics,
}

# Summaries re-aggregate a batch output. Standalone they recompute their
# upstream (honest for the driver's oracle check); inside a run they read
# the row we just materialized — one scan of a tiny table, not a second
# execution of the 6-8-scan upstream plan.
DERIVED_QUERIES = {
    "segment_histogram": ("customer_segments", segment_histogram),
    "stock_status_histogram": ("product_insights", stock_status_histogram),
}

SOURCE_TABLES = ("customer", "orders", "lineitem", "part", "events")


@dataclass
class RunResult:
    run_ts: str
    row_counts: dict[str, int] = field(default_factory=dict)
    quality_passed: bool = True
    quality_failures: list[str] = field(default_factory=list)
    duration_sec: float = 0.0


def _concurrently(spark: SparkSession, fn: Callable, args: Sequence) -> list:
    """``[fn(a) for a in args]``, one thread per item on the caller's
    session. Each call is wrapped here, in the caller's thread, so it
    runs under its own copy of the caller's local properties (job group,
    scheduler pool); a shared copy would let one thread's SQL execution
    id leak into another's jobs. Waits for every call, then returns the
    results in order, raising the first failure."""
    with ThreadPoolExecutor(len(args)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), a) for a in args]
    return [f.result() for f in futures]


def health_check(spark: SparkSession, sf_dir: str) -> dict[str, bool]:
    """Source-availability probe (the reference's Debezium/Kafka/Redis
    health checks, etl_monitoring.py:44-317, become: can each source table
    be opened and is it non-empty). The five probes run concurrently."""

    def probe(t: str) -> bool:
        try:
            return load_table(spark, sf_dir, t).limit(1).count() > 0
        except Exception:
            return False

    return dict(zip(SOURCE_TABLES, _concurrently(spark, probe, SOURCE_TABLES)))


def quality_gate(name: str, df: DataFrame) -> list[str]:
    """Row-count + null checks (the DAG's quality gate,
    cdc_etl_orchestration.py:295-357, minus the broken Redis API calls).

    Standalone spelling (extra actions) for ad-hoc use; inside the run
    loop the same metrics ride the `run_ts` write via ``observe()`` —
    see _observed_write — so the gate costs ZERO additional scans there."""
    failures = []
    cnt = df.count()
    if cnt == 0:
        failures.append(f"{name}: empty result")
    key_col = df.columns[0]
    nulls = df.filter(F.col(key_col).isNull()).count()
    if nulls:
        failures.append(f"{name}: {nulls} null keys in {key_col}")
    return failures


def _observed_write(name: str, df: DataFrame, path: str) -> tuple[int, list[str]]:
    """Write ``df`` to ``path`` with the quality metrics COLLECTED BY THE
    WRITE ITSELF (pyspark Observation): row count and null-key count are
    accumulated task-side while the rows stream to parquet, so the gate
    adds zero extra actions — at 100 TB the old spelling's count() +
    null-filter count() were two additional full scans of a
    corpus-growing output per table per run."""
    from pyspark.sql import Observation

    key_col = df.columns[0]
    obs = Observation(f"qg_{name}")
    df.observe(
        obs,
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col(key_col).isNull(), 1).otherwise(0)
        ).alias("null_keys"),
    ).write.mode("overwrite").parquet(path)
    m = obs.get
    cnt = int(m["cnt"] or 0)
    nulls = int(m["null_keys"] or 0)
    failures = []
    if cnt == 0:
        failures.append(f"{name}: empty result")
    if nulls:
        failures.append(f"{name}: {nulls} null keys in {key_col}")
    return cnt, failures


def run_query(
    spark: SparkSession, name: str, sf_dir: str, out_path: str | None = None
) -> int:
    """Materialize ONE registered query and release any caches it
    planted — the runner-level home of the persist contract. A few
    operators (tpch5 important_stock/top_supplier, triangles, pagerank)
    persist small bounded frames that a lazy return cannot unpersist
    without recomputing; bench.py clearCache()s per timed run, and this
    is the equivalent for any other long-lived caller: go through
    run_query and executor storage cannot accumulate across queries.

    Returns the materialized row count (via the observed write when
    ``out_path`` is given, else a count action)."""
    from . import registry

    registry.load_all()
    df = registry.QUERIES[name](spark, sf_dir)
    try:
        if out_path is not None:
            cnt, _ = _observed_write(name, df, out_path)
            return cnt
        return df.count()
    finally:
        spark.catalog.clearCache()


def _copy_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Replace directory ``dst`` with a file-level copy of ``src``
    through Hadoop's FileSystem (any scheme Spark writes to). The copy
    lands in a hidden sibling first and is renamed into place, so a
    reader never lists a half-copied ``dst``."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    src_p, dst_p = Path(src), Path(dst)
    tmp_p = Path(dst_p.getParent(), f"_{dst_p.getName()}.copying")
    fs = src_p.getFileSystem(conf)
    fs.delete(tmp_p, True)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(fs, src_p, fs, tmp_p, False, conf):
        raise OSError(f"could not copy {src} to {tmp_p}")
    fs.delete(dst_p, True)
    if not fs.rename(tmp_p, dst_p):
        raise OSError(f"could not rename {tmp_p} to {dst}")


def run_batch_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, run_ts: str | None = None
) -> RunResult:
    """One E-T-L cycle: health check → the three output chains,
    concurrently → timestamped + latest outputs → quality gate + summary."""
    t0 = time.perf_counter()
    run_ts = run_ts or time.strftime("%Y%m%d_%H%M%S", time.gmtime())
    result = RunResult(run_ts=run_ts)

    health = health_check(spark, sf_dir)
    if not all(health.values()):
        result.quality_passed = False
        result.quality_failures = [f"source unavailable: {k}" for k, v in health.items() if not v]
        return result

    def publish(name: str, df: DataFrame) -> tuple[int, list[str]]:
        run_path = f"{out_dir}/{name}/run_ts={run_ts}"
        cnt, fails = _observed_write(name, df, run_path)
        # `latest` is the same payload as the run (the reference writes it
        # to both keys too, batch_processor.py:186-191): copy the
        # committed files rather than run a second read-and-write job
        _copy_dir(spark, run_path, f"{out_dir}/{name}/latest")
        return cnt, fails

    def chain(name: str) -> dict[str, tuple[int, list[str]]]:
        out = {name: publish(name, BATCH_QUERIES[name](spark, sf_dir))}
        for derived, (upstream, fn) in DERIVED_QUERIES.items():
            if upstream == name:
                src = spark.read.parquet(f"{out_dir}/{name}/latest")
                out[derived] = publish(derived, fn(spark, sf_dir, source_df=src))
        return out

    try:
        chains = _concurrently(spark, chain, list(BATCH_QUERIES))
    finally:
        # persist contract: outputs are on disk now (or the run failed);
        # drop the bounded frames the queries cached, once every chain is
        # done, so back-to-back runs can't accumulate executor storage
        spark.catalog.clearCache()
    published = {k: v for out in chains for k, v in out.items()}
    for name in (*BATCH_QUERIES, *DERIVED_QUERIES):
        cnt, fails = published[name]
        result.row_counts[name] = cnt
        result.quality_failures.extend(fails)

    result.quality_passed = not result.quality_failures
    result.duration_sec = round(time.perf_counter() - t0, 3)

    # an Arrow table goes to the JVM as is: no Python worker starts
    n = len(result.row_counts)
    summary = spark.createDataFrame(
        pa.table({
            "run_ts": [run_ts] * n,
            "table_name": list(result.row_counts),
            "row_count": list(result.row_counts.values()),
            "quality_passed": [result.quality_passed] * n,
            "duration_sec": [result.duration_sec] * n,
        }),
        "run_ts string, table_name string, row_count long, quality_passed boolean, duration_sec double",
    )
    summary.write.mode("append").parquet(f"{out_dir}/batch_summary")
    return result
