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
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


@dataclass
class RunResult:
    run_ts: str
    row_counts: dict[str, int] = field(default_factory=dict)
    quality_passed: bool = True
    quality_failures: list[str] = field(default_factory=list)
    duration_sec: float = 0.0


def health_check(spark: SparkSession, sf_dir: str) -> dict[str, bool]:
    """Source-availability probe (the reference's Debezium/Kafka/Redis
    health checks, etl_monitoring.py:44-317, become: can each source table
    be opened and is it non-empty)."""
    out = {}
    for t in ("customer", "orders", "lineitem", "part", "events"):
        try:
            out[t] = load_table(spark, sf_dir, t).limit(1).count() > 0
        except Exception:
            out[t] = False
    return out


def quality_gate(name: str, df: DataFrame) -> list[str]:
    """Row-count + null checks (the DAG's quality gate,
    cdc_etl_orchestration.py:295-357, minus the broken Redis API calls).

    Standalone spelling (extra actions) for ad-hoc use; inside the run
    loop the same metrics ride the `latest` write via ``observe()`` —
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


def run_batch_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, run_ts: str | None = None
) -> RunResult:
    """One E-T-L cycle: health check → the three batch transforms →
    timestamped + latest outputs → quality gate + summary."""
    t0 = time.perf_counter()
    run_ts = run_ts or time.strftime("%Y%m%d_%H%M%S", time.gmtime())
    result = RunResult(run_ts=run_ts)

    health = health_check(spark, sf_dir)
    if not all(health.values()):
        result.quality_passed = False
        result.quality_failures = [f"source unavailable: {k}" for k, v in health.items() if not v]
        return result

    def _publish(name: str, df: DataFrame) -> None:
        run_path = f"{out_dir}/{name}/run_ts={run_ts}"
        df.write.mode("overwrite").parquet(run_path)
        # `latest` is a straight copy of the materialized run output — a
        # column-for-column parquet rewrite, NOT a second execution of the
        # query (the reference writes the same payload to both keys too,
        # batch_processor.py:186-191)
        cnt, fails = _observed_write(
            name, spark.read.parquet(run_path), f"{out_dir}/{name}/latest"
        )
        result.row_counts[name] = cnt
        result.quality_failures.extend(fails)
        # persist contract: outputs are on disk now; drop any bounded
        # frames the query cached so back-to-back runs can't accumulate
        # executor storage
        spark.catalog.clearCache()

    for name, fn in BATCH_QUERIES.items():
        _publish(name, fn(spark, sf_dir))
    for name, (upstream, fn) in DERIVED_QUERIES.items():
        src = spark.read.parquet(f"{out_dir}/{upstream}/latest")
        _publish(name, fn(spark, sf_dir, source_df=src))

    result.quality_passed = not result.quality_failures
    result.duration_sec = round(time.perf_counter() - t0, 3)

    summary = spark.createDataFrame(
        [
            (run_ts, name, cnt, result.quality_passed, result.duration_sec)
            for name, cnt in result.row_counts.items()
        ],
        "run_ts string, table_name string, row_count long, quality_passed boolean, duration_sec double",
    )
    summary.write.mode("append").parquet(f"{out_dir}/batch_summary")
    return result
