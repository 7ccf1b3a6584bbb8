import collections
import os

import pytest

from cdc_stream_batch_etl_spark import runner
from cdc_stream_batch_etl_spark.runner import run_batch_pipeline
from cdc_stream_batch_etl_spark.sources.generator import (
    generate_customers,
    generate_orders,
    generate_products,
)


def test_batch_pipeline_end_to_end(spark, sf_dir, tmp_path):
    res = run_batch_pipeline(spark, sf_dir, str(tmp_path / "out"), run_ts="20260101_000000")
    assert res.quality_passed, res.quality_failures
    assert set(res.row_counts) == {
        "customer_segments",
        "product_insights",
        "order_analytics",
        "segment_histogram",
        "stock_status_histogram",
    }
    assert all(v > 0 for v in res.row_counts.values())
    latest = spark.read.parquet(str(tmp_path / "out/customer_segments/latest"))
    assert latest.count() == res.row_counts["customer_segments"]
    summary = spark.read.parquet(str(tmp_path / "out/batch_summary"))
    assert summary.count() == 5


def test_histogram_from_materialized_source_matches_standalone(spark, sf_dir, tmp_path):
    """The runner-fed histogram (source_df = materialized upstream) must be
    value-identical to the standalone recompute, with a 1-scan plan."""
    from cdc_stream_batch_etl_spark.operators.summary import (
        segment_histogram,
        stock_status_histogram,
    )
    from cdc_stream_batch_etl_spark.plans.inspect import profile

    run_batch_pipeline(spark, sf_dir, str(tmp_path / "out"), run_ts="20260101_000000")

    for name, fn in (
        ("customer_segments", segment_histogram),
        ("product_insights", stock_status_histogram),
    ):
        src = spark.read.parquet(str(tmp_path / f"out/{name}/latest"))
        sourced = fn(spark, sf_dir, source_df=src)
        standalone = fn(spark, sf_dir)
        assert sourced.exceptAll(standalone).count() == 0
        assert standalone.exceptAll(sourced).count() == 0
        prof = profile(sourced)
        assert prof.scans == 1
        assert prof.n_exchanges <= 2


def test_generator_distributions(spark):
    cust = generate_customers(spark, 200)
    prod = generate_products(spark, 50)
    orders, items = generate_orders(spark, 100, n_customers=200, n_products=50)

    assert cust.count() == 200
    assert prod.count() == 50
    assert orders.count() == 100

    # FK integrity (J5 sampling stays within existing ids)
    assert orders.join(cust, orders.customer_id == cust.id, "left_anti").count() == 0
    assert items.join(prod, items.product_id == prod.id, "left_anti").count() == 0

    # reference distributions: 1-5 items/order, qty 1-3, price ranges
    from pyspark.sql import functions as F

    per_order = items.groupBy("order_id").count()
    mm = per_order.agg(F.min("count"), F.max("count")).first()
    assert 1 <= mm[0] and mm[1] <= 5
    q = items.agg(F.min("quantity"), F.max("quantity")).first()
    assert 1 <= q[0] and q[1] <= 3
    p = prod.agg(F.min("price"), F.max("price")).first()
    assert float(p[0]) >= 5.0 and float(p[1]) <= 999.99

    # total_amount equals sum of item qty*unit_price
    totals = items.groupBy("order_id").agg(
        F.sum(F.col("quantity") * F.col("unit_price")).cast("decimal(10,2)").alias("t")
    )
    joined = orders.join(totals, orders.id == totals.order_id)
    assert joined.filter(F.col("total_amount") != F.col("t")).count() == 0

    # determinism: same seed → same data
    cust2 = generate_customers(spark, 200)
    assert cust.exceptAll(cust2).count() == 0


def test_run_query_releases_persisted_frames(spark, sf_dir, tmp_path):
    """Runner-level persist contract (r9): important_stock/top_supplier
    persist a bounded per-part aggregate that their lazy return cannot
    unpersist (tpch5.py caller-must-clear comment). Routed through
    run_query, the cache must be GONE after each call — external callers
    of the runner cannot accumulate executor storage."""
    from cdc_stream_batch_etl_spark.runner import run_query

    spark.catalog.clearCache()
    before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    n1 = run_query(spark, "important_stock", sf_dir)
    n2 = run_query(
        spark, "top_supplier", sf_dir, out_path=str(tmp_path / "ts")
    )
    assert n1 > 0 and n2 > 0
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert after <= before, "run_query leaked persisted frames"


OUTPUTS = (*runner.BATCH_QUERIES, *runner.DERIVED_QUERIES)


def _status(spark):
    """(app status store, SQL status store, Scala-to-Java converter),
    after the listener bus has delivered every event so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return (
        sc._jsc.sc().statusStore(),
        spark._jsparkSession.sharedState().statusStore(),
        conv,
    )


def _job_groups(spark, after: int) -> dict[int, str | None]:
    app, _, conv = _status(spark)
    out = {}
    for j in conv.asJava(app.jobsList(None)):
        if j.jobId() > after:
            g = j.jobGroup()
            out[j.jobId()] = g.get() if g.isDefined() else None
    return out


def _sql_writes(spark, after: int) -> list[int]:
    """Ids of the SQL executions after ``after`` that wrote files (the
    "number of written files" metric, as perfbench's StatusStore.writes
    reads it)."""
    _, sql, conv = _status(spark)
    return [
        e.executionId()
        for e in conv.asJava(sql.executionsList())
        if e.executionId() > after
        and any(m.name() == "number of written files" for m in conv.asJava(e.metrics()))
    ]


def _last_ids(spark) -> tuple[int, int]:
    app, sql, conv = _status(spark)
    jobs = [j.jobId() for j in conv.asJava(app.jobsList(None))]
    execs = [e.executionId() for e in conv.asJava(sql.executionsList())]
    return max(jobs, default=-1), max(execs, default=-1)


@pytest.fixture(scope="module")
def grouped_run(spark, sf_dir, tmp_path_factory):
    """One run_batch_pipeline under the job group "g": its result, its
    out_dir, the group of each job it ran and its SQL writes."""
    sc = spark.sparkContext
    last_job, last_exec = _last_ids(spark)
    out = str(tmp_path_factory.mktemp("grouped") / "out")
    sc.setJobGroup("g", "runner contract")
    try:
        res = run_batch_pipeline(spark, sf_dir, out, run_ts="20260101_000000")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, out, _job_groups(spark, last_job), _sql_writes(spark, last_exec)


def test_latest_equals_the_run_directory(spark, grouped_run):
    """`latest` is a file copy of the run_ts= output, row for row."""
    res, out, _, _ = grouped_run
    assert res.quality_passed, res.quality_failures
    assert list(res.row_counts) == list(OUTPUTS)
    for name in OUTPUTS:
        run = spark.read.parquet(f"{out}/{name}/run_ts={res.run_ts}")
        latest = spark.read.parquet(f"{out}/{name}/latest")
        assert latest.schema == run.schema, name
        assert latest.count() == res.row_counts[name], name
        assert latest.exceptAll(run).count() == 0, name
        assert run.exceptAll(latest).count() == 0, name


def test_run_writes_each_output_once(spark, grouped_run):
    """Five outputs plus the summary append: 6 SQL writes per run (a
    second Spark write per output for `latest` would make it 11)."""
    _, _, _, writes = grouped_run
    assert len(writes) == len(OUTPUTS) + 1


def test_every_job_keeps_the_callers_job_group(spark, grouped_run):
    """The chains and probes run on pool threads; each job still belongs
    to the group the caller set."""
    _, _, groups, _ = grouped_run
    assert groups
    assert set(groups.values()) == {"g"}, collections.Counter(groups.values())


def test_failing_chain_raises_and_releases_the_cache(spark, sf_dir, tmp_path, monkeypatch):
    """A chain's exception reaches the caller, and the once-per-run
    clearCache still runs: customer_segments persists its labelled
    frame before the patched chain raises."""
    from cdc_stream_batch_etl_spark.operators.segments import customer_segments

    def boom(spark, sf_dir):
        customer_segments(spark, sf_dir).count()
        raise RuntimeError("boom")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    monkeypatch.setitem(runner.BATCH_QUERIES, "customer_segments", boom)
    spark.catalog.clearCache()
    # RDDs an earlier test persisted through the RDD API outlive clearCache
    before = persisted()
    with pytest.raises(RuntimeError, match="boom"):
        run_batch_pipeline(spark, sf_dir, str(tmp_path / "out"), run_ts="20260101_000000")
    assert persisted() <= before, "a failed run left persisted frames"


def test_health_check_flags_only_the_missing_table(spark, sf_dir, tmp_path):
    for t in runner.SOURCE_TABLES:
        if t != "part":
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), tmp_path / f"{t}.parquet")
    health = runner.health_check(spark, str(tmp_path))
    assert health == {t: t != "part" for t in runner.SOURCE_TABLES}


def test_concurrent_calls_keep_their_own_local_properties(spark):
    """Each call gets its own copy of the caller's local properties: a
    property one thread sets is seen by no other thread and not by the
    caller (one shared copy would let a chain's SQL execution id leak
    into the jobs of another)."""
    import sys
    import time

    sc = spark.sparkContext

    def own(i):
        sc.setLocalProperty("runner.test.owner", str(i))
        time.sleep(0.05)
        return sc.getLocalProperty("runner.test.owner")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        got = runner._concurrently(spark, own, range(16))
    finally:
        sys.setswitchinterval(old)
    assert got == [str(i) for i in range(16)]
    assert sc.getLocalProperty("runner.test.owner") is None
