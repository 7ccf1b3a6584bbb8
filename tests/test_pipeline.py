"""End-to-end streaming deployment: all five query families run
concurrently from file sources and land their output tables, and the
windowed sinks stream the registered batch queries' rows."""

import json
import pathlib
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.operators.windows import minute_metrics, product_velocity
from cdc_stream_batch_etl_spark.sources.files import parquet_stream, text_stream
from cdc_stream_batch_etl_spark.streaming import pipeline
from cdc_stream_batch_etl_spark.streaming.cdc_stream import read_latest_state
from cdc_stream_batch_etl_spark.streaming.pipeline import StreamingPipelines, start_pipelines

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
#: the queries that keep state in a state store (latest_state keeps its
#: own parquet runs)
STATEFUL = ("cdc_stats", "minute_metrics", "velocity", "alerts")


def _env(op, ts_ms, cid, name):
    return json.dumps(
        {
            "op": op,
            "ts_ms": ts_ms,
            "source": {"table": "customers"},
            "before": None,
            "after": {"id": cid, "first_name": name, "last_name": "L", "email": "e"},
        }
    )


def test_full_streaming_pipeline(spark, tmp_path, sf_dir):
    cdc_src = tmp_path / "cdc"
    cdc_src.mkdir()
    (cdc_src / "a.txt").write_text(
        "\n".join(_env("c", 1000 + i, i, f"u{i}") for i in range(5)) + "\n"
    )

    events = load_table(spark, sf_dir, "events")
    ev_src = str(tmp_path / "ev")
    ordered = events.withColumn("__q", F.ntile(3).over(Window.orderBy("ts")))
    for q in range(1, 4):
        ordered.filter(F.col("__q") == q).drop("__q").coalesce(1).write.parquet(
            f"{ev_src}/b{q}"
        )
    ev_stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_src + "/b*")
    )

    out = str(tmp_path / "out")
    p = start_pipelines(
        text_stream(spark, str(cdc_src)),
        ev_stream,
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        out,
    )
    p.await_all(300)

    stats = {(r.table, r.op): r.event_count for r in spark.read.parquet(f"{out}/cdc_stats").collect()}
    assert stats == {("customers", "c"): 5}

    state = read_latest_state(spark, f"{out}/latest_state")
    assert state.count() == 5

    # every window the final watermark sealed equals the registered batch
    # query's row over the same events, column for column (the input is
    # time-ordered, so no row is late), and no other window streamed
    for sink, batch_query, width in (
        ("minute_metrics", minute_metrics, "1 minute"),
        ("velocity", product_velocity, "5 minutes"),
    ):
        watermark = p.queries[sink].lastProgress["eventTime"]["watermark"]
        streamed = spark.read.parquet(f"{out}/{sink}")
        batch = batch_query(spark, sf_dir)
        assert streamed.columns == batch.columns
        sealed = batch.filter(
            F.col("window_start") + F.expr(f"INTERVAL {width}")
            <= F.lit(watermark).cast("timestamp")
        )
        got, want = streamed.collect(), sealed.collect()
        assert got, f"{sink}: no window streamed"
        assert len(got) == len(set(got)), f"{sink}: a window streamed twice"
        assert set(got) == set(want), (
            f"{sink}: {sorted(set(want) - set(got))[:3]} missing, "
            f"{sorted(set(got) - set(want))[:3]} not sealed or not the batch row"
        )
    alerts = spark.read.parquet(f"{out}/alerts")
    # at smoke SF only the stateless family reliably fires inside the
    # sealed-window horizon; per-family coverage is in test_alert_streams
    assert alerts.count() > 0
    assert set(alerts.select("severity").distinct().toPandas()["severity"]) <= {
        "LOW",
        "MEDIUM",
        "HIGH",
    }


def test_malformed_envelopes_are_not_changes(spark, tmp_path, sf_dir):
    """A non-JSON line and an envelope without `op` reach neither
    cdc_stats nor latest_state: the stats hold only the real (table, op)
    counts, and the missing-op line, newer than key 1's update, does not
    shadow it."""
    cdc_src = tmp_path / "cdc"
    cdc_src.mkdir()
    missing_op = json.loads(_env("u", 9000, 1, "ghost"))
    del missing_op["op"]
    (cdc_src / "a.txt").write_text(
        "\n".join(
            [
                _env("c", 1000, 1, "u1"),
                _env("c", 1001, 2, "u2"),
                "not json {",
                json.dumps(missing_op),
                _env("u", 2000, 1, "u1-v2"),
            ]
        )
        + "\n"
    )
    events = load_table(spark, sf_dir, "events")
    ev_src = str(tmp_path / "ev")
    events.orderBy("ts").limit(50).coalesce(1).write.parquet(ev_src)

    out = str(tmp_path / "out")
    p = start_pipelines(
        text_stream(spark, str(cdc_src)),
        spark.readStream.schema(events.schema).parquet(ev_src),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        out,
    )
    p.await_all(300)
    assert all(q.exception() is None for q in p.queries.values())

    stats = {(r.table, r.op): r.event_count for r in spark.read.parquet(f"{out}/cdc_stats").collect()}
    assert stats == {("customers", "c"): 2, ("customers", "u"): 1}
    state = {
        r.pk: json.loads(r.payload_json)["first_name"]
        for r in read_latest_state(spark, f"{out}/latest_state").collect()
    }
    assert state == {1: "u1-v2", 2: "u2"}


class _StubQuery:
    """Never terminates within the time it is given; records that time."""

    def __init__(self, waits, failure=None):
        self.waits, self.failure = waits, failure

    def awaitTermination(self, timeout):
        self.waits.append(timeout)
        if self.failure is not None:
            raise self.failure
        time.sleep(timeout)
        return False

    def exception(self):
        return self.failure


def test_await_all_shares_one_deadline():
    waits = []
    p = StreamingPipelines({f"q{i}": _StubQuery(waits) for i in range(5)})
    t0 = time.monotonic()
    p.await_all(0.4)
    assert time.monotonic() - t0 < 0.4 + 0.2
    assert sum(waits) <= 0.4


def test_await_all_raises_the_first_failed_query():
    waits = []
    first, second = RuntimeError("first failed"), RuntimeError("second failed")
    p = StreamingPipelines(
        {"a": _StubQuery(waits, first), "b": _StubQuery(waits, second)}
    )
    with pytest.raises(RuntimeError, match="first failed"):
        p.await_all(1)
    assert len(waits) == 1

    # a query that failed is reported even after the deadline has passed
    p = StreamingPipelines({"slow": _StubQuery(waits), "failed": _StubQuery(waits, second)})
    with pytest.raises(RuntimeError, match="second failed"):
        p.await_all(0.2)


def _write_inputs(spark, tmp_path, sf_dir, parts):
    """CDC change files and time-ordered events files, one of each per
    part in `parts` (of 3): the pipeline drains one file per trigger."""
    cdc_src, ev_src = tmp_path / "cdc", tmp_path / "ev"
    cdc_src.mkdir(exist_ok=True)
    for b in parts:
        op = "c" if b == 1 else "u"
        (cdc_src / f"b{b}.txt").write_text(
            "\n".join(_env(op, 1000 * b + i, i, f"u{i}-{b}") for i in range(6)) + "\n"
        )
    events = load_table(spark, sf_dir, "events")
    ordered = events.withColumn("__q", F.ntile(3).over(Window.orderBy("ts")))
    for q in parts:
        ordered.filter(F.col("__q") == q).drop("__q").coalesce(1).write.parquet(
            f"{ev_src}/b{q}"
        )
    return str(cdc_src), str(ev_src), events.schema


def _drain(spark, sf_dir, inputs, out):
    cdc_src, ev_src, schema = inputs
    p = start_pipelines(
        text_stream(spark, cdc_src),
        parquet_stream(spark, ev_src + "/b*", schema),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        out,
    )
    try:
        p.await_all(300)
    finally:
        p.stop_all()
    return p


def _state_partitions(out, name) -> list:
    """Partition directories per state operator of one query's checkpoint."""
    state = pathlib.Path(out) / "_checkpoints" / name / "state"
    return [
        sum(d.is_dir() and d.name.isdigit() for d in op.iterdir())
        for op in sorted(state.iterdir())
        if op.name.isdigit()
    ]


def _sinks(spark, out) -> dict:
    rows = {
        sink: sorted(map(tuple, spark.read.parquet(f"{out}/{sink}").collect()))
        for sink in ("cdc_stats", "minute_metrics", "velocity", "alerts")
    }
    rows["latest_state"] = sorted(map(tuple, read_latest_state(spark, f"{out}/latest_state").collect()))
    return rows


def test_queries_share_the_session_partitions(spark, tmp_path, sf_dir):
    """Each query starts with max(1, P // 5) shuffle partitions, so each
    stateful operator keeps that many state-store partitions, and the
    caller's session reads its own P again once the queries run."""
    total = spark.conf.get(SHUFFLE_PARTITIONS)
    share = max(1, int(total) // 5)
    assert share < int(total)
    inputs = _write_inputs(spark, tmp_path, sf_dir, (1, 2))
    out = str(tmp_path / "out")
    p = _drain(spark, sf_dir, inputs, out)
    assert spark.conf.get(SHUFFLE_PARTITIONS) == total
    assert all(q.exception() is None for q in p.queries.values())
    for name in STATEFUL:
        assert set(_state_partitions(out, name)) == {share}, name
    assert not (tmp_path / "out" / "_checkpoints" / "latest_state" / "state").exists()


def test_a_failed_start_stops_the_started_queries(spark, tmp_path, sf_dir, monkeypatch):
    """A query that fails to build or start (here the last, alerts)
    raises from start_pipelines, stops the four queries it had already
    started and leaves the caller's partition count as it was."""

    def broken(*args):
        raise RuntimeError("alerts failed to build")

    monkeypatch.setattr(pipeline, "alerts_stream", broken)
    total = spark.conf.get(SHUFFLE_PARTITIONS)
    before = {q.id for q in spark.streams.active}
    inputs = _write_inputs(spark, tmp_path, sf_dir, (1,))
    with pytest.raises(RuntimeError, match="alerts failed to build"):
        _drain(spark, sf_dir, inputs, str(tmp_path / "out"))
    assert {q.id for q in spark.streams.active} == before
    assert spark.conf.get(SHUFFLE_PARTITIONS) == total


def test_restart_keeps_the_checkpoint_partition_count(spark, tmp_path, sf_dir):
    """A checkpoint created under another session P keeps its state
    partition count on restart (Spark reads it from the offset log), and
    the restarted pipeline's sinks equal an uninterrupted run's."""
    total = spark.conf.get(SHUFFLE_PARTITIONS)
    other = 5 * (max(1, int(total) // 5) + 1)  # a P whose share differs
    out = str(tmp_path / "out")
    first = _write_inputs(spark, tmp_path, sf_dir, (1,))
    spark.conf.set(SHUFFLE_PARTITIONS, str(other))
    try:
        _drain(spark, sf_dir, first, out)
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, total)
    created = {name: _state_partitions(out, name) for name in STATEFUL}
    assert all(set(n) == {other // 5} for n in created.values()), created

    every = _write_inputs(spark, tmp_path, sf_dir, (2, 3))  # arrives while down
    _drain(spark, sf_dir, every, out)
    assert {name: _state_partitions(out, name) for name in STATEFUL} == created

    ref = str(tmp_path / "ref")
    _drain(spark, sf_dir, every, ref)
    assert set(_state_partitions(ref, "alerts")) == {max(1, int(total) // 5)}
    want = _sinks(spark, ref)
    assert all(want.values()), {sink: len(rows) for sink, rows in want.items()}
    assert _sinks(spark, out) == want
