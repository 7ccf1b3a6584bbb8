"""Structured Streaming tests: file-source micro-batches drive the same
graphs that run on Kafka in production.

Covers the SURVEY §2.9 hard parts: latest-wins upsert with deletes and
out-of-order events across micro-batches (W10/W11), streaming stats
(A15), and stream/batch parity for windowed aggregates (W1)."""

import json

import pytest
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.operators.sessions import user_sessions_of
from cdc_stream_batch_etl_spark.operators.windows import minute_metrics_of
from cdc_stream_batch_etl_spark.sources.files import text_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
    cdc_stats_stream,
    latest_state_query,
    parse_envelope,
    read_latest_state,
)


def _env(op, table, ts_ms, row_before=None, row_after=None):
    return json.dumps(
        {
            "op": op,
            "ts_ms": ts_ms,
            "source": {"table": table},
            "before": row_before,
            "after": row_after,
        }
    )


def _cust(i, name, email="x@y.z"):
    return {"id": i, "first_name": name, "last_name": "L", "email": email}


@pytest.fixture()
def cdc_fixture(tmp_path):
    """Three micro-batch files with c→u→d sequences, an out-of-order
    update, and a same-batch create+delete (FIXTURES §2 scenario list)."""
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [  # batch 0: creates
            _env("c", "customers", 1000, None, _cust(1, "alice-v1")),
            _env("c", "customers", 1001, None, _cust(2, "bob-v1")),
            _env("c", "customers", 1002, None, _cust(3, "carol-v1")),
            _env("r", "customers", 900, None, _cust(4, "dave-snapshot")),
        ],
        [  # batch 1: update bob, delete carol, same-batch c+d for key 5
            _env("u", "customers", 2000, _cust(2, "bob-v1"), _cust(2, "bob-v2")),
            _env("d", "customers", 2001, _cust(3, "carol-v1"), None),
            _env("c", "customers", 2002, None, _cust(5, "eve-v1")),
            _env("d", "customers", 2003, _cust(5, "eve-v1"), None),
        ],
        [  # batch 2: LATE update for alice (older ts than her create? no —
           # older than bob's v2; alice gets a late lower-ts update that
           # must NOT beat her existing higher-ts state) + real update
            _env("u", "customers", 500, _cust(1, "alice-stale"), _cust(1, "alice-stale")),
            _env("u", "customers", 3000, _cust(4, "dave-snapshot"), _cust(4, "dave-v2")),
        ],
    ]
    for i, lines in enumerate(batches):
        (src / f"batch_{i}.txt").write_text("\n".join(lines) + "\n")
    return src


def test_latest_state_upsert_with_deletes(spark, tmp_path, cdc_fixture):
    raw = text_stream(spark, str(cdc_fixture))
    changes = parse_envelope(raw, "customers")
    q = latest_state_query(
        changes,
        "customers",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    state = read_latest_state(spark, str(tmp_path / "state"))
    rows = {r.pk: json.loads(r.payload_json) for r in state.collect()}

    assert set(rows) == {1, 2, 4}, f"unexpected keys: {sorted(rows)}"
    assert rows[1]["first_name"] == "alice-v1"  # late stale update lost
    assert rows[2]["first_name"] == "bob-v2"  # update won
    assert rows[4]["first_name"] == "dave-v2"  # snapshot 'r' then update
    # carol (deleted) and eve (created+deleted in one batch) absent


def test_cdc_stats_stream(spark, cdc_fixture):
    raw = text_stream(spark, str(cdc_fixture))
    changes = parse_envelope(raw, "customers")
    q = (
        cdc_stats_stream(changes)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("stats_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.table, r.op): r.event_count for r in spark.sql("SELECT * FROM stats_out").collect()
    }
    assert got == {
        ("customers", "c"): 4,
        ("customers", "u"): 3,
        ("customers", "d"): 2,
        ("customers", "r"): 1,
    }


def test_streaming_sessions_match_batch(spark, tmp_path, sf_dir):
    """Stream/batch parity for session windows: the same user_sessions_of
    builder over file micro-batches equals the registered batch
    user_sessions query — including sessions whose events span multiple
    micro-batch files (session-window state merge)."""
    from cdc_stream_batch_etl_spark import registry

    registry.load_all()
    batch_result = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in registry.QUERIES["user_sessions"](spark, sf_dir).collect()
    }

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "sess_src")
    events.repartition(4).write.parquet(src)
    stream_src = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        # replayed files are not time-ordered → watermark wider than the
        # 30-day event span so no event is "late" (see operators/sessions.py)
        user_sessions_of(stream_src, watermark="40 days")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_parity_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_result = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess_parity_out").collect()
    }
    assert stream_result == batch_result


def test_streaming_minute_metrics_match_batch(spark, tmp_path, sf_dir):
    """Stream/batch parity: the same builder over a file stream (complete
    mode) must equal its batch run — micro-batching is an execution
    detail, not a semantics change."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    # re-write as several files to force multiple micro-batches
    events.repartition(4).write.parquet(src)

    batch_result = {
        (r.window_start, r.event_count, round(r.total_value, 6))
        for r in minute_metrics_of(events).collect()
    }

    stream_src = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        minute_metrics_of(stream_src)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("mm_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_result = {
        (r.window_start, r.event_count, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM mm_out").collect()
    }
    assert stream_result == batch_result
