"""Crash recovery of the streaming sinks, by fault injection.

Two crash points inside the W10 latest-state foreachBatch
(streaming/cdc_stream.py), each injected by monkeypatching, then a
restart on the SAME checkpoint:

(a) after the trigger's writes (its run, and here also a compaction),
    before the offset commit — the batch is replayed;
(b) inside a compaction, after the base write and before the folded
    runs are deleted — the newest-wins view must not move, and the
    compaction of the replayed batch must finish the job.

Either way the end state must equal an uninterrupted run's: the same
newest row per key, tombstones included. After (b) the raw rows and the
run directories are the same too; after (a) the replayed run may still
sit beside the base that already folded it, a superset with the same
view.

Two more at the other sinks of streaming/pipeline.py:

(c) the cdc_stats overwrite fails after Spark deleted the old snapshot
    and before the new one commits; the replayed batch must rewrite the
    same counts, none counted twice;
(d) the minute_metrics file sink dies between its offset-log and
    commit-log writes, after its files and sink-log entry are written;
    the replayed batch must emit no window a second time.
"""

import json
import os
import pathlib

import pytest
from pyspark.sql import DataFrameWriter, Window
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.operators.windows import minute_metrics_of
from cdc_stream_batch_etl_spark.sources.files import parquet_stream, text_stream
from cdc_stream_batch_etl_spark.streaming import cdc_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
    cdc_stats_stream,
    latest_state_query,
    newest_wins,
    read_latest_state,
    split_envelope,
)
from cdc_stream_batch_etl_spark.streaming.pipeline import _overwrite_sink, _parquet_sink


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


# one file per trigger: batch ids 0..3
FILES = [
    [_env("c", 1000, 1, "alice-v1"), _env("c", 1001, 2, "bob-v1"), _env("c", 1002, 3, "carol-v1")],
    [_env("u", 2000, 1, "alice-v2"), _env("c", 2001, 4, "dave-v1")],
    # a delete, and two updates of one key at one instant: arrival order wins
    [_env("d", 3000, 2, None), _env("u", 3001, 3, "carol-v2"), _env("u", 3001, 3, "carol-v3")],
    # a late stale update of key 1 must lose
    [_env("u", 4000, 4, "dave-v2"), _env("c", 4001, 5, "erin-v1"), _env("u", 1500, 1, "alice-stale")],
]
AFTER_BATCH_2 = {1: "alice-v2", 3: "carol-v3", 4: "dave-v1"}
FINAL = {1: "alice-v2", 3: "carol-v3", 4: "dave-v2", 5: "erin-v1"}

# three runs after batch 2 pass this, so trigger 2 compacts
COMPACT_AFTER = 2


def _run(spark, src: pathlib.Path, state: str, ckpt: str):
    changes = split_envelope(text_stream(spark, str(src)), "customers")[0]
    q = latest_state_query(changes, "customers", state, ckpt)
    q.awaitTermination(120)
    return q


def _source(tmp_path, name) -> pathlib.Path:
    src = tmp_path / name
    src.mkdir()
    for i, lines in enumerate(FILES):
        f = src / f"f{i}.txt"
        f.write_text("\n".join(lines) + "\n")
        # the file source takes files in modification-time order
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
    return src


def _names(spark, state):
    return {r.pk: json.loads(r.payload_json)["first_name"] for r in read_latest_state(spark, state).collect()}


def _view(spark, state):
    return sorted(
        (r.pk, r.op, r.ts_ms, r.payload_json, r.batch_seq)
        for r in newest_wins(spark.read.parquet(state)).collect()
    )


def _raw(spark, state):
    return sorted(
        (r.pk, r.op, r.ts_ms, r.payload_json, r.batch_seq, r.seq)
        for r in spark.read.parquet(state).collect()
    )


def _run_dirs(state):
    return {p.name for p in pathlib.Path(state).glob("run=*")}


@pytest.fixture
def uninterrupted(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(cdc_stream, "COMPACT_AFTER_RUNS", COMPACT_AFTER)
    state = str(tmp_path / "ref_state")
    _run(spark, _source(tmp_path, "ref_src"), state, str(tmp_path / "ref_ckpt"))
    assert _names(spark, state) == FINAL
    assert len(_run_dirs(state)) == 2  # trigger 2's base and run 3
    return state


def test_crash_after_write_before_offset_commit(spark, tmp_path, monkeypatch, uninterrupted):
    src = _source(tmp_path, "src")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    real = cdc_stream._merge_latest

    def crash_after_batch_2(state_path):
        apply = real(state_path)

        def body(batch, batch_id):
            apply(batch, batch_id)
            if batch_id == 2:
                raise RuntimeError("injected crash before the offset commit")

        return body

    monkeypatch.setattr(cdc_stream, "_merge_latest", crash_after_batch_2)
    with pytest.raises(Exception, match="injected crash"):
        _run(spark, src, state, ckpt)
    # trigger 2 wrote its run and compacted before the crash
    assert len(_run_dirs(state)) == 1
    assert _names(spark, state) == AFTER_BATCH_2

    monkeypatch.setattr(cdc_stream, "_merge_latest", real)
    _run(spark, src, state, ckpt)  # replays batch 2, then runs batch 3
    assert _names(spark, state) == FINAL
    assert _view(spark, state) == _view(spark, uninterrupted)


def test_crash_inside_compaction_before_run_deletion(spark, tmp_path, monkeypatch, uninterrupted):
    src = _source(tmp_path, "src")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    real = cdc_stream._drop_runs

    def crash(*args):
        raise RuntimeError("injected crash before the run deletion")

    monkeypatch.setattr(cdc_stream, "_drop_runs", crash)
    with pytest.raises(Exception, match="injected crash"):
        _run(spark, src, state, ckpt)
    # the base sits beside every run it folded, and the view is unchanged
    runs = _run_dirs(state)
    assert len(runs) == 4 and runs > {"run=0", "run=1", "run=2"}
    assert _names(spark, state) == AFTER_BATCH_2

    monkeypatch.setattr(cdc_stream, "_drop_runs", real)
    _run(spark, src, state, ckpt)  # replayed batch 2 compacts again, then batch 3
    assert _names(spark, state) == FINAL
    assert _view(spark, state) == _view(spark, uninterrupted)
    assert _raw(spark, state) == _raw(spark, uninterrupted)
    assert _run_dirs(state) == _run_dirs(uninterrupted)


# per (table, op), over all of FILES: what an uninterrupted run counts
FINAL_STATS = {("customers", "c"): 5, ("customers", "u"): 5, ("customers", "d"): 1}


def _stats_run(spark, src: pathlib.Path, stats: str, ckpt: str):
    changes, _ = split_envelope(text_stream(spark, str(src)), "customers")
    q = _overwrite_sink(cdc_stats_stream(changes), stats, ckpt, "cdc_stats")
    q.awaitTermination(120)
    return q


def _stats(spark, stats):
    rows = spark.read.parquet(stats).collect()
    assert len(rows) == len({(r.table, r.op) for r in rows}), "a (table, op) counted twice"
    return {(r.table, r.op): r.event_count for r in rows}


def test_crash_between_snapshot_delete_and_commit(spark, tmp_path, monkeypatch):
    stats = str(tmp_path / "stats")

    # the second snapshot write (batch 1) overwrites a frame whose tasks
    # fail: Spark deletes the old snapshot, then the job fails uncommitted
    real = DataFrameWriter.parquet
    writes = []

    def failing_second_write(self, path, *args, **kwargs):
        if path == stats:
            writes.append(path)
            if len(writes) == 2:
                poisoned = self._df.select(
                    F.raise_error(F.lit("injected crash before the snapshot commit"))
                )
                return real(poisoned.write.mode("overwrite"), path)
        return real(self, path, *args, **kwargs)

    src, ckpt = _source(tmp_path, "src"), str(tmp_path / "ckpt")
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_second_write)
    with pytest.raises(Exception, match="injected crash"):
        _stats_run(spark, src, stats, ckpt)
    # the old snapshot is gone and no new one committed
    assert not list(pathlib.Path(stats).glob("*.parquet"))

    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    _stats_run(spark, src, stats, ckpt)  # replays batch 1, then runs 2 and 3
    assert _stats(spark, stats) == FINAL_STATS


def test_windowed_sink_killed_between_offset_and_commit_log(spark, tmp_path, sf_dir):
    """The file sink commits inside the JVM, and no Python code runs
    between its sink-log commit and the commit-log write, so the kill
    is reproduced as the checkpoint it leaves: the run completes, then
    the commit-log entry of its last batch is removed. That batch's
    offset-log entry, data files and sink-log entry stay."""
    events = load_table(spark, sf_dir, "events")
    ev_src = str(tmp_path / "ev")
    ordered = events.withColumn("__q", F.ntile(3).over(Window.orderBy("ts")))
    for q in range(1, 4):
        ordered.filter(F.col("__q") == q).drop("__q").coalesce(1).write.parquet(f"{ev_src}/b{q}")

    def run(out, ckpt):
        stream = parquet_stream(spark, ev_src + "/b*", events.schema)
        q = _parquet_sink(minute_metrics_of(stream), out, ckpt, "minute_metrics")
        q.awaitTermination(120)
        assert q.exception() is None
        return q

    def windows(out):
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    out, ckpt = str(tmp_path / "out"), tmp_path / "ckpt"
    q = run(out, str(ckpt))
    uninterrupted = windows(out)
    last = max(int(p.name) for p in (ckpt / "commits").iterdir() if p.name.isdigit())
    assert (ckpt / "offsets" / str(last)).exists()
    # the killed batch emitted windows (append mode emits the windows it
    # evicts from state), so a replay that wrote them again would show
    evicted = {p["batchId"]: p["stateOperators"][0]["numRowsRemoved"] for p in q.recentProgress}
    assert evicted[last] > 0
    (ckpt / "commits" / str(last)).unlink()

    run(out, str(ckpt))  # replays the last batch
    assert (ckpt / "commits" / str(last)).exists()
    got = windows(out)
    assert len(got) == len(set(got)), "a window was emitted twice"
    assert sorted(got) == sorted(uninterrupted)
