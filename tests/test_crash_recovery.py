"""Crash recovery of the latest-state delta runs, by fault injection.

Two crash points inside the W10 foreachBatch (streaming/cdc_stream.py),
each injected by monkeypatching, then a restart on the SAME checkpoint:

(a) after the trigger's writes (its run, and here also a compaction),
    before the offset commit — the batch is replayed;
(b) inside a compaction, after the base write and before the folded
    runs are deleted — the newest-wins view must not move, and the
    compaction of the replayed batch must finish the job.

Either way the end state must equal an uninterrupted run's: the same
newest row per key, tombstones included. After (b) the raw rows and the
run directories are the same too; after (a) the replayed run may still
sit beside the base that already folded it, a superset with the same
view."""

import json
import os
import pathlib

import pytest

from cdc_stream_batch_etl_spark.sources.files import text_stream
from cdc_stream_batch_etl_spark.streaming import cdc_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
    latest_state_query,
    newest_wins,
    parse_envelope,
    read_latest_state,
)


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
    changes = parse_envelope(text_stream(spark, str(src)), "customers")
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
