"""Delta-run state-table guarantees (VERDICT r1 item 7 / ADVICE medium):

- a micro-batch writes ONLY its own `run=<batch_id>` partition — every
  earlier run's files stay byte-identical on disk, and the new run holds
  only that batch's rows;
- an unreadable (corrupt) state table fails the one writer that reads
  state (a compacting trigger) instead of being folded or deleted.
"""

import hashlib
import json
import pathlib

import pytest

from cdc_stream_batch_etl_spark.streaming import cdc_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
    _merge_latest,
    read_latest_state,
)

SCHEMA = "pk long, op string, ts_ms long, payload_json string"


def _batch(spark, rows):
    return spark.createDataFrame(
        [(k, op, ts, json.dumps({"id": k})) for (k, op, ts) in rows], SCHEMA
    )


def _snapshot(state: str) -> dict[str, str]:
    return {
        str(p.relative_to(state)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in pathlib.Path(state).rglob("*.parquet")
    }


def _run_dirs(state) -> set[str]:
    return {p.name for p in pathlib.Path(state).iterdir() if p.name.startswith("run=")}


def test_earlier_runs_byte_identical(spark, tmp_path):
    state = str(tmp_path / "state")
    apply = _merge_latest(state)
    apply(_batch(spark, [(k, "c", 1) for k in range(60)]), 0)
    before = _snapshot(state)
    assert before and all(p.startswith("run=0/") for p in before)

    apply(_batch(spark, [(7, "u", 2)]), 1)
    after = _snapshot(state)

    for path, digest in before.items():
        assert after.get(path) == digest, f"earlier {path} was rewritten"
    new = set(after) - set(before)
    assert new and all(p.startswith("run=1/") for p in new)
    assert _run_dirs(state) == {"run=0", "run=1"}
    # the new run holds only this batch's rows
    run1 = spark.read.parquet(f"{state}/run=1").collect()
    assert [(r.pk, r.op, r.ts_ms, r.batch_seq) for r in run1] == [(7, "u", 2, 1)]

    got = {r.pk: (r.ts_ms, r.op) for r in read_latest_state(spark, state).collect()}
    expect = {k: (1, "c") for k in range(60)}
    expect[7] = (2, "u")
    assert got == expect


def test_empty_batch_is_a_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    apply = _merge_latest(state)
    apply(_batch(spark, [(1, "c", 1), (2, "c", 1)]), 0)
    before = _snapshot(state)
    apply(spark.createDataFrame([], SCHEMA), 1)
    assert _snapshot(state) == before


def test_unreadable_state_fails_batch_instead_of_wiping(spark, tmp_path, monkeypatch):
    """Compaction is the one writer that reads state: a read failure
    there must fail the trigger, not fold the corrupt runs or delete them."""
    monkeypatch.setattr(cdc_stream, "COMPACT_AFTER_RUNS", 1)
    state_dir = tmp_path / "state"
    apply = _merge_latest(str(state_dir))
    apply(_batch(spark, [(k, "c", 1) for k in range(20)]), 0)

    # corrupt every run file: a read failure is NOT an empty state
    files = list(state_dir.rglob("*.parquet"))
    assert files
    for p in files:
        p.write_bytes(b"not a parquet file")

    # the second run makes two > COMPACT_AFTER_RUNS, so this trigger compacts
    with pytest.raises(Exception):
        apply(_batch(spark, [(1, "u", 2)]), 1)
    # the corrupt runs were left in place; no run was deleted and no
    # base was committed
    for p in files:
        assert p.read_bytes() == b"not a parquet file"
    assert _run_dirs(state_dir) == {"run=0", "run=1"}
    with pytest.raises(Exception):
        read_latest_state(spark, str(state_dir)).collect()
