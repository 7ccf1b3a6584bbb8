"""Property-based check (hypothesis) of the W10 latest-wins merge: for ANY
sequence of c/u/d/r events in ANY batch split and ANY arrival order, the
final state equals the reference semantics — per key, the event with the
highest ts_ms wins (arrival order breaks exact ties), visible unless it is
a delete. This is the SURVEY §7 'hard parts' item (c→u→d within a batch,
late stale updates) explored mechanically instead of by hand-picked cases."""

import json
import pathlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_stream_batch_etl_spark.streaming import cdc_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
    _merge_latest,
    read_latest_state,
)

KEYS = [1, 2, 3]
OPS = ["c", "u", "d", "r"]

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.sampled_from(OPS),
        st.integers(min_value=0, max_value=5),  # coarse ts: forces ties
    ),
    min_size=1,
    max_size=12,
)
splits_strategy = st.integers(min_value=1, max_value=3)


def _expected(events):
    """Reference semantics: max ts wins, arrival order breaks ties."""
    state = {}
    for seq, (k, op, ts) in enumerate(events):
        cur = state.get(k)
        if cur is None or ts >= cur[0]:
            state[k] = (ts, op, seq)
    return {k: (ts, op) for k, (ts, op, _) in state.items() if op != "d"}


@pytest.fixture(scope="module")
def merge_env(spark, tmp_path_factory):
    return spark, tmp_path_factory


@given(events=events_strategy, n_batches=splits_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_matches_reference_semantics(merge_env, events, n_batches):
    spark, tmp_path_factory = merge_env
    state_path = str(tmp_path_factory.mktemp("merge") / "state")
    apply = _merge_latest(state_path)

    # split the arrival sequence into contiguous micro-batches
    per = max(1, -(-len(events) // n_batches))
    chunks = [events[i : i + per] for i in range(0, len(events), per)]

    def batch_of(chunk):
        rows = [
            (k, op, ts, json.dumps({"id": k, "op_seen": op, "ts": ts}))
            for (k, op, ts) in chunk
        ]
        return spark.createDataFrame(
            rows, "pk long, op string, ts_ms long, payload_json string"
        )

    def live_state():
        return {
            r.pk: (r.ts_ms, r.op)
            for r in read_latest_state(spark, state_path).collect()
        }

    for bid, chunk in enumerate(chunks):
        apply(batch_of(chunk), bid)
    assert live_state() == _expected(events)

    # checkpoint replay: the last batch re-runs under the same batch id and
    # rewrites its own run
    apply(batch_of(chunks[-1]), len(chunks) - 1)
    assert live_state() == _expected(events)

    # forced compaction: every run folds into one newest-wins base, which
    # must keep the same view — and so must a replay of the last batch
    # on top of that base
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cdc_stream, "COMPACT_AFTER_RUNS", 0)
        cdc_stream._compact(spark, state_path, len(chunks) - 1)
    assert {p.name for p in pathlib.Path(state_path).glob("run=*")} == {
        f"run=c{len(chunks) - 1}"
    }
    assert live_state() == _expected(events)
    apply(batch_of(chunks[-1]), len(chunks) - 1)
    assert live_state() == _expected(events)
