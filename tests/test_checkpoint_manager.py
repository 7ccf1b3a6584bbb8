"""Local streaming checkpoints commit through Spark's FileSystem-based
checkpoint manager (session.CHECKPOINT_FILE_MANAGER), and a checkpoint
written by Spark's default FileContext-based manager restarts under it
with exactly-once state."""

import json

from cdc_stream_batch_etl_spark.sources.files import text_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
    cdc_stats_stream,
    latest_state_query,
    read_latest_state,
    split_envelope,
)
from cdc_stream_batch_etl_spark.streaming.pipeline import _overwrite_sink

from tests.conftest import assert_state_provider_engaged

_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
FILE_SYSTEM_MANAGER = _PKG + "FileSystemBasedCheckpointFileManager"
FILE_CONTEXT_MANAGER = _PKG + "FileContextBasedCheckpointFileManager"
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _manager_class(spark, path: str) -> str:
    """The class Spark resolves for a checkpoint at `path`, under the
    session's current confs, with the checksum wrapper taken off."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf()
    )
    if mgr.getClass().getName() == _PKG + "ChecksumCheckpointFileManager":
        field = mgr.getClass().getDeclaredField("underlyingFileMgr")
        field.setAccessible(True)
        mgr = field.get(mgr)
    return mgr.getClass().getName()


def test_local_checkpoints_use_filesystem_manager(spark, tmp_path):
    assert _manager_class(spark, f"file://{tmp_path}/ckpt") == FILE_SYSTEM_MANAGER


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


def test_filecontext_checkpoint_restarts_under_session_default(
    spark, tmp_path, state_provider
):
    src = tmp_path / "src"
    src.mkdir()
    state, stats = str(tmp_path / "state"), str(tmp_path / "stats")
    ckpt = tmp_path / "ckpt"

    def run():
        changes, _ = split_envelope(text_stream(spark, str(src)), "customers")
        for q in (
            latest_state_query(changes, "customers", state, str(ckpt / "latest")),
            _overwrite_sink(cdc_stats_stream(changes), stats, str(ckpt / "stats"), "stats"),
        ):
            q.awaitTermination(120)
            assert q.exception() is None

    def names():
        return {
            r.pk: json.loads(r.payload_json)["first_name"]
            for r in read_latest_state(spark, state).collect()
        }

    def counts():
        return {(r.table, r.op): r.event_count for r in spark.read.parquet(stats).collect()}

    (src / "a.txt").write_text(
        "\n".join([_env("c", 1000, 1, "alice-v1"), _env("c", 1001, 2, "bob-v1")]) + "\n"
    )
    (src / "b.txt").write_text(
        "\n".join([_env("u", 2000, 1, "alice-v2"), _env("c", 2001, 3, "carol-v1")]) + "\n"
    )

    # phase 1 under Spark's default manager for file: paths; `unset`
    # would drop to Spark's default too, so the session's value is put back
    session_default = spark.conf.get(MANAGER_CONF)
    spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
    try:
        assert _manager_class(spark, f"file://{ckpt}") == FILE_CONTEXT_MANAGER
        run()
    finally:
        spark.conf.set(MANAGER_CONF, session_default)
    assert _manager_class(spark, f"file://{ckpt}") == FILE_SYSTEM_MANAGER
    assert_state_provider_engaged(str(ckpt / "stats"), state_provider)
    assert names() == {1: "alice-v2", 2: "bob-v1", 3: "carol-v1"}
    assert counts() == {("customers", "c"): 3, ("customers", "u"): 1}

    # phase 2 under the session default: resumes after a+b, replays nothing
    (src / "c.txt").write_text(
        "\n".join([_env("d", 3000, 2, "bob-v1"), _env("u", 3001, 3, "carol-v2")]) + "\n"
    )
    run()
    assert names() == {1: "alice-v2", 3: "carol-v2"}
    assert counts() == {("customers", "c"): 3, ("customers", "u"): 2, ("customers", "d"): 1}

    # an idle restart changes nothing
    before = sorted(map(tuple, spark.read.parquet(state).collect()))
    run()
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == before
    assert counts() == {("customers", "c"): 3, ("customers", "u"): 2, ("customers", "d"): 1}
