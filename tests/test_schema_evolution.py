"""Schema-drift contract for long-lived CDC landing zones: a column
added upstream (the Debezium ALTER TABLE case, SURVEY S11) must not
break reads of old files — mergeSchema unions the schemas and old rows
surface NULL for the new column, exactly DuckDB's union_by_name
semantics. catalog.load_table's events-ts normalization is the same
policy applied to a physical-type drift the driver actually shipped.

The r11 additions extend the contract from the read layer to the
STATEFUL WRITE layer (the r10 verdict's #6 ask): the latest-state
merge is killed, the upstream table gains a column, and the consumer
restarts on the same checkpoint with the widened envelope — old run
files and new-envelope rows must coexist, deletes must still apply
across the drift, and the commit-marker compaction snapshot of the
drifted state must stay readable."""

import json

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T


def _write_two_generations(spark, base):
    v1 = spark.createDataFrame(
        [Row(order_id=1, amount=10.0), Row(order_id=2, amount=20.0)]
    )
    v2 = spark.createDataFrame(
        [
            Row(order_id=3, amount=30.0, coupon="WELCOME"),
            Row(order_id=4, amount=40.0, coupon=None),
        ]
    )
    v1.write.parquet(f"{base}/gen=1")
    v2.write.parquet(f"{base}/gen=2")


def test_merge_schema_unions_and_nulls_old_rows(spark, tmp_path):
    base = str(tmp_path / "orders_evolving")
    _write_two_generations(spark, base)
    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) >= {"order_id", "amount", "coupon"}
    rows = {r["order_id"]: r for r in df.collect()}
    assert rows[1]["coupon"] is None  # old generation: promoted to NULL
    assert rows[3]["coupon"] == "WELCOME"
    assert len(rows) == 4


def test_merged_read_still_prunes_and_filters(spark, tmp_path):
    """Evolution must not cost the scan properties: a filter on a
    first-generation column still pushes down over the merged read."""
    base = str(tmp_path / "orders_evolving2")
    _write_two_generations(spark, base)
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .filter(F.col("amount") > 25.0)
        .select("order_id", "coupon")
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(amount), GreaterThan(amount,25.0)]" in plan, plan
    assert {r["order_id"] for r in df.collect()} == {3, 4}


# ---------------------------------------------------------------------------
# r11: kill → ALTER TABLE (add column) → restart, through the stateful
# latest-state MERGE and the commit-marker compaction snapshot
# ---------------------------------------------------------------------------


def _v1_env(op, ts_ms, cid, name):
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


def _v2_env(op, ts_ms, cid, name, tier):
    """The post-ALTER envelope: customers gained loyalty_tier."""
    e = json.loads(_v1_env(op, ts_ms, cid, name))
    if e["after"] is not None:
        e["after"]["loyalty_tier"] = tier
    return json.dumps(e)


def test_merge_survives_mid_stream_column_add(spark, tmp_path, state_provider):
    """Kill the latest-state query, widen the upstream schema, restart on
    the SAME checkpoint with the widened envelope (SURVEY S11's ALTER
    TABLE case carried through the stateful write layer):

    - old-generation run files survive untouched (their payloads lack
      the new column) and coexist with new-envelope rows;
    - an update re-keys an old row WITH the new column;
    - a delete issued after the drift still tombstones a pre-drift row;
    - the commit-marker compaction snapshot of the drifted state reads
      back the identical live rows.
    """
    import os

    from cdc_stream_batch_etl_spark.catalog import (
        compact_partitions,
        load_versioned,
    )
    from cdc_stream_batch_etl_spark.schemas import CUSTOMERS
    from cdc_stream_batch_etl_spark.sources.files import text_stream
    from cdc_stream_batch_etl_spark.streaming.cdc_stream import (
        latest_state_query,
        newest_wins,
        read_latest_state,
        split_envelope,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / f"state_{state_provider}")
    ckpt = str(tmp_path / f"ckpt_{state_provider}")

    # phase 1: six creates under the v1 schema; drain and stop ("kill")
    (src / "a.txt").write_text(
        "\n".join(_v1_env("c", 1000 + i, i, f"user{i}-v1") for i in (1, 2, 4, 5, 6, 7))
        + "\n"
    )

    def start(row_schema):
        changes = split_envelope(
            text_stream(spark, str(src)), "customers", row_schema
        )[0]
        return latest_state_query(changes, "customers", state, ckpt)

    q = start(None)
    q.awaitTermination(120)
    gen1_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(state)
        for f in fs
        if f.endswith(".parquet")
    }
    assert gen1_files

    # upstream ALTER TABLE customers ADD COLUMN loyalty_tier
    v2 = T.StructType(CUSTOMERS.fields + [T.StructField("loyalty_tier", T.StringType())])
    (src / "b.txt").write_text(
        "\n".join(
            [
                _v2_env("u", 2000, 1, "user1-v2", "gold"),
                _v2_env("c", 2001, 3, "user3-v1", "silver"),
                _v2_env("d", 2002, 2, None, None),
            ]
        )
        + "\n"
    )
    q2 = start(v2)  # same checkpoint, widened envelope
    q2.awaitTermination(120)

    live = {r.pk: json.loads(r.payload_json) for r in read_latest_state(spark, state).collect()}
    # delete across the drift applied; update carries the new column
    assert set(live) == {1, 3, 4, 5, 6, 7}
    assert live[1]["first_name"] == "user1-v2" and live[1]["loyalty_tier"] == "gold"
    assert live[3]["loyalty_tier"] == "silver"
    # old-generation rows coexist, payloads without the new column
    for old_pk in (4, 5, 6, 7):
        assert "loyalty_tier" not in live[old_pk], live[old_pk]

    # old run files physically survive: phase 2 only appends its own run,
    # so every phase-1 file must still be on disk
    gen2_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(state)
        for f in fs
        if f.endswith(".parquet")
    }
    assert gen1_files <= gen2_files, "a phase-1 run file was rewritten"

    # commit-marker snapshot of the drifted state stays readable and
    # equal (live rows) to the direct read
    compact_partitions(spark, state, partition_cols=("run",))
    snap = {
        r.pk: json.loads(r.payload_json)
        for r in newest_wins(load_versioned(spark, state))
        .filter(F.col("op") != "d")
        .collect()
    }
    assert snap == live
