"""Hardening tests from the round-3 verdict/advice:

- catalog.load_table must FAIL LOUDLY (ValueError) on an unexpected
  physical type for events.ts instead of silently casting to NULLs.
- bmp_decode must raise ValueError (never struct.error / numpy bounds
  errors) on adversarial headers: truncated payload, bad magic,
  non-positive dimensions (incl. spec-legal top-down negative biHeight),
  out-of-bounds raster offset.
- source_overlap must be exercised NON-vacuously: the sf0.01 fixture has
  no cross-shard duplicate digests (driver row passed at 0 == 0), so this
  plants overlaps and asserts the grouped pair-explosion plan actually
  produces them, against the independent DuckDB self-join oracle.
"""

import os
import struct

import numpy as np
import pytest

from .oracle import TABLES, assert_df_matches, run_oracle


# ---------------------------------------------------------------------------
# registry contract: the rows-only set is declared in code and exact
# ---------------------------------------------------------------------------


def test_rows_only_declaration_matches_registry():
    from cdc_stream_batch_etl_spark import registry

    registry.load_all()
    undeclared = set(registry.QUERIES) - set(registry.ORACLES)
    assert undeclared == set(registry.ROWS_ONLY), (
        f"oracle-less queries {sorted(undeclared)} must exactly match "
        f"registry.ROWS_ONLY {sorted(registry.ROWS_ONLY)}"
    )
    assert not (set(registry.ROWS_ONLY) & set(registry.ORACLES))


def test_bench_ledger_official_gating():
    """Only an explicitly-official FULL run may claim bench_ledger.json.

    r10 lesson: the driver's (unflagged) full-registry bench overwrote the
    committed adjudicated ledger. Full-ness alone must route to the
    sidecar; so must an --official flag on a partial run.
    """
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    assert bench.ledger_default_name(official=True, full_run=True) == "bench_ledger.json"
    for official, full in ((False, True), (True, False), (False, False)):
        assert (
            bench.ledger_default_name(official, full) == "bench_ledger.partial.json"
        ), (official, full)


# ---------------------------------------------------------------------------
# centroid stride policies: K ∝ √N for IVF-style cells, K capped for
# codebooks — both must actually engage above the stride-32 floor
# ---------------------------------------------------------------------------


def test_centroid_stride_policies(spark):
    import math

    from pyspark.sql import functions as F

    from cdc_stream_batch_etl_spark.similarity.linalg import (
        CENTROID_STRIDE,
        K_CODEBOOK,
        centroids,
        fixed_k_centroids,
    )

    for n in (500, 40_000, 200_000):
        e = spark.range(n).select(
            F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("emb")
        )
        k_adaptive = centroids(e).count()
        stride = max(CENTROID_STRIDE, math.ceil(math.sqrt(n)))
        assert k_adaptive == len(range(0, n, stride))
        k_fixed = fixed_k_centroids(e).count()
        assert k_fixed <= K_CODEBOOK + 1
        if n >= CENTROID_STRIDE * K_CODEBOOK:
            assert k_fixed >= K_CODEBOOK * 0.9, "cap engaged far below target K"


# ---------------------------------------------------------------------------
# catalog.py events.ts physical-type guard
# ---------------------------------------------------------------------------


def test_catalog_rejects_unexpected_ts_type(spark, sf_dir, tmp_path):
    from cdc_stream_batch_etl_spark.catalog import load_table

    bad_dir = tmp_path / "sf_bad"
    bad_dir.mkdir()
    spark.createDataFrame(
        [(1, "orders", "c", "2024-01-01T00:00:00")],
        "event_id long, table_name string, op string, ts string",
    ).write.parquet(str(bad_dir / "events.parquet"))
    with pytest.raises(ValueError, match="unexpected physical type"):
        load_table(spark, str(bad_dir), "events")


def test_catalog_accepts_timestamp_ntz(spark, tmp_path):
    from pyspark.sql import functions as F

    from cdc_stream_batch_etl_spark.catalog import load_table

    ntz_dir = tmp_path / "sf_ntz"
    ntz_dir.mkdir()
    df = spark.range(3).select(
        F.col("id").alias("event_id"),
        F.lit("orders").alias("table_name"),
        F.lit("c").alias("op"),
        F.timestamp_micros(F.col("id") * 1_000_000).cast("timestamp_ntz").alias("ts"),
    )
    df.write.parquet(str(ntz_dir / "events.parquet"))
    out = load_table(spark, str(ntz_dir), "events")
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.count() == 3


# ---------------------------------------------------------------------------
# bmp_decode adversarial headers
# ---------------------------------------------------------------------------


def _bmp_with(w: int, h: int, offset: int = 54, body_len: int | None = None) -> bytes:
    """Hand-craft a BMP header with arbitrary (possibly hostile) fields."""
    if body_len is None:
        stride = (w * 3 + 3) & ~3 if w > 0 else 0
        body_len = max(0, h) * stride
    body = b"\x00" * body_len
    header = struct.pack("<2sIHHI", b"BM", 54 + body_len, 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body_len, 2835, 2835, 0, 0)
    return header + info + body


def test_bmp_decode_roundtrip_ok():
    from cdc_stream_batch_etl_spark.multimodal.binaryops import bmp_decode, bmp_encode

    px = (np.arange(5 * 7 * 3, dtype=np.uint8)).reshape(5, 7, 3)
    assert np.array_equal(bmp_decode(bmp_encode(px)), px)


@pytest.mark.parametrize(
    "payload, msg",
    [
        (b"", "truncated"),
        (b"BM\x00", "truncated"),
        (b"XX" + b"\x00" * 60, "not a BMP"),
        (_bmp_with(w=7, h=-5, body_len=120), "dimensions"),  # top-down negative biHeight
        (_bmp_with(w=0, h=5), "dimensions"),
        (_bmp_with(w=-3, h=5, body_len=60), "dimensions"),
        (_bmp_with(w=7, h=5, offset=10_000), "out of bounds"),  # offset past payload
        (_bmp_with(w=7, h=5, body_len=10), "out of bounds"),  # raster shorter than h*stride
        (_bmp_with(w=7, h=5, offset=10), "out of bounds"),  # offset inside the header
    ],
)
def test_bmp_decode_adversarial_raises_valueerror(payload, msg):
    from cdc_stream_batch_etl_spark.multimodal.binaryops import bmp_decode

    with pytest.raises(ValueError, match=msg):
        bmp_decode(payload)


# ---------------------------------------------------------------------------
# wav_decode adversarial payloads (the audio twin of the BMP tests)
# ---------------------------------------------------------------------------


def _wav_with(dlen: int, body_len: int, tag: int = 1, n_ch: int = 1, bits: int = 16) -> bytes:
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + body_len, b"WAVE", b"fmt ", 16,
        tag, n_ch, 8000, 16000, 2, bits, b"data", dlen,
    )
    return hdr + b"\x00" * body_len


def test_wav_decode_roundtrip_ok():
    import numpy as np

    from cdc_stream_batch_etl_spark.multimodal.audioops import wav_decode, wav_encode

    s = np.array([0, 1, -1, 32767, -32768, 12345], dtype=np.int16)
    assert np.array_equal(wav_decode(wav_encode(s)), s)


@pytest.mark.parametrize(
    "payload, msg",
    [
        (b"", "truncated"),
        (b"RIFF" + b"\x00" * 20, "truncated"),
        (b"RIFX" + b"\x00" * 60, "not a canonical WAV"),
        (_wav_with(dlen=8, body_len=8, tag=3), "unsupported WAV variant"),  # float PCM
        (_wav_with(dlen=8, body_len=8, n_ch=2), "unsupported WAV variant"),
        (_wav_with(dlen=8, body_len=8, bits=8), "unsupported WAV variant"),
        (_wav_with(dlen=100, body_len=8), "out of bounds"),  # dlen past payload
        (_wav_with(dlen=7, body_len=8), "out of bounds"),  # odd dlen for int16
    ],
)
def test_wav_decode_adversarial_raises_valueerror(payload, msg):
    from cdc_stream_batch_etl_spark.multimodal.audioops import wav_decode

    with pytest.raises(ValueError, match=msg):
        wav_decode(payload)


# ---------------------------------------------------------------------------
# text_normalize with planted messy text (the driver corpus is already
# normalized, so the fixture-SF oracle row passes at changed=0 — vacuous)
# ---------------------------------------------------------------------------


def test_text_normalize_planted(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_stream_batch_etl_spark.text.normalize import _NORMALIZE_ORACLE, text_normalize

    planted = tmp_path / "sf_norm"
    planted.mkdir()
    rows = [
        (1, "  Leading and TRAILING  ", "en", "a", 24),
        (2, "double  spaces\tand tabs", "en", "a", 23),
        (3, "already clean", "en", "a", 13),
        (4, "MiXeD CaSe", "en", "a", 10),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        str(planted / "documents.parquet"),
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", planted / f"{t}.parquet")

    df = text_normalize(spark, str(planted))
    got = {r.doc_id: r for r in df.collect()}
    assert got[1].norm_text == "leading and trailing"
    assert got[2].norm_text == "double spaces and tabs"
    assert got[3].changed is False and got[4].changed is True
    assert got[1].n_chars_removed == 4
    assert_df_matches(df, run_oracle(_NORMALIZE_ORACLE, str(planted)))


# ---------------------------------------------------------------------------
# embedding_outliers with planted corrupt vectors (the isotropic driver
# corpus never crosses z=2 — max observed z ≈ 1.35 — so fixture-SF runs
# flag nothing; this plants zeroed vectors that must flag)
# ---------------------------------------------------------------------------


def test_embedding_outliers_planted(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_stream_batch_etl_spark.similarity.outliers import (
        _OUTLIERS_ORACLE,
        embedding_outliers,
    )

    planted = tmp_path / "sf_emb"
    planted.mkdir()
    dim = 8
    vecs, labels = [], []
    for vid in range(120):
        if vid in (37, 95):
            # corrupt: wrong-scale rows (e.g. un-normalized wrong-model
            # embeddings) — same direction so they assign to the main
            # cell, but far from the centroid
            vecs.append([3.0] * dim)
        else:
            # tight cluster around an all-ones direction with a small
            # deterministic per-vector wobble
            vecs.append([1.0 + 0.001 * ((vid * (j + 3)) % 7) for j in range(dim)])
        labels.append(vid % 4)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(120), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
                "label": pa.array(labels, pa.int64()),
            }
        ),
        str(planted / "embeddings.parquet"),
    )
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", planted / f"{t}.parquet")

    df = embedding_outliers(spark, str(planted))
    flagged = {r.vec_id for r in df.filter("is_outlier").collect()}
    assert {37, 95} <= flagged, f"corrupt vectors not flagged: {flagged}"
    assert len(flagged) <= 6, f"overly trigger-happy screen: {flagged}"
    # the n_cell companion column (the docstring's tiny-cell guard) must
    # be the true member count of each cell
    rows = df.collect()
    true_counts = {}
    for r in rows:
        true_counts[r.cell] = true_counts.get(r.cell, 0) + 1
    assert all(r.n_cell == true_counts[r.cell] for r in rows)
    assert_df_matches(df, run_oracle(_OUTLIERS_ORACLE, str(planted)))


# ---------------------------------------------------------------------------
# source_overlap with planted cross-shard duplicates
# ---------------------------------------------------------------------------


def test_source_overlap_planted(spark, sf_dir, tmp_path):
    """Plant duplicate texts across sources so the pair-explosion plan is
    actually exercised: 'shared one' in {crawl_a, crawl_b, crawl_c} → 3
    pairs, 'shared two' in {crawl_a, crawl_b} → 1 more for (a, b)."""
    from cdc_stream_batch_etl_spark.text.datacard import _OVERLAP_ORACLE, source_overlap

    planted_dir = tmp_path / "sf_planted"
    planted_dir.mkdir()
    rows = [
        (1, "shared one", "en", "crawl_a", 10),
        (2, "shared one", "en", "crawl_b", 10),
        (3, "shared one", "en", "crawl_c", 10),
        (4, "shared two", "en", "crawl_a", 10),
        (5, "shared two", "en", "crawl_b", 10),
        (6, "unique to a", "en", "crawl_a", 11),
        (7, "unique to d", "en", "crawl_d", 11),
        (8, "shared one", "en", "crawl_a", 10),  # same (digest, source) twice → still 1
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # single-file parquet (like the driver fixtures) so DuckDB's
    # read_parquet sees it without a glob
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        str(planted_dir / "documents.parquet"),
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", planted_dir / f"{t}.parquet")

    df = source_overlap(spark, str(planted_dir))
    got = {(r.source_a, r.source_b): r.shared_digests for r in df.collect()}
    assert got == {
        ("crawl_a", "crawl_b"): 2,
        ("crawl_a", "crawl_c"): 1,
        ("crawl_b", "crawl_c"): 1,
    }
    assert_df_matches(df, run_oracle(_OVERLAP_ORACLE, str(planted_dir)))


# ---------------------------------------------------------------------------
# token_quota_by_source boundary semantics: the cumsum is INCLUSIVE, so the
# document that first crosses the budget is excluded while everything before
# it stays — and a document bigger than the whole budget can never sneak in.
# ---------------------------------------------------------------------------


def test_token_quota_boundary(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_stream_batch_etl_spark.text.budget import TOKEN_QUOTA, token_quota_by_source

    planted_dir = tmp_path / "quota"
    planted_dir.mkdir()
    # quality ranks by type/token ratio desc then doc_id; craft docs whose
    # TTR ordering is forced: unique tokens → ttr 1.0, repeated → lower
    big = " ".join(f"w{i}" for i in range(TOKEN_QUOTA - 10))  # fits alone
    mid = " ".join(f"x{i}" for i in range(100))  # crosses the budget
    rep = "y y y y y"  # lowest ttr, never reached
    huge = " ".join(f"z{i}" for i in range(TOKEN_QUOTA + 1))  # alone > budget
    rows = [
        (0, big, "en", "s1", len(big)),
        (1, mid, "en", "s1", len(mid)),
        (2, rep, "en", "s1", len(rep)),
        (3, huge, "en", "s2", len(huge)),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        str(planted_dir / "documents.parquet"),
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", planted_dir / f"{t}.parquet")

    got = {r.doc_id: r for r in token_quota_by_source(spark, str(planted_dir)).collect()}
    assert got[0].selected is True  # best-ranked, fits
    assert got[1].selected is False  # crossing doc is excluded, not truncated
    assert got[2].selected is False  # behind the crossing doc
    assert got[3].selected is False  # single doc over budget: never selected
    assert got[0].cum_tokens == TOKEN_QUOTA - 10


def test_state_asof_cut_is_nonvacuous_and_converges(spark, sf_dir):
    """The AS_OF cut must actually exclude events (time travel, not a
    renamed latest_state), and with the cut at +infinity the operator
    must equal latest_state row-for-row."""
    from cdc_stream_batch_etl_spark.operators.cdc import latest_state
    from cdc_stream_batch_etl_spark.operators.timetravel import AS_OF, state_asof

    asof = {r.user_id: r for r in state_asof(spark, sf_dir).collect()}
    latest = {r.user_id: r for r in latest_state(spark, sf_dir).collect()}
    assert any(
        latest[u].last_event_id != asof[u].last_event_id for u in asof
    ), "cut excluded nothing — vacuous time travel"
    assert all(str(r.last_ts) <= AS_OF for r in asof.values())


# ---------------------------------------------------------------------------
# exact-arithmetic oracle guard (r9, from the r7/r8 briefs): DuckDB widens
# sum(BIGINT) to HUGEINT, which pandas lowers to float64 — the driver's
# value hash is TYPE-sensitive, so an int64 Spark column vs a float64
# oracle column hash-mismatches even when every value is equal (the trap
# that bit source_mix_plan in r7). Guard: DESCRIBE every registered oracle
# (plan-only, no execution) and fail on any HUGEINT/UHUGEINT result
# column — the fix is always an outer CAST(sum(...) AS BIGINT).
# ---------------------------------------------------------------------------


def _hugeint_columns(sql: str, con) -> list[str]:
    desc = con.execute(f"DESCRIBE {sql}").df()
    return [
        n
        for n, t in zip(desc["column_name"], desc["column_type"])
        if t in ("HUGEINT", "UHUGEINT")
    ]


def test_no_oracle_returns_hugeint(sf_dir):
    import duckdb

    from cdc_stream_batch_etl_spark import registry

    registry.load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = {}
    for name, sql in registry.ORACLES.items():
        cols = _hugeint_columns(sql, con)
        if cols:
            bad[name] = cols
    assert not bad, (
        f"oracles with HUGEINT result columns (un-cast sum over BIGINT — "
        f"wrap with CAST(... AS BIGINT) or the driver hash will type-"
        f"mismatch): {bad}"
    )


def test_hugeint_guard_detects_planted_uncast_sum(sf_dir):
    """The guard itself must fire on the exact spelling that caused the
    r7 source_mix_plan failure: an un-cast sum over a BIGINT cast."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * "
        f"FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    planted = (
        "SELECT o_custkey, sum(CAST(o_orderkey AS BIGINT)) AS s "
        "FROM orders GROUP BY 1"
    )
    assert _hugeint_columns(planted, con) == ["s"]
    fixed = (
        "SELECT o_custkey, CAST(sum(CAST(o_orderkey AS BIGINT)) AS BIGINT) "
        "AS s FROM orders GROUP BY 1"
    )
    assert _hugeint_columns(fixed, con) == []
