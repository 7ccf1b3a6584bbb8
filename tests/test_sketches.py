"""Sketch-family contracts beyond the oracle hash-match:
- KMV: the estimate is within the theoretical error envelope of the
  exact count, and sketches MERGE (k-smallest of a union of k-smallest
  sets = k-smallest of the union) — the property that makes the sketch
  a distributed aggregate.
- Count-min: point estimates (min over depths) never UNDERestimate the
  exact count — CMS's one-sided guarantee.
"""

import math

from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.dedup import hash64_expr
from cdc_stream_batch_etl_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    KMV_K,
    countmin_sketch,
    kmv_distinct_by_type,
)


def test_kmv_estimate_within_error_envelope(spark, sf_dir):
    rows = kmv_distinct_by_type(spark, sf_dir).collect()
    assert rows, "no event types"
    for r in rows:
        if r.n_distinct_exact < KMV_K:
            assert r.kmv_estimate == float(r.n_distinct_exact)  # exact below K
        else:
            # KMV relative standard error ~ 1/sqrt(K-2); allow 5 RSE
            rse = 1.0 / math.sqrt(KMV_K - 2)
            rel = abs(r.kmv_estimate - r.n_distinct_exact) / r.n_distinct_exact
            assert rel < 5 * rse, (
                f"{r.event_type}: estimate {r.kmv_estimate:.0f} vs exact "
                f"{r.n_distinct_exact} (rel {rel:.2f} > {5 * rse:.2f})"
            )


def test_kmv_estimation_branch_at_small_k(spark, sf_dir):
    """Force the kth-hash normalization branch regardless of fixture
    cardinality: shrink K below the per-type distinct count and verify
    the estimate against the formula applied to the true K-th smallest
    hash (computed independently here), plus a loose error envelope."""
    from cdc_stream_batch_etl_spark.operators.sketches import HASH_SPACE, kmv_sketch

    k = 8
    ev = load_table(spark, sf_dir, "events")
    rows = {r.event_type: r for r in kmv_sketch(ev, k).collect()}

    hv = ev.select(
        "event_type", F.expr(hash64_expr("cast(user_id as string)")).alias("hv")
    ).distinct().collect()
    by_type = {}
    for r in hv:
        by_type.setdefault(r.event_type, []).append(r.hv)

    exercised = 0
    for et, hashes in by_type.items():
        hashes.sort()
        r = rows[et]
        assert r.n_distinct_exact == len(hashes)
        if len(hashes) < k:
            assert r.kmv_estimate == float(len(hashes))
            continue
        exercised += 1
        kth = hashes[k - 1]
        assert r.kth_hash == kth, et  # the sketch found the true K-th minimum
        expected = (k - 1) / (kth / HASH_SPACE)
        assert r.kmv_estimate == expected, et  # exact formula, same floats
        # k=8 has ~41% RSE; assert the estimate is at least order-correct
        rel = abs(expected - len(hashes)) / len(hashes)
        assert rel < 5 / math.sqrt(k - 2), (et, rel)
    assert exercised > 0, "fixture too small to exercise the estimation branch"


def test_kmv_sketch_merges(spark, sf_dir):
    """k-smallest(k-smallest(A) ∪ k-smallest(B)) == k-smallest(A ∪ B):
    split the corpus by user parity, sketch each half, merge, and compare
    the merged k-th hash with the whole-corpus sketch."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(hash64_expr("cast(user_id as string)")).alias("hv")
    )
    whole = sorted({r.hv for r in ev.distinct().collect()})[:KMV_K]
    half_a = sorted(
        {r.hv for r in ev.filter(F.col("user_id") % 2 == 0).distinct().collect()}
    )[:KMV_K]
    half_b = sorted(
        {r.hv for r in ev.filter(F.col("user_id") % 2 == 1).distinct().collect()}
    )[:KMV_K]
    merged = sorted(set(half_a) | set(half_b))[:KMV_K]
    assert merged == whole


def test_countmin_never_underestimates(spark, sf_dir):
    sketch = {
        (r.depth, r.bucket): r.counter for r in countmin_sketch(spark, sf_dir).collect()
    }
    assert len(sketch) <= CMS_DEPTH * CMS_WIDTH
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.user_id: r.cnt
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).limit(200).collect()
    }
    probe = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            *[
                (
                    F.expr(
                        hash64_expr(f"concat('{d}', ':', cast(user_id as string))")
                    )
                    % CMS_WIDTH
                ).alias(f"b{d}")
                for d in range(CMS_DEPTH)
            ],
        )
        .collect()
    )
    buckets = {r.user_id: [r[f"b{d}"] for d in range(CMS_DEPTH)] for r in probe}
    checked = 0
    for uid, cnt in exact.items():
        est = min(sketch.get((d, buckets[uid][d]), 0) for d in range(CMS_DEPTH))
        assert est >= cnt, f"CMS underestimated user {uid}: {est} < {cnt}"
        checked += 1
    assert checked > 0


def test_kmv_stream_final_state_equals_batch(spark, sf_dir, tmp_path):
    """The k-min set is a commutative idempotent monoid, so the stream's
    final sketch must EQUAL the batch operator's regardless of micro-batch
    boundaries — asserted with the corpus split across three files in
    shuffled order."""
    from cdc_stream_batch_etl_spark.streaming.sketches_stream import kmv_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tmp_path / "src"
    src.mkdir()
    # three uneven files, reverse event order — adversarial batching
    n = ev.count()
    ev.orderBy(F.desc("event_id")).limit(n // 5).coalesce(1).write.parquet(
        str(src / "b0")
    )
    ev.orderBy(F.desc("event_id")).offset(n // 5).coalesce(1).write.parquet(
        str(src / "b1")
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    out = str(tmp_path / "out")
    # stamp each emission with its micro-batch id: once the sketch
    # saturates at K, n_hashes ties across emissions and ordering by it
    # would pick an arbitrary (possibly stale) row — the batch id is the
    # only unambiguous "latest" key
    q = (
        kmv_stream(stream)
        .writeStream.foreachBatch(
            lambda bdf, bid: bdf.withColumn("bid", F.lit(bid))
            .write.mode("append")
            .parquet(out)
        )
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    final = {}
    for r in spark.read.parquet(out).collect():
        prev = final.get(r.event_type)
        if prev is None or r.bid > prev.bid:
            final[r.event_type] = r
    batch = {r.event_type: r for r in kmv_distinct_by_type(spark, sf_dir).collect()}
    assert set(final) == set(batch)
    for et, b in batch.items():
        s = final[et]
        assert s.kth_hash == b.kth_hash, et
        assert s.kmv_estimate == b.kmv_estimate, et


def test_sketch_streams_on_a_batch_frame_equal_the_registered_queries(spark):
    """A batch frame runs the stream handlers once on a cold state, so
    kmv_stream and hll_stream over the sf0.01 events give the rows of the
    registered kmv_distinct_by_type and hll_distinct_by_type (sf0.01
    reaches K distinct users, so the kth-hash branch is exercised)."""
    import os

    from cdc_stream_batch_etl_spark.operators.hll import hll_distinct_by_type
    from cdc_stream_batch_etl_spark.streaming.hll_stream import hll_stream
    from cdc_stream_batch_etl_spark.streaming.sketches_stream import kmv_stream
    from tests.conftest import SF_DIR

    sf001 = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    ev = load_table(spark, sf001, "events")

    kmv_cols = ["event_type", "kth_hash", "kmv_estimate"]
    got = sorted(kmv_stream(ev).collect())
    want = sorted(kmv_distinct_by_type(spark, sf001).collect())
    assert [r["kth_hash"] for r in want if r["kth_hash"] is not None], want
    assert [[r[c] for c in kmv_cols] for r in got] == [
        [r[c] for c in kmv_cols] for r in want
    ]
    assert [r.n_hashes for r in got] == [min(r.n_distinct_exact, KMV_K) for r in want]

    hll_cols = ["event_type", "registers_used", "empty_registers", "max_rho", "raw_estimate"]
    got = sorted(hll_stream(ev).select(hll_cols).collect())
    want = sorted(hll_distinct_by_type(spark, sf001).select(hll_cols).collect())
    assert got == want


def test_histogram_quantile_readout_within_bin_width(spark, sf_dir):
    """Quantiles read from the equi-width histogram must land within one
    bin width of the exact percentiles — the sketch's stated error bound."""
    from cdc_stream_batch_etl_spark.operators.histogram import BIN_W, value_histogram

    bins = sorted(
        (r.bin, r.n_rows) for r in value_histogram(spark, sf_dir).collect()
    )
    total = sum(n for _, n in bins)

    def readout(q):
        target = q * total
        cum = 0
        for b, n in bins:
            if cum + n >= target:
                frac = (target - cum) / n
                return (b + frac) * BIN_W
            cum += n
        return bins[-1][0] * BIN_W + BIN_W

    ev = load_table(spark, sf_dir, "events")
    exact = ev.agg(
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    ).collect()[0]
    assert abs(readout(0.5) - exact.p50) <= BIN_W
    assert abs(readout(0.95) - exact.p95) <= BIN_W


def test_training_shuffle_is_rerun_stable_and_uniform(spark, sf_dir):
    """Content-addressed order: two independent evaluations produce the
    identical permutation; shards are hash-uniform; positions are dense
    1..shard_size."""
    from cdc_stream_batch_etl_spark.text.shuffle import N_SHARDS, training_shuffle

    a = {(r.doc_id): (r.shard, r.position) for r in training_shuffle(spark, sf_dir).collect()}
    b = {(r.doc_id): (r.shard, r.position) for r in training_shuffle(spark, sf_dir).collect()}
    assert a == b  # rerun-stable
    n_docs = len(a)
    shards = {}
    for shard, pos in a.values():
        shards.setdefault(shard, []).append(pos)
    assert len(shards) > N_SHARDS // 2  # uniform placement fills most buckets
    for shard, positions in shards.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))  # dense ranks
    biggest = max(len(p) for p in shards.values())
    assert biggest <= max(4 * n_docs // N_SHARDS, 8)  # no gross skew


def test_kmv_stream_restart_resumes_sketch(spark, sf_dir, tmp_path):
    """Checkpoint-kill-restart for the monoid-state operator: stop after
    the first file, restart on the same checkpoint with a second file —
    the final sketch must equal the batch twin's (no lost or re-merged
    hashes; idempotent merge makes even a replayed batch harmless, but
    offsets must still advance)."""
    from cdc_stream_batch_etl_spark.streaming.sketches_stream import kmv_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n = ev.count()
    ev.limit(n // 3).coalesce(1).write.parquet(str(src / "b0"))

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/b*")
        )
        q = (
            kmv_stream(stream)
            .writeStream.foreachBatch(
                # batch ids keep incrementing across the restart (same
                # checkpoint), so max bid is the unambiguous final row even
                # when n_hashes ties at K across emissions
                lambda bdf, bid: bdf.withColumn("bid", F.lit(bid))
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()  # phase 1, then "crash"
    ev.offset(n // 3).coalesce(1).write.parquet(str(src / "b1"))
    run()  # restart on the same checkpoint

    final = {}
    for r in spark.read.parquet(out).collect():
        prev = final.get(r.event_type)
        if prev is None or r.bid > prev.bid:
            final[r.event_type] = r
    batch = {r.event_type: r for r in kmv_distinct_by_type(spark, sf_dir).collect()}
    assert set(final) == set(batch)
    for et, b in batch.items():
        assert final[et].kth_hash == b.kth_hash, et
        assert final[et].kmv_estimate == b.kmv_estimate, et


def test_training_shuffle_epoch_reshuffles(spark, sf_dir, monkeypatch):
    """A new seed epoch must produce a genuinely different permutation
    (the per-epoch data-loader reshuffle), while staying a permutation of
    the same corpus."""
    from cdc_stream_batch_etl_spark.text import shuffle as sh

    e0 = {r.doc_id: (r.shard, r.position) for r in sh.training_shuffle(spark, sf_dir).collect()}
    monkeypatch.setattr(sh, "SHUFFLE_SEED", "epoch1")
    e1 = {r.doc_id: (r.shard, r.position) for r in sh.training_shuffle(spark, sf_dir).collect()}
    assert set(e0) == set(e1)  # same corpus
    changed = sum(1 for d in e0 if e0[d] != e1[d])
    assert changed > len(e0) * 0.9, f"epoch change barely reshuffled: {changed}/{len(e0)}"


def test_countmin_saturates_with_observable_collisions(spark):
    """The planted->saturation bar (the KMV >K fixture precedent,
    ADVICE r6): shrink W below the key cardinality so buckets MUST hold
    multiple keys, then verify the sketch in the regime it exists for —
    (a) at least one key's point estimate strictly OVERcounts (a real
    collision, so the test would catch a broken hash that degenerated to
    one key per bucket), (b) the one-sided guarantee still holds for
    EVERY key (min over depths never undercounts), (c) the sketch stayed
    inside its fixed D x W budget."""
    from cdc_stream_batch_etl_spark.operators.sketches import cms_sketch

    width = 16  # 500 keys >> 16 buckets: collisions guaranteed
    n_keys, reps = 500, 3
    ev = (
        spark.range(n_keys * reps)
        .select((F.col("id") % n_keys).alias("user_id"))
    )
    sketch = {
        (r.depth, r.bucket): r.counter for r in cms_sketch(ev, width).collect()
    }
    assert len(sketch) <= CMS_DEPTH * width
    assert sum(v for (d, _), v in sketch.items() if d == 0) == n_keys * reps

    probe = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            *[
                (
                    F.expr(
                        hash64_expr(f"concat('{d}', ':', cast(user_id as string))")
                    )
                    % width
                ).alias(f"b{d}")
                for d in range(CMS_DEPTH)
            ],
        )
        .collect()
    )
    overcounted = 0
    for r in probe:
        est = min(sketch[(d, r[f"b{d}"])] for d in range(CMS_DEPTH))
        assert est >= reps, f"CMS underestimated user {r.user_id}: {est} < {reps}"
        if est > reps:
            overcounted += 1
    # 500 keys into 16 buckets x 4 depths: every depth holds ~31 keys per
    # bucket, so a min-over-depths of exactly `reps` for every key would
    # mean the sketch is not actually summarizing anything
    assert overcounted > 0, "no collision observed: the sketch never saturated"


def test_histogram_clamps_out_of_domain_values_into_edge_bins(spark):
    """Saturation for the fixed-domain histogram: values beyond [V_LO,
    V_HI) must CLAMP into the first/last bin — no dropped rows, no bins
    outside the fixed W-row budget — and the clamped mass must be
    visible in the edge bins (the bounded structure's loss is
    observable, the lsh_bucket_stats convention)."""
    from cdc_stream_batch_etl_spark.operators.histogram import (
        N_BINS,
        V_HI,
        V_LO,
        histogram_sketch,
    )

    vals = (
        spark.range(100).select((F.col("id").cast("double") + 50.0).alias("value"))  # in-domain
        .unionAll(spark.range(7).select(F.lit(V_HI + 1e6).alias("value")))  # above
        .unionAll(spark.range(5).select(F.lit(V_LO - 123.4).alias("value")))  # below
        .unionAll(spark.range(3).select(F.lit(None).cast("double").alias("value")))  # null
    )
    bins = {r.bin: r.n_rows for r in histogram_sketch(vals).collect()}
    assert all(0 <= b < N_BINS for b in bins)  # never grows past the budget
    assert sum(bins.values()) == 112  # nulls dropped, nothing else lost
    assert bins[N_BINS - 1] >= 7  # the overflow mass is in the top bin
    assert bins[0] >= 5  # the underflow mass is in the bottom bin


def test_histogram_merges_by_binwise_addition(spark, sf_dir):
    """The histogram's mergeability claim, proven like the KMV merge
    test: sketch two disjoint shards separately, add bin-wise, and the
    merged table must EQUAL the whole-corpus sketch — bin-wise addition
    is the distributed aggregate contract."""
    from cdc_stream_batch_etl_spark.operators.histogram import (
        histogram_sketch,
        value_histogram,
    )

    ev = load_table(spark, sf_dir, "events").select("value", "event_id")
    whole = {r.bin: r.n_rows for r in value_histogram(spark, sf_dir).collect()}
    a = {
        r.bin: r.n_rows
        for r in histogram_sketch(ev.filter(F.col("event_id") % 2 == 0)).collect()
    }
    b = {
        r.bin: r.n_rows
        for r in histogram_sketch(ev.filter(F.col("event_id") % 2 == 1)).collect()
    }
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole


def test_native_hll_within_declared_rsd(spark, sf_dir):
    """approx_distinct_native is rows-only by design (HLL++ registers
    are engine-specific); this is its accuracy contract instead: every
    group's estimate within 5 rsd ≈ 3σ of the exact distinct, and the
    exact column exactly matches a recount."""
    from cdc_stream_batch_etl_spark.operators.sketches import (
        approx_distinct_native,
    )

    rows = approx_distinct_native(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(
            3, 0.15 * r.exact_users
        ), (r.event_type, r.approx_users, r.exact_users)


def test_approx_percentile_native_rank_error(spark, sf_dir):
    """approx_percentile_native is rows-only by design (GK summaries
    are engine-specific); this is its accuracy contract instead: each
    group's approximate p50/p95 must sit within 1/accuracy·n ranks of
    the exact order statistic — checked by re-ranking the approximate
    VALUE inside the group's actual value list (duckdb recount), the
    definition GK guarantees, rather than comparing values (value gaps
    can be large where the distribution is sparse)."""
    import duckdb

    from cdc_stream_batch_etl_spark.operators.sketches import (
        approx_percentile_native,
    )

    rows = approx_percentile_native(spark, sf_dir).collect()
    assert len(rows) > 0
    vals = {}
    for et, v in duckdb.sql(
        f"""SELECT event_type, list(value ORDER BY value)
            FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1"""
    ).fetchall():
        vals[et] = v
    import bisect

    for r in rows:
        v = vals[r.event_type]
        n = len(v)
        assert r.n == n
        tol = max(2, n // 1000)  # accuracy=10000 ⇒ ≤ n/10000 + slack
        for q, got in ((0.5, r.approx_p50), (0.95, r.approx_p95)):
            target = q * (n - 1)
            lo = bisect.bisect_left(v, got)
            hi = bisect.bisect_right(v, got) - 1
            rank_err = min(abs(lo - target), abs(hi - target))
            assert rank_err <= tol, (r.event_type, q, got, rank_err, tol)
        # exact columns must equal the interpolated order statistic
        for q, got in ((0.5, r.exact_p50), (0.95, r.exact_p95)):
            pos = q * (n - 1)
            f = int(pos)
            want = v[f] + (pos - f) * (v[min(f + 1, n - 1)] - v[f])
            assert abs(got - want) < 1e-9, (r.event_type, q, got, want)
