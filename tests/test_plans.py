"""Physical-plan property tests — the 100 TB contract, checked at any SF:
filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, aggregates run partial+final in codegen.
These are the properties SURVEY §4 says Catalyst must supply; a regression
here is a scale bug even while results stay correct."""

import io
from contextlib import redirect_stdout

from cdc_stream_batch_etl_spark.operators.filters import small_order_filter
from cdc_stream_batch_etl_spark.operators.geo import region_rollup
from cdc_stream_batch_etl_spark.operators.orders import pricing_summary
from cdc_stream_batch_etl_spark.operators.segments import customer_segments
from cdc_stream_batch_etl_spark.text.analysis import doc_token_stats


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(small_order_filter(spark, sf_dir))
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1].split("\n")[0]
    # projection pruned to the 4 selected columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "o_orderdate" not in read_schema and "o_totalprice" in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(region_rollup(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregate_partial_final_codegen(spark, sf_dir):
    plan = _plan(pricing_summary(spark, sf_dir), "simple")
    assert "HashAggregate" in plan
    # AQE plans don't render codegen spans until execution; codegen mode
    # compiles them eagerly
    cplan = _plan(pricing_summary(spark, sf_dir), "codegen")
    assert "WholeStageCodegen" in cplan
    # the shipdate filter reaches the scan
    fplan = _plan(pricing_summary(spark, sf_dir))
    assert "PushedFilters" in fplan and "l_shipdate" in fplan.split("PushedFilters")[1].split("\n")[0]


def test_threshold_pass_is_broadcast_not_sort(spark, sf_dir):
    """The percentile two-pass must broadcast a 1-row threshold frame —
    never global-sort the fact table."""
    plan = _plan(customer_segments(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_text_ops_stay_scan_local(spark, sf_dir):
    """Per-row text analysis must have no exchange at all."""
    plan = _plan(doc_token_stats(spark, sf_dir), "simple")
    assert "Exchange" not in plan


def test_window_rank_reduces_fact_before_ranking(spark, sf_dir):
    """top_parts_per_brand must aggregate lineitem to one row per part
    BEFORE the Window sort, and prune the lineitem scan to the join key +
    revenue column — the rank sort input is |parts|, never |lineitem|."""
    from cdc_stream_batch_etl_spark.operators.ranking import top_parts_per_brand

    plan = _plan(top_parts_per_brand(spark, sf_dir), "simple")
    assert "Window" in plan and "HashAggregate" in plan
    fplan = _plan(top_parts_per_brand(spark, sf_dir))
    for scan_schema in [s.split("\n")[0] for s in fplan.split("ReadSchema")[1:]]:
        assert "l_quantity" not in scan_schema and "l_shipdate" not in scan_schema


def test_running_windows_share_one_exchange(spark, sf_dir):
    """Both windows in customer_spend_running (running sum + row_number)
    share one partitionBy/orderBy, so Catalyst must plan ONE Window node
    over ONE hash exchange on o_custkey — never a global sort."""
    from cdc_stream_batch_etl_spark.operators.ranking import customer_spend_running

    plan = _plan(customer_spend_running(spark, sf_dir), "simple")
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1 and "SinglePartition" not in plan


def test_tpch_snowflake_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q5 shape (local_supplier_volume): all four dimensions must ride
    broadcast joins; the only non-broadcast join is orders⋈lineitem; no
    CartesianProduct / BroadcastNestedLoopJoin anywhere; both date bounds
    reach the orders scan."""
    from cdc_stream_batch_etl_spark.operators.tpch import local_supplier_volume

    plan = _plan(local_supplier_volume(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # c, s, n, r
    fplan = _plan(local_supplier_volume(spark, sf_dir))
    pushed = fplan.split("PushedFilters")
    assert any("o_orderdate" in seg.split("\n")[0] for seg in pushed[1:])


def test_tpch_topk_is_take_ordered(spark, sf_dir):
    """Q3/Q10 shapes: LIMIT-after-ORDER BY must plan as
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    global Sort followed by a limit."""
    from cdc_stream_batch_etl_spark.operators.tpch import (
        returned_item_report,
        shipping_priority,
    )

    for q in (shipping_priority, returned_item_report):
        plan = _plan(q(spark, sf_dir), "simple")
        assert "TakeOrderedAndProject" in plan, plan


def test_phash_single_scan_single_arrow_pass(spark, sf_dir):
    """image_phash_dedup must decode each document ONCE: one FileScan,
    one ArrowEvalPython/mapInPandas node, the canonical/count as window
    functions — the r5 agg+join shape ran the whole decode pass twice."""
    from cdc_stream_batch_etl_spark.multimodal.phash import image_phash_dedup

    plan = _plan(image_phash_dedup(spark, sf_dir), "simple")
    assert plan.count("Scan ") == 1, plan
    # r13: encode+ahash are FUSED into one MapInPandas node — the BMP
    # payload is built and re-parsed inside one Python worker and never
    # transits JVM<->Python between codec stages (guide §4.1); a second
    # node (the pre-r13 chain) re-pays the payload transfer both ways
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan


def test_service_health_computes_stats_once(spark, sf_dir):
    """service_health emits five rows from ONE stats subtree (explode of
    an array of structs) — 7 scans like pipeline_health, not 35."""
    from cdc_stream_batch_etl_spark.operators.monitoring import service_health

    plan = _plan(service_health(spark, sf_dir), "simple")
    assert plan.count("Scan ") == 7, plan
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_transitions_single_user_shuffle(spark, sf_dir):
    """event_transitions: lead() over the user window = one user-keyed
    exchange; the (prev, next) agg and probability window are
    tiny-cardinality. No self-join may appear."""
    from cdc_stream_batch_etl_spark.operators.markov import event_transitions

    plan = _plan(event_transitions(spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert plan.count("Scan ") == 1, plan


def test_source_overlap_is_grouped_pairs_not_self_join(spark, sf_dir):
    """source_vocab_overlap must expand pairs inside word groups
    (scan-local transform) — a word-keyed self-join of (source, word)
    is the round-5 broadcast-blowup class."""
    from cdc_stream_batch_etl_spark.text.source_sim import source_vocab_overlap

    plan = _plan(source_vocab_overlap(spark, sf_dir), "simple")
    # the only joins allowed are the two broadcast vocab joins
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan ") <= 3, plan


def test_tpch5_part_filter_broadcasts_before_fact_join(spark, sf_dir):
    """Q9/Q19/Q20 shapes: the part-side predicate must land under a
    BroadcastHashJoin build side (fact rows for non-matching parts are
    dropped at the probe, never shuffled); no CartesianProduct."""
    from cdc_stream_batch_etl_spark.operators.tpch5 import (
        discounted_revenue,
        part_promotion_suppliers,
        product_type_profit,
    )

    for q in (product_type_profit, discounted_revenue, part_promotion_suppliers):
        plan = _plan(q(spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan


def test_tpch5_scalar_subquery_reuses_aggregate(spark, sf_dir):
    """Q11/Q15 shapes: the global cut must come from the SAME per-group
    aggregate (persisted, then a 1-row broadcast), not a second scan of
    lineitem. InMemoryTableScan appearing twice with a single parquet
    Scan per side proves the reuse."""
    from cdc_stream_batch_etl_spark.operators.tpch5 import (
        important_stock,
        top_supplier,
    )

    for q in (important_stock, top_supplier):
        df = q(spark, sf_dir)
        plan = _plan(df, "simple")
        assert plan.count("InMemoryTableScan") >= 2, plan
        # the 1-row cut joins via broadcast nested loop (single row,
        # non-equi compare) — never a shuffled cartesian
        assert "CartesianProduct" not in plan, plan
        df.sparkSession.catalog.clearCache()


def test_bloom_runtime_filter_injects(spark, sf_dir):
    """bloom_pruned_revenue's at-scale contract: with the probe side
    over the application-side threshold (forced to 0 here — at 100 TB
    the real scan exceeds the 10 GB default naturally) and broadcast
    off, Catalyst must inject the runtime Bloom pre-filter
    (might_contain(xxhash64(l_orderkey))) under the lineitem scan, so
    non-qualifying fact rows are dropped BEFORE the shuffle."""
    from cdc_stream_batch_etl_spark.operators.bloomjoin import bloom_pruned_revenue

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(bloom_pruned_revenue(spark, sf_dir))
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    # and with defaults restored (small local fixtures) it is absent —
    # the optimizer applies it only where it pays
    plan = _plan(bloom_pruned_revenue(spark, sf_dir))
    assert "might_contain" not in plan, plan


def test_triangles_reuse_cached_graph_frames(spark, sf_dir):
    """copurchase_triangles references the mined pair table three ways
    (degrees, orientation, wedge+closure sides) and the triangle list
    three more (one member-union leg per triangle edge). The persist()
    on pairs plus the r12 localCheckpoints on deg/tri mean the basket
    self-join AND the wedge join each materialize ONCE: after the first
    action, every member-union leg is a Scan ExistingRDD of the
    checkpointed triangle frame and no parquet scan remains in the
    consuming plan — without the breaks the plan re-derived the mining
    per reference (measured 45 lineage scans) and the wedge join 3x."""
    from cdc_stream_batch_etl_spark.operators.triangles import copurchase_triangles

    df = copurchase_triangles(spark, sf_dir)
    df.count()  # materialize cache + checkpoints
    plan = _plan(df, "simple")
    assert plan.count("Scan ExistingRDD") >= 3, plan
    assert "Scan parquet" not in plan, plan
    spark.catalog.clearCache()


def test_no_aggregate_rides_unbounded_following_frames():
    """Source-level guard for the frame-class rule (SCALING.md round-7
    fifth batch): Spark recomputes any aggregate on an x -> UNBOUNDED
    FOLLOWING frame from scratch per row (O(n^2) in the partition —
    pareto's first spelling measured 254.5 s at sf0.1 vs 0.90 s for the
    reversed-sort cumulative twin). A suffix aggregate is always
    expressible as a prefix aggregate under the reversed ORDER BY, so
    no operator may use the suffix spelling in SPARK-side code (oracle
    SQL strings run in DuckDB, whose window executor has no such
    asymmetry — and lead()/lag() don't hit the aggregate frame
    machinery). Comments and docstrings stating the rule are exempt via
    tokenization.

    Refinement (r12): the FULL-partition frame rowsBetween(
    unboundedPreceding, unboundedFollowing) is EXEMPT — Spark's
    UnboundedWindowFunctionFrame computes that aggregate once per
    partition (O(n)); only frames whose START slides while the END is
    unbounded hit the per-row-recompute UnboundedFollowingWindow-
    FunctionFrame. The guard therefore bans `unboundedFollowing`
    except where the same frame call also names `unboundedPreceding`
    (adjacent within the rowsBetween/rangeBetween argument list)."""
    import pathlib
    import re
    import tokenize

    pkg = pathlib.Path(__file__).resolve().parent.parent / (
        "cdc_stream_batch_etl_spark"
    )
    # the one safe spelling: Between(Window.unboundedPreceding,
    # Window.unboundedFollowing) — strip it, then any surviving token
    # is an offender
    safe = re.compile(
        r"Between\(\s*\n?\s*Window\.unboundedPreceding\s*,"
        r"\s*\n?\s*Window\.unboundedFollowing\s*\n?\s*\)"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        text = py.read_text()
        stripped = safe.sub("Between(SAFE_FULL_FRAME)", text)
        import io

        code_tokens = []
        for tok in tokenize.generate_tokens(io.StringIO(stripped).readline):
            if tok.type == tokenize.NAME:
                code_tokens.append((tok.string, tok.start[0]))
            # F-strings/SQL built in code still matter when they feed
            # F.expr — but oracle strings (DuckDB side) are fine. Only
            # Spark's API constant is unambiguous: window SQL text in
            # F.expr is caught by the name check below when spelled via
            # the API; the one F.expr window in pareto.py uses the SAFE
            # reversed frame, asserted by its own tests.
        for name, line in code_tokens:
            if name == "unboundedFollowing":
                offenders.append(f"{py.name}:{line}: Window.unboundedFollowing")
    assert not offenders, (
        "sliding-start UNBOUNDED FOLLOWING aggregate frames are banned "
        "(reverse the ORDER BY instead; the full-partition frame "
        "unboundedPreceding->unboundedFollowing is the one exemption):\n"
        + "\n".join(offenders)
    )


def test_lineage_breaks_go_through_materialize():
    """Source-level guard: every lineage break in the package goes through
    functions/materialize.materialize, so SPARK_GRAFT_MATERIALIZE switches
    all of them at once. materialize.py itself is the only file allowed to
    call localCheckpoint; the streaming sinks need no lineage break."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "cdc_stream_batch_etl_spark"
    allowed = pkg / "functions" / "materialize.py"
    offenders = [
        f"{py.relative_to(pkg)}:{n}"
        for py in sorted(pkg.rglob("*.py"))
        if py != allowed
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not offenders, (
        "bare localCheckpoint bypasses materialize():\n" + "\n".join(offenders)
    )


def test_keyed_state_goes_through_one_driver():
    """Source-level guard: every per-key stateful operator goes through
    streaming/stateful.keyed_state, so a batch frame runs the same
    handler on a cold state. stateful.py is the only file allowed to
    call applyInPandasWithState."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "cdc_stream_batch_etl_spark"
    allowed = pkg / "streaming" / "stateful.py"
    offenders = [
        f"{py.relative_to(pkg)}:{n}"
        for py in sorted(pkg.rglob("*.py"))
        if py != allowed
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if "applyInPandasWithState(" in line
    ]
    assert not offenders, (
        "applyInPandasWithState bypasses keyed_state():\n" + "\n".join(offenders)
    )


def test_no_row_at_a_time_python_udf():
    """Source-level guard for README scale rule 6: Python runs only
    inside Arrow-batched pandas UDFs, so no `udf(` / `F.udf(` call and
    no `@udf` decorator appears in the package (`pandas_udf` is fine)."""
    import pathlib
    import re

    row_udf = re.compile(r"(?<![\w.])udf\s*\(|\.udf\s*\(|@(\w+\.)?udf\b")
    pkg = pathlib.Path(__file__).resolve().parent.parent / "cdc_stream_batch_etl_spark"
    offenders = [
        f"{py.relative_to(pkg)}:{n}"
        for py in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if row_udf.search(line)
    ]
    assert not offenders, "row-at-a-time Python UDF:\n" + "\n".join(offenders)


def test_kmv_sketch_materializes_once(spark, sf_dir):
    """kmv_set_overlap's persisted K·|groups| sketch feeds three
    consumers (per-type estimates, pair side A, pair side B); after
    materialization every consumer reads the cache, so the raw events
    scan appears only inside the cached subtree — without the persist
    the plan re-derives the corpus distinct per consumer (16 lineage
    scans in the PLANS profile)."""
    from cdc_stream_batch_etl_spark.operators.kmvoverlap import (
        kmv_set_overlap,
    )

    df = kmv_set_overlap(spark, sf_dir)
    df.count()  # materialize the sketch cache
    plan = _plan(df, "simple")
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "Scan parquet" not in plan.split("InMemoryRelation")[0], plan
    spark.catalog.clearCache()


def test_winnow_fingerprints_single_doc_exchange(spark, sf_dir):
    """Winnowing is per-document window work: exactly ONE exchange
    keys the doc_id window partitioning plus the distinct's reuse of
    it — no join anywhere in the plan."""
    from cdc_stream_batch_etl_spark.text.winnow import winnowed_fingerprints

    plan = _plan(winnowed_fingerprints(spark, sf_dir), "simple")
    assert "Join" not in plan
    # window + distinct + output sort: exchanges stay in single digits,
    # and none of them is a corpus self-join's
    assert plan.count("Exchange") <= 8


def test_winnow_pairs_has_no_self_join(spark, sf_dir):
    """The bucket-pair rewrite must keep the fp_hash self-join out of
    the plan (it recomputed the whole fingerprint subtree per side)."""
    from cdc_stream_batch_etl_spark.text.winnow import winnow_match_pairs

    plan = _plan(winnow_match_pairs(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no join at all
    # ONE scan of documents
    assert plan.count("Scan parquet") == 1


def test_cdchunk_scan_local_until_output(spark, sf_dir):
    """Content-defined chunk extents are scan-local array work: the
    chunk table plan has no join and no aggregate before the output
    sort; the dedup report adds exactly one hash-agg exchange chain."""
    from cdc_stream_batch_etl_spark.text.cdchunk import (
        chunk_dedup_report,
        content_defined_chunks,
    )

    plan = _plan(content_defined_chunks(spark, sf_dir), "simple")
    assert "Join" not in plan and "HashAggregate" not in plan
    assert plan.count("Scan parquet") == 1

    rplan = _plan(chunk_dedup_report(spark, sf_dir), "simple")
    assert "Join" not in rplan
    assert rplan.count("Scan parquet") == 1


def test_chunk_ledger_two_scans_no_cartesian(spark, sf_dir):
    """The ledger composes the chunk table with the exact-dup rung:
    exactly the two corpus scans the composition contract allows (the
    dedup_ledger "(sourced)" precedent — the runner feeds materialized
    components at scale) and doc-id-keyed joins only."""
    from cdc_stream_batch_etl_spark.text.cdchunk import chunk_dedup_ledger

    plan = _plan(chunk_dedup_ledger(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")


def test_vocab_coverage_broadcasts_the_vocabulary(spark, sf_dir):
    """The top-V cut must broadcast into the coverage join — the corpus
    token table must never shuffle on the join key for it."""
    from cdc_stream_batch_etl_spark.text.vocab import vocab_coverage

    try:
        plan = _plan(vocab_coverage(spark, sf_dir), "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.catalog.clearCache()


def test_zorder_report_broadcasts_bounds_no_global_sort(spark, sf_dir):
    """The layout report's only join is the broadcast of the 1-row
    bounds aggregate; cell assignment is pure scan-local arithmetic —
    never an ntile/global-window sort of the fact table."""
    from cdc_stream_batch_etl_spark.operators.zorder import zorder_file_skipping

    plan = _plan(zorder_file_skipping(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # two scans: the bounds pass and the labeling pass
    assert plan.count("Scan parquet") == 2


def test_bootstrap_fanout_collapses_in_partial_agg(spark, sf_dir):
    """The x32 replicate explode must be consumed by a partial
    HashAggregate in the same stage — the shuffle carries per-task
    partials, never the expanded rows; no join anywhere."""
    from cdc_stream_batch_etl_spark.operators.bootstrap import (
        bootstrap_revenue_means,
    )

    plan = _plan(bootstrap_revenue_means(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert "HashAggregate" in plan
    assert plan.count("Scan parquet") == 1
    # explode feeds the aggregate before any exchange: the plan reads
    # (bottom-up) scan -> generate -> partial agg -> exchange
    gen_pos = plan.rindex("Generate")
    first_exchange = plan.find("Exchange")
    assert first_exchange < gen_pos  # rendered top-down: exchange ABOVE generate


def test_quantile_align_joins_broadcast_global_vector(spark, sf_dir):
    """Per-source decile vectors join the 1-row global vector by
    broadcast; the fact table is scanned twice (global + keyed
    percentile aggregates), never sorted globally."""
    from cdc_stream_batch_etl_spark.text.quantalign import source_quantile_align

    plan = _plan(source_quantile_align(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 2


def test_l_diversity_two_stacked_hashaggs(spark, sf_dir):
    """Both aggregation levels are hash-aggs over bounded-domain keys;
    no window, no join, one scan."""
    from cdc_stream_batch_etl_spark.operators.privacy import l_diversity_report

    plan = _plan(l_diversity_report(spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan


def test_truncation_recall_broadcasts_queries(spark, sf_dir):
    """Both rankings broadcast the bounded query set against the corpus
    scan — the ann_cosine_topk contract; no sort-merge pair join."""
    from cdc_stream_batch_etl_spark.similarity.matryoshka import (
        embedding_truncation_recall,
    )

    plan = _plan(embedding_truncation_recall(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rbo_legs_truncate_before_ranking(spark, sf_dir):
    """Both retrieval legs must plan the RANK_DEPTH cut as a bounded
    per-partition heap (TakeOrderedAndProject), and the depth theta
    join must broadcast the tiny pair frame."""
    from cdc_stream_batch_etl_spark.similarity.fusion import rank_overlap_rbo

    plan = _plan(rank_overlap_rbo(spark, sf_dir), "simple")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastNestedLoopJoin" in plan


def test_erasure_audit_broadcasts_the_cohort(spark, sf_dir):
    """Every fact join probes the broadcast subject/order-key frame —
    no fact table ever shuffles on the join key."""
    from cdc_stream_batch_etl_spark.operators.erasure import erasure_cascade_audit

    plan = _plan(erasure_cascade_audit(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_postings_compression_single_token_exchange(spark, sf_dir):
    """The tf dedup, the gap window, and the final agg all key on the
    token — Catalyst must plan them on ONE token exchange (the
    term_postings shape); no join anywhere."""
    from cdc_stream_batch_etl_spark.text.postings import postings_compression_plan

    plan = _plan(postings_compression_plan(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2, plan.count(
        "Exchange hashpartitioning"
    )


def test_neyman_folds_strata_broadcast(spark, sf_dir):
    """One corpus hash-agg to stratum rows; the weight total folds the
    sorted stratum array and broadcasts back — no window over the
    corpus, no sort-merge join."""
    from cdc_stream_batch_etl_spark.text.neyman import neyman_allocation_plan

    plan = _plan(neyman_allocation_plan(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 2  # stats pass + fold pass


def test_split_leakage_adds_no_join_to_pairs(spark, sf_dir):
    """The split labels are scan-local md5 arithmetic on the pair rows —
    the audit's plan contains exactly the LSH pair subtree's joins (the
    candidate→shingle verification joins) and no split-assignment join;
    documents is scanned as often as lsh_pairs alone scans it."""
    from cdc_stream_batch_etl_spark.dedup.minhash import lsh_pairs
    from cdc_stream_batch_etl_spark.catalog import load_table
    from cdc_stream_batch_etl_spark.text.leakage import split_leakage_report

    base = _plan(lsh_pairs(load_table(spark, sf_dir, "documents")), "simple")
    audit = _plan(split_leakage_report(spark, sf_dir), "simple")
    assert audit.count("Scan parquet") == base.count("Scan parquet")
    assert audit.count("Join") == base.count("Join")


def test_lsh_family_single_shingle_materialization(spark, sf_dir):
    """r12 ADVICE: the LSH-family plan budgets dropped to 0 scans once
    the shingle frame became a checkpoint, so a regression that re-adds
    an upstream documents scan (or a second shingling pass) would be
    invisible to test_plan_budgets. Assert the runtime-reuse property
    directly, the test_triangles_reuse_cached_graph_frames pattern:
    after construction, every shingle consumer in minhash_lsh_pairs and
    lsh_recall_eval reads the ONE checkpointed (doc_id, shingles[,
    hshingles]) frame — Scan ExistingRDD legs, zero parquet scans of
    documents anywhere in the consuming plan."""
    from cdc_stream_batch_etl_spark.dedup.lsh_eval import lsh_recall_eval
    from cdc_stream_batch_etl_spark.dedup.minhash import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(spark, sf_dir)
    plan = _plan(pairs, "simple")
    # band table + both verification sides
    assert plan.count("Scan ExistingRDD") >= 3, plan
    assert "Scan parquet" not in plan, plan

    ev = lsh_recall_eval(spark, sf_dir)
    plan = _plan(ev, "simple")
    # truth leg (3 exploded-shingle consumers) + LSH leg (3) all read
    # the one materialization; a second shingling would re-introduce a
    # parquet scan of documents
    assert plan.count("Scan ExistingRDD") >= 6, plan
    assert "Scan parquet" not in plan, plan
    spark.catalog.clearCache()
