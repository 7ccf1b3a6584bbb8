"""Query/operator registry — the single source of truth for the driver
contract (`__spark_entry__.queries()` / `oracle_sql()`) and the test suite.

Each operator module registers:
  - a callable ``(spark, sf_dir) -> DataFrame`` (Spark-first implementation)
  - optionally, the equivalent ANSI SQL for the DuckDB oracle.

Column names must match between the two — the driver sorts columns by name
before value-hashing.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}

#: Queries deliberately registered WITHOUT an oracle — the driver records a
#: weaker rows-only check for these, by design (not an oversight):
#:   random_pick   — ORDER BY RANDOM() LIMIT 1: seeded RNG streams are
#:                   engine-specific, so no cross-engine SQL oracle can
#:                   reproduce the pick; determinism within Spark is
#:                   pytest-asserted instead (tests/test_queries.py).
#:   ann_lsh_topk  — approximate by construction: the LSH candidate set
#:                   depends on hyperplane bucketing an exact-SQL oracle
#:                   cannot mirror; its recall floor is pytest-gated
#:                   (tests/test_similarity.py::test_lsh_recall_vs_exact).
ROWS_ONLY: dict[str, str] = {
    "random_pick": "seeded-RNG pick is engine-specific; Spark-side determinism pytest-asserted",
    "ann_lsh_topk": "approximate LSH; recall floor pytest-gated vs the exact top-k",
    "compression_gate": "DuckDB has no zlib/compress function; ratios pytest-gated "
    "against directly-computed zlib golden values",
    "approx_distinct_native": "Spark-native HLL++ registers are engine-specific; "
    "relative error pytest-gated against the exact distinct",
    "approx_percentile_native": "Spark-native Greenwald-Khanna summaries are "
    "engine-specific; rank error pytest-gated against the exact percentile",
}


#: Explicit ordering for the front of the ``queries()`` dict. The driver's
#: correctness harness checks exactly the first 50 entries per round, so the
#: first 50 names here ARE the round's driver window. ``load_all`` reorders
#: ``QUERIES`` to this sequence after all registrations run, which decouples
#: the window from module import order (a chained import like phash→binaryops
#: used to drag 4 already-green re-greens into the window). Names not listed
#: keep their registration order after the listed ones; listed names missing
#: from the registry are ignored (defensive — lets the list lead the code).
#:
#: r12 window (the r11 verdict's #1/#2 asks, verbatim): (a)
#: time_series_cv_folds FIRST — the round's one hash-fail (DecimalType
#: export; plan changed this round: both revenue columns now cast to
#: double at export in both legs). (b) first driver rows for queries
#: NEW this round. (c) the full 46-query r6-stale cohort — the oldest
#: green evidence in the ledger (every row's latest green predates the
#: r7 observed-write runner, the r10 commit-marker catalog, and the r10
#: multi-consumer persist pass). (d) r7-era padding to the 50-slot
#: boundary. 1 + new + 46 + pad: the driver checks exactly the first
#: 50 entries; overflow names simply roll to the r13 rotation.
WINDOW_PRIORITY: tuple[str, ...] = (
    # (a) changed in round 12 — the r11 hash-fail, must re-green
    "time_series_cv_folds",
    # CHANGED in round 12: the rank-vs-id wedge-orientation fix (both
    # legs — an INDEPENDENT brute-force pytest now guards it, since a
    # shared-bug oracle can never catch its own blind spot)
    "copurchase_triangles",
    # (b) NEW in round 12 — first driver rows
    "prefix_filter_jaccard_pairs",
    "group_kfold_assignment",
    "rolling_distinct_users",
    "ks_drift",
    "join_size_estimates",
    "gopher_rules_report",
    "forecast_backtest_mae",
    "link_prediction_jaccard",
    "mann_whitney_drift",
    "auc_separation_report",
    "ab_power_planner",
    "theil_sen_trend",
    "spearman_corr_matrix",
    "did_promo_effect",
    "conformal_forecast_intervals",
    "mutual_information_matrix",
    "embedding_lof",
    "cusum_drift",
    "caliper_matched_price_effect",
    "lexical_concentration_report",
    "skew_salt_plan",
    "shewhart_imr_chart",
    "simpsons_paradox_audit",
    "quality_pr_curve",
    "fellegi_sunter_weights",
    "time_series_quantile_trend",
    "jl_projection_distortion",
    "semantic_silhouette",
    "k_truss_decomposition",
    "bootstrap_uplift_ci",
    # CHANGED in round 12: mean_v moved to the double-domain nano grid
    # (the sf1 parity fix) — re-green under the new plan
    "embedding_dim_stats",
    # (c) staleness rotation: the full 46-query r6 cohort
    "bigram_lift",
    "bilateral_trade_volume",
    "bulk_order_customers",
    "containment_pairs",
    "countmin_sketch",
    "customer_order_distribution",
    "customer_reach",
    "data_quality_report",
    "dedup_ledger",
    "dedup_survivor_weights",
    "edit_distance_pairs",
    # (embedding_dim_stats was in this r6 cohort; it moved UP into the
    # changed-this-round block — the list must stay duplicate-free so
    # the window prefix equals the literal list, test_registry_window)
    "event_transitions",
    "forecast_revenue_change",
    "fulfillment_lag",
    "image_phash_dedup",
    "image_png_roundtrip",
    "k_anonymity_report",
    "key_skew_report",
    "kmv_distinct_by_type",
    "late_order_priorities",
    "lexical_stats",
    "local_supplier_volume",
    "market_share",
    "min_cost_supplier",
    "ngram_novelty",
    "part_supplier_variety",
    "priority_shipping_split",
    "promo_revenue_share",
    "returned_item_report",
    "semantic_dedup_imi",
    "service_health",
    "small_lot_revenue",
    "sole_blame_suppliers",
    "source_vocab_overlap",
    "state_asof",
    "state_diff",
    "state_dwell_times",
    "stratified_kfold",
    "time_to_convert",
    "token_quota_by_source",
    "training_shuffle",
    "ts_similarity_topk",
    "value_drift",
    "value_histogram",
    "winsorize_values",
    # (d) padding to the 50-slot window: the oldest r7-era rows, next
    # in the staleness rotation after the r6 cohort (alphabetical)
    "benford_digit_audit",
    "bloom_pruned_revenue",
    "bm25_topk",
    "chisq_independence",
)


#: Every module under these packages is imported by ``load_all``.
QUERY_PACKAGES: tuple[str, ...] = ("operators", "text", "dedup", "similarity", "multimodal")


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side-effects run, then
    move the ``WINDOW_PRIORITY`` names to the front of ``QUERIES``.

    A module registers by living under one of ``QUERY_PACKAGES``; import
    order is irrelevant because no name is registered twice.
    """
    for pkg in QUERY_PACKAGES:
        package = importlib.import_module(f"{__package__}.{pkg}")
        for mod in pkgutil.iter_modules(package.__path__):
            importlib.import_module(f"{package.__name__}.{mod.name}")
    # the one registering module outside those packages (trending_products);
    # the rest of streaming/ is stream plumbing that no query needs
    from .streaming import analytics  # noqa: F401

    # Reorder to the explicit driver window (see WINDOW_PRIORITY). Plain
    # dict re-insertion — idempotent across repeated load_all() calls.
    ordered = {n: QUERIES[n] for n in WINDOW_PRIORITY if n in QUERIES}
    ordered.update((n, fn) for n, fn in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
