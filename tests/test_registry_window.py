"""Driver-window contract: the first 50 entries of queries() ARE the
round's correctness window, and they must be exactly the front of
WINDOW_PRIORITY — a new module import must never steal a front slot
(the pre-reorder failure mode: chained imports dragged already-green
re-greens into the window and left 19 never-checked queries outside)."""

from cdc_stream_batch_etl_spark import registry


def test_priority_names_all_registered():
    registry.load_all()
    missing = [n for n in registry.WINDOW_PRIORITY if n not in registry.QUERIES]
    assert not missing, f"WINDOW_PRIORITY names not in registry: {missing}"


def test_window_is_priority_prefix():
    registry.load_all()
    window = list(registry.QUERIES)[:50]
    assert window == list(registry.WINDOW_PRIORITY[:50])


def test_every_priority_query_has_oracle_or_declared_rows_only():
    registry.load_all()
    undeclared = [
        n
        for n in registry.WINDOW_PRIORITY
        if n not in registry.ORACLES and n not in registry.ROWS_ONLY
    ]
    assert not undeclared, undeclared


def test_oracles_subset_of_queries():
    registry.load_all()
    orphans = set(registry.ORACLES) - set(registry.QUERIES)
    assert not orphans, f"oracles without queries: {orphans}"

