"""Engine configuration: deterministic "now", thresholds, table names.

The reference stamps wall-clock ``datetime.now()`` into every output
(/root/reference/python/cdc_processor.py:42, batch_processor.py:199,
stream_processor.py:234) and computes recency against it
(batch_processor.py:134-137). For determinism (SURVEY.md §5 hard parts) the
engine freezes "now" as a configurable parameter.

Thresholds mirror the reference's alert/filter constants
(stream_processor.py:35-39: high_value=1000, low_stock=10, velocity>50,
bulk>10/min; airflow_etl_utils.py:130-132: small-order <10), re-scaled to the
driver testdata's TPC-H-ish value domains (o_totalprice ~ 1e3..5e5,
events.value ~ 0..200).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

# Orders domain (TPC-H-ish): o_orderdate spans 1995-01-01 .. 2001-08-01.
# Frozen 2 days past the max date so the <=7d / <=30d recency branches
# (batch_processor.py:140-142) all get coverage.
FROZEN_NOW = datetime(2001, 8, 3, 0, 0, 0)
FROZEN_NOW_DATE = "2001-08-03"

# Events domain: ts spans 2024-01-01 .. 2024-01-31.
FROZEN_NOW_EVENTS = datetime(2024, 1, 31, 0, 0, 0)

# Batch window: the reference extracts a trailing 24h window
# (batch_processor.py:244-246). Testdata spans years, so the windowed
# variants use a trailing 365-day window to keep a strict subset selected.
BATCH_WINDOW_DAYS = 365


@dataclass(frozen=True)
class Thresholds:
    """Alert/filter constants (reference values, rescaled to testdata)."""

    # stream_processor.py:36,103 `total_amount > 1000` — o_totalprice p80 ~ 4e5
    high_value_order: float = 400_000.0
    # same alert on the events stream (events.value spans 0..~490)
    high_value_event: float = 300.0
    # cdc_processor.py:164 / batch_processor.py:170-173 stock<10 — p_size is 1..50
    low_stock: int = 10
    overstock: int = 45  # batch_processor.py:173 `>=500` rescaled to p_size domain
    # stream_processor.py:37,264 `orders/min > 10` — events run ~2.3/5min at
    # sf0.01 (p99=5, max=7), so the bulk window is 5 min with threshold >5
    bulk_events_per_window: int = 5
    # stream_processor.py:38,207 `>50 units / 5 min` — per-product purchase
    # sums land ~170 median / 960 max per 7-day window at sf0.01, so W8
    # (operators/anomalies.velocity_alerts_of, batch and stream alike)
    # sums 7-day windows, not W4's 5-minute ones
    velocity_window_sum: float = 400.0
    # stream_processor.py:283-287: one state > 80% of >= 6 customers —
    # 25 nations make 80% dominance vanishingly rare (daily dominance peaks
    # ~0.20 at sf0.01); rescaled to >15% of >=5
    geo_concentration_ratio: float = 0.15
    geo_min_customers: int = 5
    # airflow_etl_utils.py:130-132: drop orders with total < 10.0
    small_order: float = 10_000.0


@dataclass(frozen=True)
class EngineConfig:
    frozen_now: datetime = FROZEN_NOW
    frozen_now_events: datetime = FROZEN_NOW_EVENTS
    thresholds: Thresholds = field(default_factory=Thresholds)


DEFAULT_CONFIG = EngineConfig()
