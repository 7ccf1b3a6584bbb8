"""Registry/driver set diff — rotation planning without manual
bookkeeping.

Two sets drift apart as the registry grows past the driver's 50-query
correctness window:
  1. the registry (every @register'd query),
  2. cumulative driver CORRECTNESS_r*.json rows (the evidence ledger).

This prints, per registered query: which rounds produced a driver row and
whether it sits inside the CURRENT first-50 window (i.e. will get a row
next round). The actionable list comes last: queries with NO driver row
that are NOT in the current window (rotation candidates).

Run: python scripts/registry_audit.py   (paste the summary into the
round notes; the driver needs no Spark session — this is pure file
inspection plus an import of the registry).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_stream_batch_etl_spark import registry  # noqa: E402

WINDOW = 50


def main() -> None:
    registry.load_all()
    names = list(registry.QUERIES)
    window = set(names[:WINDOW])

    rows: dict[str, list[str]] = {n: [] for n in names}
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = re.search(r"r(\d+)", path).group(1)
        for name, rec in json.load(open(path)).items():
            if name in rows and (
                rec.get("hash_match") or (rec.get("err") == "no_oracle")
            ):
                rows[name].append(f"r{int(rnd)}")

    never = [n for n in names if not rows[n]]
    never_unwindowed = [n for n in never if n not in window]

    print(f"registry: {len(names)} queries ({len(registry.ORACLES)} oracled, "
          f"{len(registry.ROWS_ONLY)} rows-only)")
    print(f"driver rows: {len(names) - len(never)} ever-green; "
          f"{len(never)} never checked")
    print(f"current window (first {WINDOW}): "
          f"{sum(1 for n in never if n in window)} of the never-checked inside")
    print()
    if never_unwindowed:
        print("NEVER-CHECKED and OUTSIDE the current window (rotate these):")
        for n in never_unwindowed:
            print(f"  {n}")
    else:
        print("OK: every never-checked query sits inside the current window.")
    print()
    print("never-checked, inside window (gets its row next round):")
    for n in never:
        if n in window:
            print(f"  {n}")


if __name__ == "__main__":
    main()
