"""bench.py stdout contract — parse it exactly the way the round driver
does (r12 verdict #10).

Post-mortem of the r9-r11 "bench never parsed" rounds: the driver stores
only a ~2000-char TAIL of bench stdout, and the single summary JSON line
grew past 2 KB once the registry passed ~230 queries — so the stored
tail began MID-LINE and json.loads of the artifact's last line failed
(BENCH_r09..r11: rc=0, parsed=null, tails all start inside the queries
dict). The r12 driver parsed the full stdout, so the one-line contract
is satisfiable again — this test pins it: the summary must be the LAST
line on stdout, alone, valid JSON, with the required keys, and the
complete per-query record must land in the ledger file regardless of
any stdout truncation on the driver side.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_bench_stdout_last_line_is_the_summary_json(tmp_path):
    ledger = tmp_path / "ledger.json"
    code = (
        "import bench\n"
        "bench.main(names=['pricing_summary', 'latest_state'])\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": SF_DIR,
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_LEDGER": str(ledger),
            "SPARK_GRAFT_BENCH_LOG": str(tmp_path / "stderr.log"),
        },
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    lines = proc.stdout.strip().splitlines()
    # the driver parses the LAST stdout line as the one-line summary
    summary = json.loads(lines[-1])
    for key in ("metric", "value", "unit", "queries", "sf", "ledger_file"):
        assert key in summary, f"summary missing {key}: {summary}"
    assert summary["unit"] == "sec"
    assert set(summary["queries"]) == {"pricing_summary", "latest_state"}
    assert summary["value"] > 0

    # nothing may print AFTER the summary line, and no other stdout line
    # may masquerade as a summary (the r9-r11 failure mode was driver-
    # side tail truncation; keeping the line last and alone is the only
    # defense bench controls)
    for line in lines[:-1]:
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        assert not (
            isinstance(obj, dict) and "metric" in obj
        ), f"competing summary-like line before the last: {line[:100]}"

    # the durable ledger carries the complete per-query record with
    # provenance, independent of stdout truncation
    with open(ledger) as f:
        rec = json.load(f)
    assert set(rec["queries"]) == {"pricing_summary", "latest_state"}
    assert rec["official"] is False and rec["full_run"] is False
    assert "loadavg_1m" in rec and "cohort_loadavg_1m" in rec
