"""Fresh-JVM timing for ONE registered query:
`python scripts/fresh_jvm_time.py <query> [reps]`.

One process = one JVM, so the measurement is free of cross-query pollution
(checkpoint blocks, GC pressure, codegen cache) — the protocol SCALING.md
prescribes for adjudicating bench movers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query
from cdc_stream_batch_etl_spark import registry
from cdc_stream_batch_etl_spark.session import get_spark

name = sys.argv[1]
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

registry.load_all()
spark = get_spark(app=f"fresh_{name}")
spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # JVM warmup

samples = []
for rep in range(reps):
    samples.append(round(time_query(spark, name, sf_dir), 3))
    print(f"{name} rep={rep} t={samples[-1]}s", flush=True)

print(
    json.dumps(
        {
            "query": name,
            "sf_dir": sf_dir,
            "samples": samples,
            "min": min(samples),
            "median": statistics.median(samples),
        }
    )
)
spark.stop()
