"""Benchmark of the CDC streaming pipeline and the batch ETL.

Run from the repository root:

    python3 perfbench/run.py --workload streaming --seed 1 --seconds 10 --trace 0

One invocation is one run of one workload in this fresh process, on
local[--cores]. It sets up SETUP_REPS times (session start, input
generation, warm-up) and keeps the last set-up for the measured phase,
a closed loop of workload cycles on one thread that runs until
--seconds have passed. Every output is then checked against an
independent computation. Human-readable lines go to stdout first; the
last line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with --trace 1 the per-layer ones).

`--workload all` runs every workload in its own process, traced and
untraced, plus streaming traced on local[1], and reports the tracing
overhead. Scratch files live under .perfbench/ in the current directory
and are removed after each run; run records and traces stay there.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("streaming", "batch_etl")
SETUP_REPS = 3

# Wall times on a shared 4-core box swing with CPU steal and neighbours'
# load, so the gated end-to-end set is throughput plus CPU cost per unit
# of work (which moves less with steal) plus set-up time; the latency
# and memory figures spread too much between runs and are per layer.
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cpu_ms_per_item": "ms",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "work.op_ms_p50": "ms",
    "serving.read_ms_p50": "ms",
    "jvm.peak_rss_mb": "MB",
    "jvm.live_heap_mb": "MB",
    "spark.jobs_per_cycle": "count",
    "spark.stages_per_cycle": "count",
    "spark.tasks_per_cycle": "count",
    "spark.task_s_per_cycle": "s",
    "spark.executor_cpu_s_per_cycle": "s",
    "spark.outside_s_per_cycle": "s",
    "spark.shuffle_bytes_per_cycle": "bytes",
    "sql.files_written_per_cycle": "count",
    "sql.bytes_written_per_cycle": "bytes",
    "sources.reads_per_item": "count",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "cdc_stream_batch_etl_spark")):
        print(f"no engine package cdc_stream_batch_etl_spark under {checkout}; "
              "run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(checkout, ".perfbench")
    root = os.path.join(work, f"tmp-{args.workload}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(root, d))
    # every scratch file of this process and the JVM stays under `root`
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    # read by every JVM started, spark-submit's launcher JVM included
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"]).strip()
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # engine defaults, whatever the caller's shell sets
    sys.path[:0] = [HERE, checkout]
    try:
        result, record = run_one(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}"
                           f"-cores{args.cores}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_one(args, root: str) -> tuple[dict, dict]:
    import probes
    from workloads import WORKLOADS

    tracer = probes.Tracer(bool(args.trace))
    spark, setup_s, get_spark_s = None, [], []
    cls = WORKLOADS[args.workload]
    try:
        for rep in range(SETUP_REPS):
            wl = cls(args.seed, os.path.join(root, f"rep{rep}"))
            t0 = time.perf_counter()
            with tracer.span("setup", rep=rep):
                if spark is None:
                    with tracer.span("session.get_spark"):
                        spark = start_session(root, args.cores)
                    get_spark_s.append(time.perf_counter() - t0)
                wl.setup(spark, tracer)
            setup_s.append(time.perf_counter() - t0)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        store = probes.StatusStore(spark) if args.trace else None
        if args.trace:
            spark.streams.addListener(probes.TriggerListener(tracer))
            first_job = max((j["job"] for j in store.jobs()), default=-1)

        cpu0, steal0, load0 = probes.tree_cpu_s(), probes.cpu_ticks(), probes.loadavg_1m()
        t0 = time.perf_counter()
        with tracer.span("measured"):
            while True:
                try:
                    with tracer.span("cycle", n=wl.cycles):
                        wl.cycle(spark, tracer)
                except Exception:
                    wl.checks += 1
                    wl.fail("cycle raised:\n" + traceback.format_exc())
                    break
                if time.perf_counter() - t0 >= args.seconds or wl.exhausted:
                    break
        measured_s = time.perf_counter() - t0
        cpu_s = probes.tree_cpu_s() - cpu0
        steal1, load1 = probes.cpu_ticks(), probes.loadavg_1m()
        live_heap_mb = probes.live_heap_mb(spark)
        if args.trace:
            last_job = max(j["job"] for j in store.jobs())
        wl.run_check(spark, tracer)

        metrics = {
            "setup_s": statistics.median(setup_s),
            "items_per_s": wl.items / wl.drain_s if wl.drain_s else float("nan"),
            "cpu_ms_per_item": cpu_s * 1e3 / max(wl.items, 1),
        }
        jvm = {
            "work.op_ms_p50": probes.p50(wl.op_ms),
            "serving.read_ms_p50": probes.p50(wl.read_ms),
            "jvm.peak_rss_mb": probes.vm_hwm_mb(jvm_pid),
            "jvm.live_heap_mb": live_heap_mb,
        }
        steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": args.cores, "measured_s": measured_s,
            "cycles": wl.cycles, "items": wl.items, "item": wl.item, "cpu_s": cpu_s,
            "loadavg_1m": [load0, load1], "steal_pct": steal_pct,
            "setup_s": setup_s, "get_spark_s": get_spark_s,
            "failures": wl.failures, "metrics": metrics, **jvm,
        }
        layers = {}
        if args.trace:
            layers = {**jvm, **layer_metrics(args, wl, spark, store, tracer, first_job, last_job,
                                             statistics.median(get_spark_s), measured_s)}
            record["layers"] = layers
            name_triggers(tracer, getattr(wl, "run_ids", {}))
            record["self_s"] = tracer.self_times()
            record["spans"] = tracer.spans
            os.makedirs(os.path.join(os.getcwd(), ".perfbench", "traces"), exist_ok=True)
            with open(os.path.join(".perfbench", "traces",
                                   f"{args.workload}-seed{args.seed}-cores{args.cores}.json"), "w") as f:
                json.dump(record, f, indent=1, default=str)
        report(args, wl, record, layers)
    finally:
        stop_jvm(spark)

    failed = len(wl.failures)
    chosen = PER_LAYER if args.trace else END_TO_END
    src = layers if args.trace else metrics
    result = {
        "correct": failed == 0,
        "attempted": max(wl.attempted(), failed, 1),
        "failed": failed,
        "metrics": {k: {"value": src.get(k, float("nan")), "unit": u} for k, u in chosen.items()},
    }
    return result, record


def start_session(root: str, cores: int):
    from cdc_stream_batch_etl_spark.session import get_spark

    return get_spark(
        app="perfbench", cores=cores, shuffle_partitions=cores, driver_memory="3g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(root, "local"),
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        },
    )


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and
    wait for each to exit."""
    import probes
    from pyspark import SparkContext

    kids = probes._children_map()
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(kids.get(pid, []))
    tree.discard(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def layer_metrics(args, wl, spark, store, tracer, first_job, last_job, get_spark_s, measured_s) -> dict:
    """The per-layer set: generic Spark/SQL counters per cycle (every
    workload), plus the module-named metrics of this workload."""
    import probes

    jobs = [j for j in store.jobs() if first_job < j["job"] <= last_job]
    stages, writes = store.stages(), store.writes()
    cycles = max(wl.cycles, 1)
    tot = probes.group_totals(jobs, stages, writes, wl.groups)
    out = {
        "session.get_spark_s": get_spark_s,
        "spark.jobs_per_cycle": tot["jobs"] / cycles,
        "spark.stages_per_cycle": tot["stages"] / cycles,
        "spark.tasks_per_cycle": tot["tasks"] / cycles,
        "spark.task_s_per_cycle": tot["task_s"] / cycles,
        "spark.executor_cpu_s_per_cycle": tot["executor_cpu_s"] / cycles,
        "spark.outside_s_per_cycle": (wl.drain_s - tot["task_s"] / args.cores) / cycles,
        "spark.shuffle_bytes_per_cycle": tot["shuffle_bytes"] / cycles,
        "spark.spill_bytes_per_cycle": tot["spill_bytes"] / cycles,
        "spark.grouped_job_pct": 100.0 * sum(j["group"] is not None for j in jobs) / max(len(jobs), 1),
        "sql.files_written_per_cycle": tot["files_written"] / cycles,
        "sql.bytes_written_per_cycle": tot["bytes_written"] / cycles,
        "trace.hook_overhead_pct": 100.0 * tracer.hook_s / measured_s,
        "trace.spans": len(tracer.spans),
        "trace.items_per_s": wl.items / wl.drain_s if wl.drain_s else float("nan"),
    }
    named = wl.layers(spark)
    if hasattr(wl, "progress"):  # streaming: per-query job groups are run ids
        out["sources.reads_per_item"] = sum(
            v for k, v in named.items() if k.endswith(".input_rows")) / max(wl.items, 1)
        from cdc_stream_batch_etl_spark.streaming.cdc_stream import N_STATE_BUCKETS

        for name in wl.progress:
            g = probes.group_totals(jobs, stages, writes, {r for r, n in wl.run_ids.items() if n == name})
            trig = max(len(wl.progress[name]), 1)
            named[f"{name}.jobs_per_trigger"] = g["jobs"] / trig
            named[f"{name}.stages_per_trigger"] = g["stages"] / trig
            if name == "latest_state":
                named["latest_state.bytes_written_per_event"] = g["bytes_written"] / max(wl.items, 1)
                parts = g["parts_written"]
                named["latest_state.buckets_rewritten_share"] = (
                    sum(parts) / len(parts) / N_STATE_BUCKETS if parts else float("nan"))
    else:
        out["sources.reads_per_item"] = tot["input_records"] / max(wl.items, 1)
        named.update(pipeline_outputs(args, jobs, stages, writes))
        for q, xs in wl.query_s.items():
            g = probes.group_totals(jobs, stages, writes, {x for x in wl.groups if x.startswith(f"operators.{q}.")})
            wall = sum(xs)
            named[f"operators.{q}.wall_s"] = wall / cycles
            for k in ("task_s", "executor_cpu_s", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
                named[f"operators.{q}.{k}"] = g[k] / cycles
            named[f"operators.{q}.outside_s"] = (wall - g["task_s"] / args.cores) / cycles
    out.update(named)
    return out


def name_triggers(tracer, run_ids: dict) -> None:
    """Trigger spans carry the query's run id; a query started without
    a name (latest_state) is named after its pipeline key instead."""
    names = {}
    for s in tracer.spans:
        if "run_id" in s:
            names[s["id"]] = f"trigger.{run_ids.get(s['run_id'], s['name'][8:])}"
            s["name"] = names[s["id"]]
        elif s["parent"] in names and s["name"].startswith("trigger."):
            s["name"] = names[s["parent"]] + "." + s["name"].rsplit(".", 1)[1]


def pipeline_outputs(args, jobs, stages, writes) -> dict:
    """operators.<output>.* for each output of the first
    run_batch_pipeline call. The runner materializes outputs one after
    another on one thread, each as a run_ts write then a `latest` copy,
    then appends one summary row; so the jobs up to and including an
    output's `latest` write belong to that output (the first output
    also carries the health check)."""
    import probes
    from cdc_stream_batch_etl_spark import runner

    names = [*runner.BATCH_QUERIES, *runner.DERIVED_QUERIES]
    mine = sorted((j for j in jobs if j["group"] == "runner.run_batch_pipeline.c0"), key=lambda j: j["job"])
    ids = {j["job"] for j in mine}
    pw = sorted((w for w in writes if ids & set(w["jobs"])), key=lambda w: min(w["jobs"]))
    if len(pw) != 2 * len(names) + 1:
        return {"operators.attributed_outputs": 0}
    out, prev_job = {"operators.attributed_outputs": len(names)}, -1
    prev_t = min((j["submitted_ms"] for j in mine if j["submitted_ms"]), default=0)
    for i, name in enumerate(names):
        cut = max(pw[2 * i + 1]["jobs"])
        seg = [j for j in mine if prev_job < j["job"] <= cut]
        t = probes.job_totals(seg, stages, writes)
        end = max((j["completed_ms"] or 0 for j in seg), default=prev_t)
        wall = (end - prev_t) / 1e3
        out[f"operators.{name}.wall_s"] = wall
        for k in ("task_s", "executor_cpu_s", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
            out[f"operators.{name}.{k}"] = t[k]
        out[f"operators.{name}.outside_s"] = wall - t["task_s"] / args.cores
        prev_job, prev_t = cut, end
    return out


def report(args, wl, rec, layers) -> None:
    import probes

    m = rec["metrics"]
    print(f"perfbench {args.workload} seed={args.seed} cores={args.cores} trace={args.trace} "
          f"measured_s={rec['measured_s']:.1f} cycles={wl.cycles} items={wl.items} ({wl.item}s) "
          f"checks={wl.checks} failed={len(wl.failures)} "
          f"loadavg_1m={rec['loadavg_1m'][0]:.2f}->{rec['loadavg_1m'][1]:.2f} "
          f"steal_pct={rec['steal_pct']:.2f} setup_s={[round(x, 2) for x in rec['setup_s']]}")
    named = {"cpu_s": (rec["cpu_s"], "s"), "peak_rss_mb": (rec["jvm.peak_rss_mb"], "MB"),
             "live_heap_mb": (rec["jvm.live_heap_mb"], "MB"),
             "ops_failed_ratio": (len(wl.failures) / max(wl.attempted(), 1), "ratio")}
    if args.workload == "streaming":
        pct, v = probes.tail(wl.op_ms)
        slow = wl.slowest_analytics()
        named.update({
            "cdc_events_per_s": (wl.cdc_events / wl.drain_s, "1/s"),
            "cdc_trigger_ms_p50": (rec["work.op_ms_p50"], f"ms n={len(wl.op_ms)}"),
            "cdc_trigger_ms_tail": (v, f"ms p{pct:.1f} n={len(wl.op_ms)}"),
            "state_read_ms_p50": (rec["serving.read_ms_p50"], f"ms n={len(wl.read_ms)}"),
            "events_per_s": (wl.event_rows / wl.drain_s, "1/s"),
            "events_trigger_ms_p50": (probes.p50(wl.trigger_ms(slow)),
                                      f"ms n={len(wl.trigger_ms(slow))} query={slow}"),
        })
    else:
        per_cycle = [sum(xs[i] for xs in wl.query_s.values()) for i in range(wl.cycles)]
        named.update({
            "batch_cycle_s": (probes.p50(wl.pipeline_s), f"s n={len(wl.pipeline_s)}"),
            "batch_queries_s": (probes.p50(per_cycle), f"s n={len(per_cycle)}"),
            "output_read_ms_p50": (rec["serving.read_ms_p50"], f"ms n={len(wl.read_ms)}"),
        })
    for k, (v, u) in named.items():
        print(f"  {k} = {v:.6g} {u}")
    for k, v in m.items():
        print(f"  e2e {k} = {v:.6g} {END_TO_END[k]}")
    for k, v in layers.items():
        print(f"  layer {k} = {v:.6g}")


def run_all(args) -> int:
    """Every workload in its own process: untraced, then traced; then
    streaming traced on local[1] as the single-thread baseline."""
    runs = [(w, 0, args.cores) for w in WORKLOAD_NAMES] + [(w, 1, args.cores) for w in WORKLOAD_NAMES]
    runs.append(("streaming", 1, 1))
    out, traced, ok, attempted, failed = {}, {}, True, 0, 0
    for w, trace, cores in runs:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(trace), "--cores", str(cores)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if res is None or p.returncode != 0:
            ok = False
            failed += 1 if res is None else res["failed"]
            attempted += 1 if res is None else res["attempted"]
            continue
        ok &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        if cores != args.cores:
            continue  # the local[1] run is a diagnostic, not a metric
        if trace:
            traced[w] = _traced_rate(w, args.seed, cores)
        for k, v in res["metrics"].items():
            out[f"{w}.{k}"] = v
    for w in WORKLOAD_NAMES:
        a, b = out.get(f"{w}.items_per_s"), traced.get(w)
        if a and b:
            print(f"{w}: tracing overhead {100 * (a['value'] / b - 1):.1f}% "
                  f"(items_per_s untraced {a['value']:.6g}, traced {b:.6g})")
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1), "failed": failed, "metrics": out}))
    return 0 if ok else 1


def _traced_rate(workload: str, seed: int, cores: int) -> float | None:
    path = os.path.join(".perfbench", "traces", f"{workload}-seed{seed}-cores{cores}.json")
    with open(path) as f:
        return json.load(f)["layers"].get("trace.items_per_s")


if __name__ == "__main__":
    sys.exit(main())
