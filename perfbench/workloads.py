"""The two workloads. Each drives the engine only through its public
functions, in a closed loop on one thread, and checks every output
against an independent computation outside the timed region.

A workload object lives for one set-up: `setup` generates inputs and
warms up, `cycle` is one timed unit of work, `check` runs after the
measured phase. Samples and counts accumulate on the object."""

from __future__ import annotations

import json
import os
import random
import time
import traceback
from contextlib import contextmanager

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from cdc_stream_batch_etl_spark import registry, runner
from cdc_stream_batch_etl_spark.catalog import load_table
from cdc_stream_batch_etl_spark.config import DEFAULT_CONFIG
from cdc_stream_batch_etl_spark.sources.files import parquet_stream, text_stream
from cdc_stream_batch_etl_spark.streaming.cdc_stream import read_latest_state
from cdc_stream_batch_etl_spark.streaming.pipeline import start_pipelines

import gen
from probes import dir_stats

FILES_PER_CYCLE = 3  # per input, per cycle
LOOKUPS_PER_CYCLE = 5
AWAIT_TIMEOUT_S = 120
CDC_SNAPSHOT_KEYS = 10_000
WATERMARK_US = 10 * 60 * 1_000_000
ANALYTICS = ("minute_metrics", "velocity", "alerts")
FIXED_QUERIES = ("fk_integrity_audit",)

now = time.perf_counter


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs this thread runs, so the status store can
    attribute them (streaming queries tag theirs with their run id)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def progress_dict(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


class Workload:
    name = ""
    item = ""  # what items_per_s counts

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.root = root
        self.rng = random.Random(seed)
        self.cycles = 0
        self.items = 0
        self.drain_s = 0.0
        self.op_ms: list[float] = []
        self.read_ms: list[float] = []
        self.checks = 0
        self.failures: list[str] = []
        self.exhausted = False
        self.groups: set[str] = set()  # job groups of the measured phase

    def attempted(self) -> int:
        return self.work_ops() + len(self.read_ms) + self.checks

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {self.name}: {what}", flush=True)

    def run_check(self, spark, tracer) -> None:
        try:
            with tracer.span("check"):
                self.check(spark)
        except Exception:
            self.checks += 1
            self.fail("check raised:\n" + traceback.format_exc())


class Streaming(Workload):
    """The full `start_pipelines` surface. Every cycle writes the next
    Debezium change files and the next replayed events files, then one
    `start_pipelines` + `await_all` runs all five queries (availableNow,
    one file per trigger) over them, then serves point lookups through
    `read_latest_state`."""

    name = "streaming"
    item = "input row"  # change events plus event rows

    def __init__(self, seed, root):
        super().__init__(seed, root)
        self.cdc_dir = f"{root}/cdc"
        self.ev_dir = f"{root}/ev"
        self.out = f"{root}/out"
        self.state_path = f"{self.out}/latest_state"
        os.makedirs(self.cdc_dir)
        os.makedirs(self.ev_dir)
        self.progress: dict[str, list[dict]] = {}
        self.run_ids: dict[str, str] = {}
        self.start_ms: list[float] = []
        self.await_ms: list[float] = []
        self.cdc_events = 0
        self.event_rows = 0

    def setup(self, spark, tracer) -> None:
        with tracer.span("gen"):
            self.writer = gen.FileWriter()
            self.gen = gen.CdcReplay(self.seed, CDC_SNAPSHOT_KEYS)
            self.writer.lines(f"{self.cdc_dir}/f{0:06d}.json", self.gen.snapshot_lines())
            self.files = gen.event_files(self.seed)
            self.writer.table(f"{self.ev_dir}/e{0:06d}.parquet", self.files[0])
            self.next_cdc = self.next_ev = 1
        self.ev_schema = spark.read.parquet(f"{self.ev_dir}/e{0:06d}.parquet").schema
        self.customer = load_table(spark, gen.DATA_DIR, "customer")
        self.nation = load_table(spark, gen.DATA_DIR, "nation")
        with tracer.span("warmup"):
            self.drain(spark, tracer, measured=False)
            self.lookups(spark, tracer, measured=False, n=1)

    def cycle(self, spark, tracer) -> None:
        with tracer.span("gen"):
            for _ in range(FILES_PER_CYCLE):
                lines = self.gen.change_lines()
                self.writer.lines(f"{self.cdc_dir}/f{self.next_cdc:06d}.json", lines)
                self.next_cdc += 1
                self.cdc_events += len(lines)
                if self.next_ev < len(self.files):
                    f = self.next_ev
                    self.writer.table(f"{self.ev_dir}/e{f:06d}.parquet", self.files[f])
                    self.next_ev += 1
                    self.event_rows += self.files[f].num_rows
            self.exhausted = self.next_ev == len(self.files)
            self.items = self.cdc_events + self.event_rows
        self.drain(spark, tracer, measured=True)
        self.op_ms = self.trigger_ms("latest_state")
        self.lookups(spark, tracer, measured=True)
        self.cycles += 1

    def drain(self, spark, tracer, measured: bool) -> None:
        t0 = now()
        with tracer.span("pipeline.start_pipelines"):
            p = start_pipelines(
                text_stream(spark, self.cdc_dir),
                parquet_stream(spark, self.ev_dir, self.ev_schema),
                self.customer, self.nation, self.out,
            )
        t1 = now()
        try:
            with tracer.span("pipeline.await_all"):
                p.await_all(AWAIT_TIMEOUT_S)
        finally:
            t2 = now()
            stuck = [n for n, q in p.queries.items() if q.isActive]
            p.stop_all()
        for n, q in p.queries.items():
            if q.exception() is not None:
                raise RuntimeError(f"{n} failed: {q.exception()}")
        if stuck:
            raise RuntimeError(f"not drained within {AWAIT_TIMEOUT_S}s: {stuck}")
        if not measured:
            return
        self.drain_s += t2 - t0
        self.start_ms.append((t1 - t0) * 1e3)
        self.await_ms.append((t2 - t1) * 1e3)
        for n, q in p.queries.items():
            rid = str(q.runId)
            self.run_ids[rid] = n
            self.groups.add(rid)
            self.progress.setdefault(n, []).extend(progress_dict(x) for x in q.recentProgress)

    def lookups(self, spark, tracer, measured: bool, n: int = LOOKUPS_PER_CYCLE) -> None:
        expected = self.gen.expected_state()
        for _ in range(n):
            pk = self.rng.randrange(1, self.gen.next_pk)
            t0 = now()
            with tracer.span("cdc_stream.read_latest_state"), job_group(spark, "lookup"):
                rows = read_latest_state(spark, self.state_path).filter(F.col("pk") == pk).collect()
            dt = now() - t0
            if not measured:
                continue
            self.read_ms.append(dt * 1e3)
            exp = expected.get(pk)
            got = [_state_tuple(r) for r in rows]
            if got != ([exp] if exp else []):
                self.fail(f"lookup pk={pk}: got {got}, expected {exp}")

    def work_ops(self) -> int:
        return sum(len(self.data_triggers(n)) for n in self.progress)

    def data_triggers(self, name: str) -> list[dict]:
        return [x for x in self.progress.get(name, []) if x["numInputRows"] > 0]

    def trigger_ms(self, name: str) -> list[float]:
        return [x["durationMs"]["triggerExecution"] for x in self.data_triggers(name)]

    def slowest_analytics(self) -> str:
        return max(ANALYTICS, key=lambda n: _med(self.trigger_ms(n)))

    # ---------------------------------------------------------- checks

    def check(self, spark) -> None:
        self.check_cdc(spark)
        self.check_windows(spark)

    def check_cdc(self, spark) -> None:
        """Final state vs the Python replay; cdc_stats vs the
        generator's per-op counts."""
        self.checks += 2
        got = {r["pk"]: _state_tuple(r) for r in read_latest_state(spark, self.state_path).collect()}
        exp = self.gen.expected_state()
        if got != exp:
            diff = set(got.items()) ^ set(exp.items())
            self.fail(f"latest_state differs from replay on {len(diff)} rows, e.g. {sorted(diff)[:5]}")
        stats = {(r["table"], r["op"]): r["event_count"]
                 for r in spark.read.parquet(f"{self.out}/cdc_stats").collect()}
        exp_stats = {("customers", op): n for op, n in self.gen.counts.items()}
        if stats != exp_stats:
            self.fail(f"cdc_stats {stats} != generated {exp_stats}")

    def check_windows(self, spark) -> None:
        """Sealed minute_metrics and velocity windows vs DuckDB over the
        delivered rows minus those behind the watermark of their batch;
        stateless high-value alerts vs every delivered row."""
        files = self.files[: self.next_ev]
        maxes = np.array([pc.max(f["ts"]).value for f in files])
        # watermark in force while file g is processed (one file per
        # trigger): max ts of the earlier files minus the delay
        wm = np.concatenate([[np.iinfo(np.int64).min], np.maximum.accumulate(maxes)[:-1] - WATERMARK_US])
        tab = pa.concat_tables(
            f.append_column("wm", pa.array(np.full(f.num_rows, w), pa.int64())) for f, w in zip(files, wm)
        )
        tab = tab.set_column(1, "ts", pc.cast(tab["ts"], pa.int64()))
        last_wm, final_wm = int(wm[-1]), int(maxes.max() - WATERMARK_US)
        self.checks += 1
        if not (pc.sum(pc.less(tab["ts"], tab["wm"])).as_py() or 0) > 0:
            self.fail("no row arrived behind the watermark; the late path was not exercised")
        con = duckdb.connect()
        try:
            con.register("d", tab)
            live = "event_type = 'purchase' AND ts >= wm"
            val = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
            mm = con.execute(
                f"SELECT ts // 60000000 * 60000000 AS ws, count(*) AS n, {val} AS v "
                f"FROM d WHERE {live} GROUP BY 1").fetchall()
            vel = con.execute(
                f"SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, "
                f"ts // 300000000 * 300000000 AS ws, {val} AS v FROM d WHERE {live} GROUP BY 1, 2").fetchall()
            high = con.execute(
                f"SELECT count(*) FROM d WHERE event_type = 'purchase' "
                f"AND value > {DEFAULT_CONFIG.thresholds.high_value_event}").fetchone()[0]
        finally:
            con.close()
        self._windows("minute_metrics", spark, ["window_start"], ["event_count", "total_value"],
                      {(ws,): (n, v) for ws, n, v in mm}, 60_000_000, last_wm, final_wm)
        self._windows("velocity", spark, ["product_k", "window_start"], ["total_value"],
                      {(k, ws): (v,) for k, ws, v in vel}, 300_000_000, last_wm, final_wm)
        self.checks += 1
        got_high = (spark.read.parquet(f"{self.out}/alerts")
                    .filter(F.col("alert_type") == "high_value_order").count())
        if got_high != high:
            self.fail(f"high_value_order alerts {got_high} != {high} delivered")

    def _windows(self, name, spark, keys, vals, expected, width, last_wm, final_wm) -> None:
        """Every window sealed by the last data batch is present, and
        every emitted window is sealed and equals DuckDB's."""
        self.checks += 1
        df = spark.read.parquet(f"{self.out}/{name}").select(
            *[F.unix_micros(F.col(k)).alias(k) if k == "window_start" else F.col(k) for k in keys], *vals)
        rows = df.collect()
        got = {tuple(r[k] for k in keys): tuple(r[v] for v in vals) for r in rows}
        if len(got) != len(rows):
            self.fail(f"{name}: a window was emitted twice")
        sealed = {k for k in expected if k[-1] + width <= last_wm}
        missing = sealed - got.keys()
        wrong = {k: (g, expected.get(k)) for k, g in got.items()
                 if expected.get(k) != g or k[-1] + width > final_wm}
        if missing or wrong:
            self.fail(f"{name}: {len(missing)} sealed windows missing, {len(wrong)} differ from DuckDB, "
                      f"e.g. {sorted(missing)[:3]} {list(wrong.items())[:3]}")

    # ---------------------------------------------------------- layers

    def layers(self, spark) -> dict[str, float]:
        """Per-query trigger metrics from the measured phase's
        StreamingQueryProgress records, plus source and state ratios."""
        out: dict[str, float] = {}
        for n, prog in sorted(self.progress.items()):
            data = self.data_triggers(n)
            ms = [x["durationMs"] for x in data]
            ops = [x.get("stateOperators") or [] for x in prog]
            out[f"{n}.triggers"] = len(data)
            out[f"{n}.trigger_ms_p50"] = _med([d["triggerExecution"] for d in ms])
            out[f"{n}.add_batch_ms_p50"] = _med([d.get("addBatch", 0) for d in ms])
            out[f"{n}.source_ms_p50"] = _med([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in ms])
            out[f"{n}.input_rows_per_trigger"] = _med([x["numInputRows"] for x in data])
            out[f"{n}.input_rows"] = sum(x["numInputRows"] for x in prog)
            if any(ops):
                last = ops[-1]
                out[f"{n}.state_rows"] = sum(o["numRowsTotal"] for o in last)
                out[f"{n}.state_memory_bytes"] = sum(o["memoryUsedBytes"] for o in last)
                out[f"{n}.state_commit_ms_p50"] = _med([sum(o["commitTimeMs"] for o in s) for s in ops if s])
                out[f"{n}.rows_dropped_by_watermark"] = sum(
                    o.get("numRowsDroppedByWatermark", 0) for s in ops for o in s)
        for n in ANALYTICS:  # file sinks report no row count in their progress
            out[f"{n}.output_rows"] = spark.read.parquet(f"{self.out}/{n}").count()
        out["pipeline.start_ms_p50"] = _med(self.start_ms)
        out["pipeline.await_ms_p50"] = _med(self.await_ms)
        cdc_reads = out.get("cdc_stats.input_rows", 0) + out.get("latest_state.input_rows", 0)
        out["sources.cdc_reads_per_event"] = cdc_reads / max(self.cdc_events, 1)
        out["latest_state.source_reads_per_event"] = out.get("latest_state.input_rows", 0) / max(self.cdc_events, 1)
        out["sources.event_reads_per_row"] = (
            sum(out.get(f"{n}.input_rows", 0) for n in ANALYTICS) / max(self.event_rows, 1))
        files, size = dir_stats(self.state_path)
        out["latest_state.state_files"] = files
        out["latest_state.state_bytes"] = size
        out["latest_state.state_rows"] = spark.read.parquet(self.state_path).count()
        return out


def _med(xs):
    xs = list(xs)
    return float(np.median(xs)) if xs else float("nan")


def _state_tuple(r) -> tuple:
    payload = json.loads(r["payload_json"])
    return (r["op"], r["ts_ms"], payload["last_name"], payload["address"])


class BatchEtl(Workload):
    """run_batch_pipeline at sf0.1, then the FIXED_QUERIES read-only
    registry queries through runner.run_query; serving reads are point
    lookups on the customer_segments output."""

    name = "batch_etl"
    item = "output"

    def setup(self, spark, tracer) -> None:
        with tracer.span("gen"):
            self.order = self.rng.sample(FIXED_QUERIES, len(FIXED_QUERIES))
            registry.load_all()
        self.query_s: dict[str, list[float]] = {q: [] for q in FIXED_QUERIES}
        self.pipeline_s: list[float] = []
        self.keys: list[tuple] = []
        with tracer.span("warmup"):
            t0 = now()
            with tracer.span("runner.health_check"):
                health = runner.health_check(spark, gen.DATA_DIR)
            self.layers_setup = {"runner.health_check_ms": (now() - t0) * 1e3}
        if not all(health.values()):
            raise RuntimeError(f"health check failed: {health}")

    def cycle(self, spark, tracer) -> None:
        out = f"{self.root}/out/c{self.cycles}"
        group = f"runner.run_batch_pipeline.c{self.cycles}"
        self.groups.add(group)
        t0 = now()
        with tracer.span("runner.run_batch_pipeline"), job_group(spark, group):
            res = runner.run_batch_pipeline(spark, gen.DATA_DIR, f"{out}/pipeline", run_ts="bench")
        dt = now() - t0
        self.pipeline_s.append(dt)
        self.drain_s += dt
        self.items += len(res.row_counts)
        if not res.quality_passed:
            self.fail(f"run_batch_pipeline quality gate: {res.quality_failures}")
        for q in self.order:
            group = f"operators.{q}.c{self.cycles}"
            self.groups.add(group)
            t0 = now()
            with tracer.span(f"runner.run_query.{q}"), job_group(spark, group):
                runner.run_query(spark, q, gen.DATA_DIR, f"{out}/{q}")
            dt = now() - t0
            self.query_s[q].append(dt)
            self.op_ms.append(dt * 1e3)
            self.drain_s += dt
            self.items += 1
        self.last_out = out
        self.lookups(spark, tracer, f"{out}/pipeline/customer_segments/latest")
        self.cycles += 1

    def lookups(self, spark, tracer, path) -> None:
        for _ in range(LOOKUPS_PER_CYCLE):
            key = self.rng.randrange(1, 15_001)
            t0 = now()
            with tracer.span("runner.read_output"), job_group(spark, "lookup"):
                rows = spark.read.parquet(path).filter(F.col("c_custkey") == key).collect()
            self.read_ms.append((now() - t0) * 1e3)
            self.keys.append((key, [r.asDict() for r in rows]))

    def work_ops(self) -> int:
        return self.items

    def check(self, spark) -> None:
        """Every output of the last cycle vs its registry.ORACLES SQL,
        compared the way tests/oracle.py does; lookups vs the
        customer_segments oracle."""
        from tests.oracle import assert_df_matches, run_oracle

        outputs = {n: f"{self.last_out}/pipeline/{n}/latest"
                   for n in (*runner.BATCH_QUERIES, *runner.DERIVED_QUERIES)}
        outputs.update({q: f"{self.last_out}/{q}" for q in FIXED_QUERIES})
        oracles = {}
        for name, path in outputs.items():
            self.checks += 1
            oracles[name] = run_oracle(registry.ORACLES[name], gen.DATA_DIR)
            try:
                assert_df_matches(spark.read.parquet(path), oracles[name])
            except AssertionError as e:
                self.fail(f"{name} vs oracle: {e}")
        seg = oracles["customer_segments"].set_index("c_custkey")
        for key, rows in self.keys:
            exp = seg.loc[key].to_dict() if key in seg.index else None
            got = rows[0] if len(rows) == 1 else None
            if got is not None:
                got = {k: v for k, v in got.items() if k != "c_custkey"}
            if exp is None or got is None or any(not _same(got[k], exp[k]) for k in exp):
                self.fail(f"lookup c_custkey={key}: got {rows}, expected {exp}")

    def layers(self, spark) -> dict[str, float]:
        out = dict(self.layers_setup)
        out["runner.run_batch_pipeline_s"] = _med(self.pipeline_s)
        for q, xs in self.query_s.items():
            out[f"runner.run_query.{q}_s"] = _med(xs)
        return out


def _same(a, b) -> bool:
    import pandas as pd

    if a is None or (isinstance(a, float) and np.isnan(a)):
        return b is None or pd.isna(b)
    if hasattr(a, "isoformat") or hasattr(b, "isoformat"):
        return pd.Timestamp(a) == pd.Timestamp(b)
    return a == b


WORKLOADS = {w.name: w for w in (Streaming, BatchEtl)}
