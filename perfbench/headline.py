"""The ``headline_relational`` workload: the 12 bench-flagged registry
queries over the TPC-H and events tables, bound by the engine's
per-query floor. One client runs the queries back to back in a closed
loop, each through bench.py's xxhash64/bit_xor sink; the seed permutes
the order of every pass."""

from __future__ import annotations

import os
import random
import sys
import time

from common import Ctx, median, now, settle_jvm, sink_frame, start_spark, stop_spark
import tracing

RELATIONAL = (
    "asof_join_last_purchase", "daily_activity", "gap_detection_anti_join",
    "json_path_extract", "merge_upsert", "pricing_summary", "shipping_priority_topk",
    "tpch_q10_returned_items", "tpch_q18_large_volume_customers", "travel_correlation",
    "tumbling_window_agg", "validation_gaps",
)
MIN_PASSES = 1
# Untimed sink passes after the oracle pass. The sink passes after a cold
# start keep getting faster while the JIT compiles more of the query
# path: on 4 cores the 1st runs 20-40% slower than the 5th.
WARM_PASSES = 3


class _Collected:
    """Hands an already collected result to ``oracle_utils.compare``,
    which asks its argument for ``toPandas()``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _input_rows(df, sf_dir: str) -> int:
    """Rows of the catalog tables the query's plan scans."""
    from martian_moments_spark.catalog import TABLES, table_rows

    files = {os.path.basename(p.split("://", 1)[-1]) for p in df.inputFiles()}
    return sum(table_rows(sf_dir, t) or 0 for t in TABLES if f"{t}.parquet" in files)


class HeadlineRun:
    def __init__(self, ctx: Ctx, sf_dir: str, log):
        self.ctx, self.sf_dir, self.log = ctx, sf_dir, log
        self.rng = random.Random(ctx.seed)
        self.attempted = 0
        self.failed = 0
        self.reference: dict[str, int] = {}
        self.input_rows = 0

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.log(f"FAIL {what}")

    def _order(self) -> list[str]:
        return self.rng.sample(RELATIONAL, len(RELATIONAL))

    def warm_up_and_check(self) -> float:
        """First execution of every query: compare it with its DuckDB
        oracle and record the rows it reads. Returns the Spark seconds,
        which count as warm-up; the oracle side is not counted."""
        sys.path.insert(0, os.path.join(self.ctx.root, "tests"))
        from oracle_utils import compare, duckdb_con

        t_oracle = now()
        con = duckdb_con(self.sf_dir)
        self.oracle_s = now() - t_oracle
        spark_s = 0.0
        for name in self._order():
            spec = self.registry[name]
            self.attempted += 1
            try:
                t0 = now()
                df = spec.fn(self.spark, self.sf_dir)
                pdf = df.toPandas()
                t1 = now()
                spark_s += t1 - t0
                self.input_rows += _input_rows(df, self.sf_dir)
                problems = compare(_Collected(pdf), con.execute(spec.oracle).df())
                self.oracle_s += now() - t1
            except Exception as e:  # a failing query is counted, the run goes on
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                self._fail(f"{name} oracle: {problems[0][:300]}")
        con.close()
        return spark_s

    def one_pass(self, traced: dict | None = None, tag: str = "") -> tuple[float, list[float]]:
        """Run every query once through the sink. Returns the pass wall
        time and the per-query latencies. With ``traced`` each query runs
        under its own job group and its phase timings are recorded."""
        lat = []
        p0 = now()
        for name in self._order():
            spec = self.registry[name]
            self.attempted += 1
            group = f"{tag}{name}"
            if traced is not None:
                self.spark.sparkContext.setJobGroup(group, group)
            t0, w0 = now(), time.time()
            try:
                df = spec.fn(self.spark, self.sf_dir)
                t1 = now()
                sink = sink_frame(df)
                t2 = now()
                value = sink.collect()[0][0]
                t3 = now()
            except Exception as e:
                self._fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            lat.append(t3 - t0)
            if self.reference.setdefault(name, value) != value:
                self._fail(f"{name}: sink value {value} != first {self.reference[name]}")
            if traced is not None:
                ph = tracing.tracker_phases(sink)
                traced[group] = {
                    "name": name,
                    "wall": t3 - t0,
                    "build": t1 - t0,
                    "analyze": t2 - t1,
                    "collect": t3 - t2,
                    "optimize": ph["optimization"],
                    "plan": ph["planning"],
                    "exec_lo_ms": (w0 + (t2 - t0) + ph["optimization"] + ph["planning"]) * 1e3,
                    "exec_hi_ms": (w0 + (t3 - t0)) * 1e3,
                }
        return now() - p0, lat


def run(ctx: Ctx, sf_dir: str, log) -> dict:
    """One run of ``headline_relational``; returns metrics and counts."""
    from martian_moments_spark.plans import load_all

    h = HeadlineRun(ctx, sf_dir, log)
    t0 = now()
    h.spark = start_spark(ctx, "perfbench-headline_relational")
    start_s = now() - t0
    log(f"session started in {start_s:.2f}s")
    h.registry = load_all()
    warm_s = h.warm_up_and_check()
    for _ in range(WARM_PASSES):
        warm_s += h.one_pass()[0]
    settle_s = settle_jvm(h.spark)
    log(f"warm-up {warm_s:.2f}s spark, oracle {h.oracle_s:.2f}s, settle {settle_s:.2f}s")
    # set-up = session start + registry import + the warm-up's Spark time
    # (oracle pass and warm passes) + settling
    out = {"setup_s": now() - t0 - h.oracle_s, "start_s": start_s, "warmup_s": warm_s}

    # a traced run splits its time between untraced and traced passes
    seconds = ctx.seconds / 2 if ctx.trace else ctx.seconds
    if ctx.trace:
        h.one_pass()  # traced passes also follow one sink pass in their session
    passes, lat = [], []
    m0 = now()
    while len(passes) < MIN_PASSES or now() - m0 < seconds:
        wall, l = h.one_pass()
        log(f"pass {wall:.2f}s")
        passes.append(wall)
        lat.extend(l)
    out.update(passes=passes, latencies=lat, input_rows=h.input_rows)
    if ctx.trace:
        out["layers"] = _traced_phase(ctx, h, passes)
    else:
        stop_spark(h.spark, shutdown_jvm=True)
    out.update(attempted=h.attempted, failed=h.failed)
    return out


def _traced_phase(ctx: Ctx, h: HeadlineRun, untraced_passes: list[float]) -> dict:
    """Restart the session with an event log, warm it with one pass, run
    traced passes, then build the per-layer table from the log."""
    stop_spark(h.spark, shutdown_jvm=False)
    log_dir = os.path.join(ctx.work, "eventlog")
    h.spark = start_spark(ctx, "perfbench-headline_relational-traced", event_log_dir=log_dir)
    h.one_pass(traced={}, tag="warmup:")
    records: list[dict] = []
    walls = []
    m0 = now()
    while not walls or now() - m0 < ctx.seconds / 2:
        traced: dict = {}
        wall, _ = h.one_pass(traced=traced, tag=f"p{len(walls)}:")
        walls.append(wall)
        records.append(traced)
    stop_spark(h.spark, shutdown_jvm=True)
    table = tracing.parse_event_log(log_dir)
    return layers(ctx, table, records, walls, untraced_passes)


def layers(ctx: Ctx, table, records, walls, untraced_passes) -> dict:
    """Per-pass layer sums from traced passes, reduced to medians."""
    per_pass = []
    per_query: dict[str, list[float]] = {}
    worst_err = 0.0
    for traced, pass_wall in zip(records, walls):
        acc = {k: 0.0 for k in (
            "build", "optimize", "plan", "driver_gap", "exec_wall", "jobs", "stages",
            "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write", "shuffle_read",
            "spill", "phases")}
        for group, r in traced.items():
            per_query.setdefault(r["name"], []).append(r["wall"])
            execute = r["collect"] - r["optimize"] - r["plan"]
            acc["phases"] += r["build"] + r["analyze"] + r["optimize"] + r["plan"] + max(execute, 0.0)
            stages = table.for_group(group)
            exec_ms = r["exec_hi_ms"] - r["exec_lo_ms"]
            acc["driver_gap"] += max(exec_ms - tracing.covered_ms(stages, r["exec_lo_ms"], r["exec_hi_ms"]), 0.0) / 1e3
            acc["exec_wall"] += exec_ms / 1e3
            acc["build"] += r["build"]
            acc["optimize"] += r["optimize"]
            acc["plan"] += r["plan"]
            for k, v in tracing.exec_totals(stages).items():
                acc[k] += v
        # the per-query phase table must account for the pass's wall time
        worst_err = max(worst_err, abs(acc["phases"] - pass_wall) / pass_wall)
        per_pass.append(acc)

    def med(k):
        return median([p[k] for p in per_pass])

    untraced = median(untraced_passes)
    traced_pass = median(walls)
    layers = {
        "plans.build_s": med("build"),
        "catalyst.optimize_s": med("optimize"),
        "catalyst.plan_s": med("plan"),
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.driver_gap_s": med("driver_gap"),
        "exec.task_run_s": med("task_run_s"),
        "exec.task_cpu_s": med("task_cpu_s"),
        "exec.gc_s": med("gc_s"),
        "exec.core_util": median(
            [p["task_run_s"] / (p["exec_wall"] * ctx.cpus) if p["exec_wall"] else 0.0 for p in per_pass]
        ),
        "shuffle.write_bytes": med("shuffle_write"),
        "shuffle.read_bytes": med("shuffle_read"),
        "spill.bytes": med("spill"),
        "trace.overhead_s": traced_pass - untraced,
        "trace.overhead_frac": (traced_pass - untraced) / untraced,
        "trace.phase_sum_err": worst_err,
        "trace.unattributed_stages": float(len(table.unattributed())),
    }
    for name, walls_q in per_query.items():
        layers[f"q.{name}_s"] = median(walls_q)
    return layers
