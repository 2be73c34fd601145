"""The ``ingest_loop`` workload: the paper's closed ELT loop, one cycle
after another.

Each cycle: the seeded generator publishes a batch of bronze envelopes
by atomic rename; ``file_json_stream`` -> ``flatten_envelopes`` ->
``lakehouse.upsert_sink`` drains it into silver (availableNow, keyed on
``event_id``); ``build_gold_daily`` over the silver snapshot is written
to gold with ``lakehouse.overwrite``; ``feedback.detect_gaps`` compares
silver with the generator's expected manifest and ``schedule_envelope``
turns the gaps into the next cycle's backfill. Every ``COMPACT_EVERY``
cycles silver is compacted and both tables vacuumed.

A cycle's latency runs from the moment its last envelope is published
until gold is committed, the gaps are scheduled and, on a compaction
cycle, compaction and vacuum are done: the time the next publish waits.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import Ctx, median, now, settle_jvm, start_spark, stop_spark
import tracing

ID_DOMAIN = 10_000  # bounded key domain: silver plateaus at this many rows
USERS = 300
PER_CYCLE = 4_000  # fresh event versions generated per cycle
SOLS_PER_CYCLE = 3  # each cycle's events fall on sols [c, c + 3)
WITHHOLD = 0.03  # share of a cycle's grains the generator holds back
ENVELOPE_ROWS = 500
# Runs measure whole compaction periods, so every measured period holds
# exactly one compaction. Three cycles is the shortest period with more
# plain cycles than compacting ones.
COMPACT_EVERY = 3
WARMUP_CYCLES = 2  # after the initial load; the last one compacts
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
BASE_DAY = dt.datetime(2024, 1, 1)
BASE_INGEST = dt.datetime(2024, 2, 1)
GRAIN = ["user_id", "sol"]


class EnvelopeGenerator:
    """Seeded bronze source. Keeps the latest generated version of every
    event (its expected manifest) and the latest published version (what
    silver must hold once drained)."""

    def __init__(self, seed: int, bronze_dir: str):
        self.rng = np.random.default_rng(seed)
        self.bronze = bronze_dir
        self.latest: dict[int, tuple] = {}
        self.published: dict[int, tuple] = {}
        self.held: dict[tuple[int, int], list[int]] = {}
        self.bronze_bytes = 0
        self.cycle = 0
        os.makedirs(bronze_dir, exist_ok=True)

    def _records(self, ids: np.ndarray) -> list[tuple]:
        n = len(ids)
        r = self.rng
        sols = self.cycle + r.integers(0, SOLS_PER_CYCLE, n)
        users = r.integers(0, USERS, n)
        types = r.integers(0, len(EVENT_TYPES), n)
        values = np.round(r.exponential(50.0, n), 2)
        secs = r.integers(0, 86400, n)
        return [
            (int(i), int(s), int(u), EVENT_TYPES[t], float(v), int(sec), self.cycle)
            for i, s, u, t, v, sec in zip(ids, sols, users, types, values, secs)
        ]

    def next_batch(self, scheduled: list[dict], fresh: bool = True) -> list[tuple]:
        """Return what to publish this cycle: the held versions of the
        grains the feedback loop scheduled, then this cycle's fresh
        versions except those of a seeded share of their grains, which
        are held back. A fresh version supersedes a backfilled one."""
        out: dict[int, tuple] = {}
        for g in {(t["user_id"], t["sol"]) for t in scheduled}:
            for i in self.held.pop(g, []):
                rec = self.latest[i]
                if (rec[2], rec[1]) == g and self.published.get(i, ())[:6] != rec[:6]:
                    out[i] = rec
        if not fresh:
            return list(out.values())
        n = ID_DOMAIN if self.cycle == 0 else PER_CYCLE
        new = self._records(self.rng.choice(ID_DOMAIN, n, replace=False))
        grains = sorted({(rec[2], rec[1]) for rec in new})
        k = int(round(WITHHOLD * len(grains)))
        withheld = {grains[i] for i in self.rng.choice(len(grains), k, replace=False)}
        for rec in new:
            self.latest[rec[0]] = rec
            g = (rec[2], rec[1])
            if g in withheld:
                self.held.setdefault(g, []).append(rec[0])
            else:
                out[rec[0]] = rec
        return list(out.values())

    def manifest(self, path: str) -> None:
        """Write the expected grains (those of every latest version)."""
        grains = sorted({(rec[2], rec[1]) for rec in self.latest.values()})
        pq.write_table(
            pa.table({"user_id": [g[0] for g in grains], "sol": [g[1] for g in grains]}),
            path,
        )

    def publish(self, batch: list[tuple]) -> None:
        """Write the batch as JSON envelopes, each made visible by rename."""
        stamp = (BASE_INGEST + dt.timedelta(seconds=self.cycle)).strftime("%Y-%m-%dT%H:%M:%S")
        for j in range(0, len(batch), ENVELOPE_ROWS):
            chunk = batch[j : j + ENVELOPE_ROWS]
            name = f"envelopes_{self.cycle:05d}_{j // ENVELOPE_ROWS:04d}.json"
            events = [
                {
                    "event_id": i,
                    "ts": (BASE_DAY + dt.timedelta(days=s, seconds=sec)).strftime("%Y-%m-%d %H:%M:%S"),
                    "user_id": u,
                    "event_type": t,
                    "value": v,
                }
                for i, s, u, t, v, sec, _ in chunk
            ]
            body = json.dumps(
                {"filename": name, "event_count": len(chunk), "ingestion_date": stamp, "events": events}
            ) + "\n"
            tmp = os.path.join(self.bronze, f".{name}.tmp")
            with open(tmp, "w") as f:
                f.write(body)
            os.rename(tmp, os.path.join(self.bronze, name))
            self.bronze_bytes += len(body)
        for rec in batch:  # stamped with the cycle that published it
            self.published[rec[0]] = rec[:6] + (self.cycle,)
        self.cycle += 1


def _dir_parquet(table: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(table):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                out[p] = os.path.getsize(p)
    return out


class IngestLoop:
    def __init__(self, ctx: Ctx, log):
        self.ctx, self.log = ctx, log
        base = os.path.join(ctx.work, "ingest")
        self.silver = os.path.join(base, "silver")
        self.gold = os.path.join(base, "gold")
        self.ckpt = os.path.join(base, "checkpoint")
        self.manifest_path = os.path.join(base, "manifest.parquet")
        self.gen = EnvelopeGenerator(ctx.seed, os.path.join(base, "bronze"))
        self.scheduled: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.seen_files: dict[str, int] = {}
        self.n_cycles = 0
        self.traced = False

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.log(f"FAIL {what}")

    def _silver_grains(self):
        from martian_moments_spark import lakehouse
        from pyspark.sql import functions as F

        s = lakehouse.read_table(self.spark, self.silver)
        return s.select("user_id", F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("sol"))

    def _group(self, name: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)

    def cycle(self, fresh: bool = True) -> dict:
        """One closed-loop cycle; returns its step timings."""
        from martian_moments_spark import lakehouse
        from martian_moments_spark.pipelines import feedback
        from martian_moments_spark.pipelines.medallion import (
            ENVELOPE_SCHEMA, build_gold_daily, flatten_envelopes,
        )
        from martian_moments_spark.streaming.sources import file_json_stream

        spark = self.spark
        batch = self.gen.next_batch(self.scheduled, fresh=fresh)
        self.gen.manifest(self.manifest_path)
        bronze_before = self.gen.bronze_bytes
        self.gen.publish(batch)
        idx = self.n_cycles
        self.n_cycles += 1
        self.attempted += 1
        tag = f"c{idx}:"
        lo_ms = time.time() * 1e3
        t0 = now()
        q = lakehouse.upsert_sink(
            flatten_envelopes(file_json_stream(spark, self.gen.bronze, ENVELOPE_SCHEMA)),
            self.silver, self.ckpt, ["event_id"], "ingestion_ts",
        )
        q.awaitTermination()
        t1 = now()
        if q.exception() is not None:
            self._fail(f"cycle {idx} stream: {q.exception()}")
        self._group(tag + "gold")
        lakehouse.overwrite(build_gold_daily(lakehouse.read_table(spark, self.silver)), self.gold)
        t2 = now()
        self._group(tag + "feedback")
        expected = spark.read.parquet(self.manifest_path)
        gaps = feedback.detect_gaps(expected, self._silver_grains(), GRAIN).collect()
        env = feedback.schedule_envelope([r.asDict() for r in gaps], "sol")
        self.scheduled = env["ingestion_schedule"]["tasks"]
        t3 = now()
        compact_s = None
        if fresh and (idx + 1) % COMPACT_EVERY == 0:
            self._group(tag + "compact")
            lakehouse.compact(spark, self.silver)
            lakehouse.vacuum(self.silver, keep_versions=1, retention_seconds=0)
            lakehouse.vacuum(self.gold, keep_versions=1, retention_seconds=0)
            compact_s = now() - t3
        t4 = now()
        self._group(tag + "idle")
        files = _dir_parquet(self.silver)
        written = sum(sz for p, sz in files.items() if p not in self.seen_files)
        self.seen_files = files
        live = [os.path.getsize(p) for p in lakehouse.snapshot_files(self.silver)]
        return {
            "wall": t4 - t0,
            "rows": len(batch),
            "drain": t1 - t0,
            "gold": t2 - t1,
            "detect": t3 - t2,
            "compact": compact_s,
            "bronze_bytes": self.gen.bronze_bytes - bronze_before,
            "silver_written": written,
            "space_amp": sum(files.values()) / sum(live),
            "live_files": len(live),
            "gaps": len(gaps),
            "stream": tracing.progress_durations(q),
            "groups": {str(q.runId): "drain", tag + "gold": "gold",
                       tag + "feedback": "feedback", tag + "compact": "compact"},
            "lo_ms": lo_ms,
            "hi_ms": lo_ms + (t4 - t0) * 1e3,
        }

    def measure(self, seconds: float) -> list[dict]:
        """Whole compaction periods of cycles until ``seconds`` have passed."""
        steps = []
        m0 = now()
        while len(steps) < COMPACT_EVERY or now() - m0 < seconds or self.n_cycles % COMPACT_EVERY:
            steps.append(self.cycle())
            self.log(f"cycle {steps[-1]['wall']:.2f}s")
        return steps

    def drain_gaps(self, rounds: int = 6) -> int:
        """Publish only backfills until detect_gaps finds nothing, then
        count every open gap without the scheduling cap."""
        for _ in range(rounds):
            if not self.scheduled:
                break
            self.cycle(fresh=False)
        expected = self.spark.read.parquet(self.manifest_path)
        return expected.join(self._silver_grains(), GRAIN, "left_anti").count()

    def check_tables(self) -> list[str]:
        """Silver and gold against the generator's record of what it landed."""
        from martian_moments_spark import lakehouse
        from pyspark.sql import functions as F

        problems = []
        silver = lakehouse.read_table(self.spark, self.silver)
        got = {
            (r[0], r[1], r[2], r[3], r[4])
            for r in silver.select(
                "event_id", "user_id", "event_type", "value",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            ).collect()
        }
        want = {
            (i, u, t, v, (BASE_DAY + dt.timedelta(days=s, seconds=sec)).strftime("%Y-%m-%d %H:%M:%S"))
            for i, s, u, t, v, sec, _ in self.gen.published.values()
        }
        if got != want:
            problems.append(f"silver: {len(got ^ want)} rows differ ({len(got)} vs {len(want)})")
        daily: dict[str, list] = {}
        for i, s, u, t, v, sec, c in self.gen.published.values():
            day = (BASE_DAY + dt.timedelta(days=s)).strftime("%Y-%m-%d")
            d = daily.setdefault(day, [0, 0, 0, set(), -1])
            d[0] += 1
            d[1] += t == "error"
            d[2] += t == "purchase"
            d[3].add(u)
            d[4] = max(d[4], c)
        want_gold = {
            (day, d[0], d[1], d[2], len(d[3]),
             (BASE_INGEST + dt.timedelta(seconds=d[4])).strftime("%Y-%m-%d %H:%M:%S"))
            for day, d in daily.items()
        }
        gold = lakehouse.read_table(self.spark, self.gold)
        got_gold = {
            tuple(r)
            for r in gold.select(
                F.date_format("activity_date", "yyyy-MM-dd"), "total_events", "error_events",
                "purchase_events", "active_users",
                F.date_format("latest_ingestion", "yyyy-MM-dd HH:mm:ss"),
            ).collect()
        }
        if got_gold != want_gold:
            problems.append(f"gold: {len(got_gold ^ want_gold)} rows differ")
        return problems


def run(ctx: Ctx, log) -> dict:
    """One run of ``ingest_loop``; returns metrics and counts."""
    loop = IngestLoop(ctx, log)
    t0 = now()
    loop.spark = start_spark(ctx, "perfbench-ingest_loop")
    start_s = now() - t0
    for _ in range(1 + WARMUP_CYCLES):  # the initial bulk load, then warm cycles
        loop.cycle()
    settle_s = settle_jvm(loop.spark)
    setup_s = now() - t0
    log(f"session started in {start_s:.2f}s, set-up {setup_s:.2f}s, settle {settle_s:.2f}s")
    out = {"setup_s": setup_s, "start_s": start_s, "warmup_s": setup_s - start_s}
    # a traced run splits its time between untraced and traced cycles
    steps = loop.measure(ctx.seconds / 2 if ctx.trace else ctx.seconds)
    out["steps"] = steps
    if ctx.trace:
        stop_spark(loop.spark, shutdown_jvm=False)
        log_dir = os.path.join(ctx.work, "eventlog")
        loop.spark = start_spark(ctx, "perfbench-ingest_loop-traced", event_log_dir=log_dir)
        loop.traced = True
        traced_steps = loop.measure(ctx.seconds / 2)
    gaps_open = loop.drain_gaps()
    problems = loop.check_tables()
    loop.attempted += 1
    if gaps_open:
        problems.append(f"{gaps_open} gaps still open")
    for p in problems:
        loop._fail(p)
    stop_spark(loop.spark, shutdown_jvm=True)
    if ctx.trace:
        table = tracing.parse_event_log(log_dir)
        out["layers"] = layers(ctx, table, traced_steps, steps, gaps_open)
    out.update(attempted=loop.attempted, failed=loop.failed)
    return out


def layers(ctx: Ctx, table, traced: list[dict], untraced: list[dict], gaps_open: int) -> dict:
    """Per-cycle medians of the traced cycles' step, stream and stage figures."""
    per_cycle = []
    worst_err = 0.0
    for s in traced:
        stages = [st for st in table.executed() if len(st.groups) == 1 and next(iter(st.groups)) in s["groups"]]
        tot = tracing.exec_totals(stages)
        wall_ms = s["hi_ms"] - s["lo_ms"]
        tot["driver_gap_s"] = max(wall_ms - tracing.covered_ms(stages, s["lo_ms"], s["hi_ms"]), 0.0) / 1e3
        tot["core_util"] = tot["task_run_s"] / (s["wall"] * ctx.cpus)
        steps = s["drain"] + s["gold"] + s["detect"] + (s["compact"] or 0.0)
        worst_err = max(worst_err, abs(steps - s["wall"]) / s["wall"])
        # Spark's own trigger breakdown must account for the trigger time
        trigger = s["stream"].get("triggerExecution", 0.0)
        parts = sum(v for k, v in s["stream"].items() if k != "triggerExecution")
        if trigger:
            worst_err = max(worst_err, abs(parts - trigger) / trigger)
        per_cycle.append(tot)

    def med(key):
        return median([c[key] for c in per_cycle])

    def stream(*keys):
        return median([sum(s["stream"].get(k, 0.0) for k in keys) for s in traced])

    compacts = [s["compact"] for s in traced if s["compact"] is not None]
    p50_traced = median([s["wall"] for s in traced])
    p50_untraced = median([s["wall"] for s in untraced])
    return {
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.driver_gap_s": med("driver_gap_s"),
        "exec.task_run_s": med("task_run_s"),
        "exec.task_cpu_s": med("task_cpu_s"),
        "exec.gc_s": med("gc_s"),
        "exec.core_util": med("core_util"),
        "shuffle.write_bytes": med("shuffle_write"),
        "shuffle.read_bytes": med("shuffle_read"),
        "spill.bytes": med("spill"),
        "stream.latest_offset_s": stream("latestOffset"),
        "stream.add_batch_s": stream("addBatch"),
        "stream.commit_s": stream("walCommit", "commitOffsets"),
        "gold.rollup_s": median([s["gold"] for s in traced]),
        "feedback.detect_s": median([s["detect"] for s in traced]),
        "feedback.gaps_open": float(gaps_open),
        "lakehouse.compact_s": median(compacts),
        "lakehouse.live_files": median([float(s["live_files"]) for s in traced]),
        "lakehouse.write_amp": sum(s["silver_written"] for s in traced)
        / sum(s["bronze_bytes"] for s in traced),
        "lakehouse.space_amp": median([s["space_amp"] for s in traced]),
        "trace.overhead_s": p50_traced - p50_untraced,
        "trace.overhead_frac": (p50_traced - p50_untraced) / p50_untraced,
        "trace.phase_sum_err": worst_err,
        "trace.unattributed_stages": float(len(table.unattributed())),
    }
