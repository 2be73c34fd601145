#!/usr/bin/env python
"""Streaming throughput smoke: the engine's Structured Streaming shapes
under a saturating rate source on local[32].

Batch-mode semantics of these operators are oracle-checked in
plans.queries_streaming; tests/test_streaming.py proves correctness on
small files. This tool is the missing third leg — sustained THROUGHPUT
and bounded STATE, measured from the engine's own progress metrics
(processedRowsPerSecond, stateOperators.numRowsTotal), not asserted.

Shapes (each ~20 s against a 2M rows/s rate source):
- tumbling: watermarked 5-minute windows over 20 event types
- session_window: watermarked session merge per user key
- dedup: dropDuplicates within the watermark
- stateful_sessionize: applyInPandasWithState with event-time timeout
  (the custom-operator path; Arrow-batched, state = 1 row/active key) —
  measured at 200k rows/s offered, its own regime: the per-group pandas
  seam is deliberately the slow path, quantified here

Run: python tools_stream_smoke.py   (~2 min; writes STREAM_SCALE.md)
"""
from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")
from martian_moments_spark.session import get_spark  # noqa: E402
from martian_moments_spark.streaming.stateful import streaming_sessionize  # noqa: E402
from martian_moments_spark.streaming.windows import (  # noqa: E402
    dedup_within_watermark,
    watermarked_interval_join,
    watermarked_session_agg,
    watermarked_tumbling_agg,
)

RATE = 2_000_000  # rows/sec offered; observed throughput is the capacity
RUN_SECONDS = 20
N_KEYS = 100_000  # user key domain (bounds stateful state)


def rate_events(spark, rate=RATE, n_keys=N_KEYS):
    """Rate source shaped like the events table: event-time spread over
    the trailing hour so windows/sessions exercise real state, nothing
    falls behind the 2-hour watermark. event_id repeats on a 1M domain
    so dedup holds bounded state AND does real duplicate elimination."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", 16)
        .load()
        .select(
            (F.col("timestamp") - (F.col("value") % 3600).cast("int").cast("interval second")).alias("ts"),
            F.concat(F.lit("type"), (F.col("value") % 20).cast("string")).alias("event_type"),
            (F.col("value") % n_keys).alias("user_id"),
            (F.col("value") % 997).cast("double").alias("value"),
            (F.col("value") % 1_000_000).alias("event_id"),
        )
    )


def measure(name, df, out, mode="update", run_seconds=RUN_SECONDS, trigger=None):
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    writer = (
        df.writeStream.outputMode(mode)
        .format("noop")
        .option("checkpointLocation", ckpt)
        .queryName(name)
    )
    if trigger is not None:
        writer = writer.trigger(processingTime=trigger)
    q = writer.start()
    try:
        time.sleep(run_seconds)
        prog = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # steady state: drop the first batch (cold) and empty batches
    rates = [
        p["processedRowsPerSecond"]
        for p in prog[1:]
        if p.get("numInputRows", 0) > 0
    ]
    state = [
        op.get("numRowsTotal", 0)
        for p in prog
        for op in p.get("stateOperators", [])
    ]
    out[name] = {
        "rows_per_sec": round(sum(rates) / max(len(rates), 1)),
        "batches": len(rates),
        "max_state_rows": max(state) if state else 0,
    }
    print(json.dumps({name: out[name]}), flush=True)




# ---------------------------------------------------------------- disorder

DISORDER_MARK = "## Watermark correctness under disorder (interval join)"
# heading of the stateful_sessionize A/B record kept at the end of
# STREAM_SCALE.md (its tool is in git history at commit ba0d9f5)
AB_MARK = "## stateful_sessionize optimization A/B (r08)"


def disorder_smoke(spark) -> dict:
    """Generated-load watermark-correctness smoke for
    watermarked_interval_join — the one streaming op whose
    bounded-state claim had no generated-load test (VERDICT r06 Next
    #4). Three sequential availableNow runs against one checkpoint
    give three-plus triggers with a persisted watermark between them:

      run 1 (phase A): 100k left / 100k right on-time pairs at T0 —
        all match, watermark advances to maxA - 1h.
      run 2 (phase B): same shape at T0+5h — watermark advances ~4h
        past A, expiring all phase-A join state.
      run 3 (phase C): 50k fresh on-time pairs at T0+5h20m PLUS 50k
        LATE rights aimed at phase-A lefts (ts inside A's horizon,
        hours below the checkpointed watermark). In batch mode the
        late rights match; the stream must drop them on input.

    The declared contract is checked exactly: stream emissions ==
    batch-mode join minus precisely the late set, verified per-row
    (phase tag carried through the join), not just by count.
    """
    import os

    base = tempfile.mkdtemp(prefix="mm_disorder_")
    ldir, rdir, out, ck = (os.path.join(base, d) for d in ("l", "r", "out", "ck"))
    N = 100_000
    T0 = 1_709_287_200  # 2024-03-01 10:00:00 UTC
    T1 = T0 + 5 * 3600
    WITHIN, WATERMARK = "30 minutes", "1 hour"

    def pairs(n, key0, t_base, tag):
        """n (left, right) rows; right lands (v%1500)s (< 25 min,
        inside the 30-min horizon) after its left."""
        lv = spark.range(n).select(
            (F.col("id") + key0).alias("user_id"),
            F.timestamp_seconds(F.lit(t_base) + F.col("id") % 600).alias("ts"),
            F.lit(tag).alias("phase"),
        )
        rv = spark.range(n).select(
            (F.col("id") + key0).alias("user_id"),
            F.timestamp_seconds(
                F.lit(t_base) + F.col("id") % 600 + F.col("id") % 1500
            ).alias("ts"),
            F.lit(tag).alias("phase"),
        )
        return lv, rv

    la, ra = pairs(N, 0, T0, "A")
    lb, rb = pairs(N, N, T1, "B")
    lc, rc = pairs(N // 2, 2 * N, T1 + 1200, "C_fresh")
    # late rights: re-aim at phase-A lefts, 60 s after each left's ts —
    # a guaranteed batch-mode match, hours below the run-3 watermark
    r_late = spark.range(N // 2).select(
        F.col("id").alias("user_id"),
        F.timestamp_seconds(F.lit(T0) + F.col("id") % 600 + 60).alias("ts"),
        F.lit("C_late").alias("phase"),
    )

    phases = [(la, ra), (lb, rb), (lc, rc.unionByName(r_late))]

    def run_once():
        left = spark.readStream.schema("user_id LONG, ts TIMESTAMP, phase STRING").parquet(ldir)
        right = spark.readStream.schema("user_id LONG, ts TIMESTAMP, phase STRING").parquet(rdir)
        joined = watermarked_interval_join(
            left, right, key_cols=("user_id",),
            watermark=WATERMARK, within=WITHIN,
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("l_ts"),
            F.col("r.ts").alias("r_ts"),
            F.col("r.phase").alias("r_phase"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # an availableNow run that outlives the wait must not leave a
        # live query behind — the next run_once() would start a second
        # query on the same checkpoint and fail confusingly
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "disorder smoke: availableNow run exceeded 300 s; stopped"
            )
        return [json.loads(p.json) for p in q.recentProgress]

    t_start = time.time()
    progress, in_rows = [], 0
    for lphase, rphase in phases:
        lphase.write.mode("append").parquet(ldir)
        rphase.write.mode("append").parquet(rdir)
        progress += run_once()
    wall = time.time() - t_start
    in_rows = sum(p.get("numInputRows", 0) for p in progress)
    state = [
        op.get("numRowsTotal", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    ]

    emitted = spark.read.parquet(out)
    by_phase = {
        r["r_phase"]: r["n"]
        for r in emitted.groupBy("r_phase").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # batch-mode reference on the SAME data: what an unbounded engine
    # would emit; the contract says stream == batch minus the late set
    lall = spark.read.parquet(ldir).alias("l")
    rall = spark.read.parquet(rdir).alias("r")
    batch = lall.join(
        rall,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {WITHIN}")),
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("l_ts"),
        F.col("r.ts").alias("r_ts"),
        F.col("r.phase").alias("r_phase"),
    )
    batch_n = batch.count()
    batch_minus_late = batch.filter(F.col("r_phase") != "C_late")
    # exact per-row contract check, both directions
    missing = batch_minus_late.exceptAll(emitted).count()
    extra = emitted.exceptAll(batch_minus_late).count()

    res = {
        "emitted": {k: by_phase.get(k, 0) for k in ("A", "B", "C_fresh", "C_late")},
        "emitted_total": sum(by_phase.values()),
        "batch_reference": batch_n,
        "dropped_late": batch_n - sum(by_phase.values()),
        "contract_missing_rows": missing,
        "contract_extra_rows": extra,
        "max_state_rows": max(state) if state else 0,
        "input_rows_per_sec": round(in_rows / wall) if wall > 0 else 0,
    }
    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"disorder": res}), flush=True)
    return res


def disorder_section(res: dict) -> str:
    em = res["emitted"]
    ok = (
        res["contract_missing_rows"] == 0
        and res["contract_extra_rows"] == 0
        and em["C_late"] == 0
    )
    verdict = "MATCHES" if ok else "VIOLATES"
    return (
        f"\n{DISORDER_MARK}\n\n"
        "Generated-load disorder smoke (`python tools_stream_smoke.py\n"
        "--disorder`): 250k attribution pairs across three availableNow\n"
        "runs of one checkpointed `watermarked_interval_join` query\n"
        "(watermark 1h, horizon 30m), the third run mixing 50k fresh\n"
        "pairs with 50k LATE right-side events aimed at expired phase-A\n"
        "lefts — batch-mode matches the stream must refuse.\n\n"
        "| phase | emitted |\n|---|---|\n"
        f"| A (on-time, run 1) | {em['A']:,} |\n"
        f"| B (on-time, run 2) | {em['B']:,} |\n"
        f"| C fresh (run 3) | {em['C_fresh']:,} |\n"
        f"| C late (run 3, below watermark) | {em['C_late']:,} |\n\n"
        f"Batch-mode reference join: {res['batch_reference']:,} rows; stream\n"
        f"emitted {res['emitted_total']:,}; dropped-late {res['dropped_late']:,}\n"
        f"(= the planted late set). Exact per-row check: stream output vs\n"
        f"batch-minus-late — {res['contract_missing_rows']} missing,\n"
        f"{res['contract_extra_rows']} extra. **{verdict} the declared\n"
        "watermark contract.** Max join state across all runs:\n"
        f"{res['max_state_rows']:,} rows — the in-horizon buffered sides\n"
        "of at most two concurrent phases, not the 550k cumulative\n"
        "input: expired phase-A state left the store once the run-2\n"
        "watermark passed its horizon.\n"
        f"Throughput: {res['input_rows_per_sec']:,} input rows/s end-to-end\n"
        "(file-source micro-batches incl. planning + sink commit).\n"
    )


def main() -> None:
    try:
        with open("STREAM_SCALE.md") as f:
            prior_doc = f.read()
    except FileNotFoundError:
        prior_doc = ""
    spark = get_spark(app_name="mm-stream-smoke")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    out: dict[str, dict] = {}

    ev = rate_events(spark)
    measure("tumbling", watermarked_tumbling_agg(ev, window="5 minutes"), out)
    measure(
        "session_window",
        watermarked_session_agg(ev, gap="10 minutes"),
        out,
        mode="append",
    )
    measure(
        "dedup",
        dedup_within_watermark(ev, id_cols=("event_id",), watermark="2 hours"),
        out,
        mode="append",
    )
    # the Arrow-batched custom stateful operator runs at its own offered
    # rate: per-group pandas overhead caps it well below the built-in
    # operators, which is exactly the seam-vs-builtin gap worth recording
    ev_slow = rate_events(spark, rate=200_000, n_keys=10_000)
    # measured at the RECOMMENDED operating point (stateful.py
    # SESSIONIZE_TRIGGER = 5 s — the r08 A/B's +1.5x lever), so the
    # recorded number is what a user following the docstring gets.
    from martian_moments_spark.streaming.stateful import SESSIONIZE_TRIGGER

    measure(
        "stateful_sessionize",
        streaming_sessionize(ev_slow.select("user_id", "ts"), gap_minutes=10),
        out,
        mode="append",
        run_seconds=40,
        trigger=SESSIONIZE_TRIGGER,
    )
    # the SAME business question (user sessions, 10-minute gap) asked
    # of the built-in session_window operator, at the same offered rate
    # and key domain — the apples-to-apples row for the guidance below
    measure(
        "session_window_same_q",
        watermarked_session_agg(
            rate_events(spark, rate=200_000, n_keys=10_000), gap="10 minutes"
        ),
        out,
        mode="append",
        run_seconds=40,
        trigger=SESSIONIZE_TRIGGER,  # same trigger: apples-to-apples
    )

    with open("STREAM_SCALE.md", "w") as f:
        f.write(
            "# STREAM_SCALE — Structured Streaming throughput smoke\n\n"
            "Generated by `python tools_stream_smoke.py`: each shape runs\n"
            f"~{RUN_SECONDS}s against a {RATE:,} rows/s rate source on\n"
            "local[32]; `rows/s` is the mean steady-state\n"
            "processedRowsPerSecond from the engine's own progress metrics\n"
            "(first batch dropped), `state rows` the max stateOperators\n"
            "numRowsTotal — the bounded-state evidence: state tracks the\n"
            "key/window domain, not the row count.\n\n"
            "| shape | rows/s | steady batches | max state rows |\n"
            "|---|---|---|---|\n"
        )
        for name, m in out.items():
            f.write(
                f"| `{name}` | {m['rows_per_sec']:,} | {m['batches']} "
                f"| {m['max_state_rows']:,} |\n"
            )
        ss = out.get("stateful_sessionize", {}).get("rows_per_sec", 0)
        sw_same = out.get("session_window_same_q", {}).get("rows_per_sec", 0)
        sw_cap = out.get("session_window", {}).get("rows_per_sec", 0)
        r_same = round(sw_same / ss, 1) if ss else float("nan")
        r_cap = round(sw_cap / ss, 1) if ss else float("nan")
        f.write(
            "\nBoth sessionize rows run at the RECOMMENDED 5 s\n"
            "processingTime trigger (stateful.SESSIONIZE_TRIGGER — the\n"
            "r08 A/B's measured +1.5x lever over ASAP), so the numbers\n"
            "above are the default operating point the docstring sends\n"
            "users to, not the worst-case dispatch-bound one.\n"
        )
        f.write(
            "\n## When the built-in session_window suffices\n\n"
            "`stateful_sessionize` and `session_window_same_q` ask the\n"
            "SAME business question — user sessions with a 10-minute\n"
            "inactivity gap — at the same offered rate (200k rows/s)\n"
            "and key domain (10k users). In that overhead-dominated\n"
            "small-batch regime the JVM-state built-in processes\n"
            f"{sw_same:,} rows/s vs {ss:,} ({r_same}x). The regime that\n"
            "matters for sizing is SATURATION: the built-in sustains\n"
            f"{sw_cap:,} rows/s (the `session_window` row, 2M offered)\n"
            f"against the Python-state operator's ~{ss:,} ceiling — a\n"
            f"{r_cap}x capacity gap that is the inherent price of\n"
            "arbitrary Python state (per-group Arrow batch transfer +\n"
            "pandas dispatch), not of this implementation. Reach for\n"
            "`streaming_sessionize` only when the per-session logic\n"
            "cannot be expressed as an aggregation over\n"
            "`F.session_window` — emit-once-on-close payloads with\n"
            "custom shapes, mid-session decision rules, state machines\n"
            "over event sequences. If the output is per-session\n"
            "aggregates (counts, sums, bounds), `watermarked_session_agg`\n"
            "answers it at built-in speed — at 100 TB that capacity gap\n"
            "is the difference between a small streaming job and one\n"
            f"{r_cap}x its executor count.\n"
        )
    res = disorder_smoke(spark)
    with open("STREAM_SCALE.md", "a") as f:
        f.write(disorder_section(res))
    # carry the sessionize A/B record through the full-table rewrite
    # instead of clobbering it
    cut = prior_doc.find(AB_MARK)
    if cut != -1:
        with open("STREAM_SCALE.md", "a") as f:
            f.write("\n" + prior_doc[cut:].rstrip() + "\n")
    print(json.dumps({"stream_smoke": out}))
    spark.stop()


def main_disorder_only() -> None:
    """Refresh just the disorder section of STREAM_SCALE.md (the
    throughput table keeps its prior numbers)."""
    spark = get_spark(app_name="mm-stream-disorder")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    res = disorder_smoke(spark)
    with open("STREAM_SCALE.md") as f:
        doc = f.read()
    # section order is [table] [disorder] [A/B]: cutting at the
    # disorder mark also drops a trailing A/B record — keep it aside
    # and re-append after the fresh disorder section
    tail = ""
    ab_at = doc.find(AB_MARK)
    if ab_at != -1:
        tail = "\n" + doc[ab_at:].rstrip() + "\n"
    cut = doc.find(DISORDER_MARK)
    if cut != -1:
        doc = doc[: doc.rfind("\n", 0, cut)]
    elif tail:
        doc = doc[: doc.find(AB_MARK)].rstrip() + "\n"
    with open("STREAM_SCALE.md", "w") as f:
        f.write(doc + disorder_section(res) + tail)
    spark.stop()


if __name__ == "__main__":
    if "--disorder" in sys.argv:
        main_disorder_only()
    else:
        main()
