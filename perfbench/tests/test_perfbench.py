"""Tests of the benchmark itself (not of the engine). Run from the root
of the checkout:

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark JVM each and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import tracing  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_run_prints():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()


def _run(tmp_path, *args) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


@pytest.mark.parametrize(
    "workload,trace",
    [("headline_relational", 0), ("ingest_loop", 0), ("ingest_loop", 1), ("headline_relational", 1)],
)
def test_smoke_prints_every_metric_with_its_unit(tmp_path, workload, trace):
    result, stdout = _run(
        tmp_path, "--workload", workload, "--seed", "3", "--seconds", "0.1",
        "--trace", str(trace),
    )
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = run.per_layer_metrics() if trace else list(run.END_TO_END)
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == names
    for name, unit in names:
        assert f"{name} " in stdout and stdout.count(unit) >= 1
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    record = json.loads(stdout.strip().splitlines()[-2])["record"]
    assert {"seed", "cpus", "commit", "spark", "sf"} <= set(record)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "ingest_loop",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, check=False,
    )
    assert out.returncode != 0 and '"correct"' not in out.stdout


def test_rss_peak_ignores_a_single_sample_spike(monkeypatch):
    """A vfork child that has not exec'd yet reports the JVM's memory as
    its own for one sample; the peak must not count it."""
    from common import RssSampler

    totals = iter([100, 110, 2600, 120, 115])
    s = RssSampler()
    monkeypatch.setattr(s, "_tree", lambda: [1])
    monkeypatch.setattr(s, "_rss", lambda pid: next(totals))
    for _ in range(5):
        s.sample()
    assert s.peak_bytes == 120


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def test_event_log_stage_attribution_from_a_written_log(tmp_path):
    def task(stage, run_ms):
        return _event(
            "SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 50},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}})

    def job(jid, stages, group):
        return _event("SparkListenerJobStart", **{
            "Job ID": jid, "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}})

    def done(stage, lo, hi):
        return _event("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": stage, "Submission Time": lo, "Completion Time": hi}})

    (tmp_path / "app-1").write_text(
        job(0, [0, 1], "q.a") + task(0, 30) + done(0, 1000, 1040) + task(1, 20) + done(1, 1050, 1070)
        # job 1 lists stage 1 again (skipped, reused) and runs stage 2
        + job(1, [1, 2], "q.a") + task(2, 5) + done(2, 1100, 1110)
        + job(2, [3], "q.b") + task(3, 7) + task(3, 9) + done(3, 2000, 2030)
        # a stage listed by jobs of two groups is not attributable
        + job(3, [4], "q.a") + job(4, [4], "q.b") + task(4, 1) + done(4, 3000, 3001)
    )
    table = tracing.parse_event_log(str(tmp_path))
    assert [s.stage_id for s in table.for_group("q.a")] == [0, 1, 2]
    assert [s.stage_id for s in table.for_group("q.b")] == [3]
    assert table.unattributed() == [4]
    b = tracing.exec_totals(table.for_group("q.b"))
    assert b["tasks"] == 2 and b["jobs"] == 1 and b["task_run_s"] == pytest.approx(0.016)
    assert b["shuffle_write"] == 200 and b["shuffle_read"] == 100
    # stage intervals 1000-1040 and 1050-1070 cover 60 ms of 1000-1100
    assert tracing.covered_ms(table.for_group("q.a"), 1000, 1100) == pytest.approx(60)


def test_two_queries_in_a_spark_event_log_are_attributed_to_their_groups(tmp_path):
    """Two registry queries under their own job groups: every executed
    stage of the log belongs to exactly one of them."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")])
    import datagen
    from common import Ctx, sink_frame, start_spark, stop_spark
    from martian_moments_spark.plans import load_all

    sf_dir = datagen.ensure_dataset(str(tmp_path / "data"))
    ctx = Ctx(root=ROOT, work=str(tmp_path / "work"), seed=0, seconds=1, trace=True)
    log_dir = str(tmp_path / "eventlog")
    spark = start_spark(ctx, "perfbench-test", event_log_dir=log_dir)
    registry = load_all()
    try:
        for name in ("pricing_summary", "gap_detection_anti_join"):
            spark.sparkContext.setJobGroup(name, name)
            sink_frame(registry[name].fn(spark, sf_dir)).collect()
    finally:
        stop_spark(spark, shutdown_jvm=True)
    table = tracing.parse_event_log(log_dir)
    a, b = table.for_group("pricing_summary"), table.for_group("gap_detection_anti_join")
    assert a and b
    assert table.unattributed() == []
    assert {s.stage_id for s in a}.isdisjoint({s.stage_id for s in b})
    assert len(a) + len(b) == len(table.executed())
