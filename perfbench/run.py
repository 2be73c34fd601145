#!/usr/bin/env python3
"""Benchmark of martian_moments_spark, run from the root of a checkout:

    python3 perfbench/run.py --workload headline_relational --seed 1 --seconds 20 --trace 0

Workloads: headline_relational, ingest_loop (see perfbench/README.md). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs untraced and then traced with a Spark event log and
prints the per-layer metrics, including the tracing overhead. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the generated input tables are kept there between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("headline_relational", "ingest_loop")

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    from headline import RELATIONAL

    return [
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("plans.build_s", "s"),
        *[(f"q.{name}_s", "s") for name in RELATIONAL],
        ("catalyst.optimize_s", "s"),
        ("catalyst.plan_s", "s"),
        ("exec.jobs", "count"),
        ("exec.stages", "count"),
        ("exec.tasks", "count"),
        ("exec.driver_gap_s", "s"),
        ("exec.task_run_s", "s"),
        ("exec.task_cpu_s", "s"),
        ("exec.gc_s", "s"),
        ("exec.core_util", "ratio"),
        ("shuffle.write_bytes", "bytes"),
        ("shuffle.read_bytes", "bytes"),
        ("spill.bytes", "bytes"),
        ("stream.latest_offset_s", "s"),
        ("stream.add_batch_s", "s"),
        ("stream.commit_s", "s"),
        ("gold.rollup_s", "s"),
        ("feedback.detect_s", "s"),
        ("feedback.gaps_open", "count"),
        ("lakehouse.compact_s", "s"),
        ("lakehouse.live_files", "count"),
        ("lakehouse.write_amp", "ratio"),
        ("lakehouse.space_amp", "ratio"),
        ("trace.overhead_s", "s"),
        ("trace.overhead_frac", "ratio"),
        ("trace.phase_sum_err", "ratio"),
        ("trace.unattributed_stages", "count"),
    ]


def _prepare_env(root: str, work: str) -> None:
    """Keep Spark's scratch space, temp files and workers inside the
    checkout, and let the Python workers import the engine."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived JVM that spark-submit runs to build the driver's
    # command line writes nothing outside the checkout either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    from common import DRIVER_MEMORY

    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path.insert(0, root)


def end_to_end(res: dict, workload: str) -> tuple[dict, dict]:
    """End-to-end metric values and the facts the record line carries."""
    from common import median, percentile, tail_percentile

    if workload == "ingest_loop":
        from ingest import COMPACT_EVERY

        steps = res["steps"]
        lat = [s["wall"] for s in steps]
        periods = [
            sum(lat[i : i + COMPACT_EVERY]) for i in range(0, len(lat), COMPACT_EVERY)
        ]
        rows_per_s = sum(s["rows"] for s in steps) / sum(lat)
        samples = {"cycles": len(lat), "periods": len(periods)}
    else:
        lat = res["latencies"]
        periods = res["passes"]
        rows_per_s = res["input_rows"] / median(periods)
        samples = {"queries": len(lat), "passes": len(periods)}
    p = tail_percentile(len(lat))
    values = {
        "setup_s": res["setup_s"],
        "pass_s": median(periods),
        "op_p50_s": median(lat),
        "op_tail_s": percentile(lat, p),
        "rows_per_s": rows_per_s,
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
    }
    return values, {"tail_percentile": p, "samples": samples}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "martian_moments_spark", "session.py")) or not (
        os.path.isfile(os.path.join(root, "tests", "oracle_utils.py"))
    ):
        print(
            "perfbench: run from the root of a martian_moments_spark checkout "
            "(martian_moments_spark/ and tests/oracle_utils.py are missing here)",
            file=sys.stderr,
        )
        return 2

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    _prepare_env(root, work)

    import datagen
    import headline
    import ingest
    from common import Ctx, RssSampler, source_fingerprint

    ctx = Ctx(root=root, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace))

    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    try:
        with RssSampler() as rss:
            if args.workload == "ingest_loop":
                res = ingest.run(ctx, log)
            else:
                sf_dir = datagen.ensure_dataset(os.path.join(base, "data"), datagen.SF)
                res = headline.run(ctx, sf_dir, log)
        res["peak_rss_bytes"] = rss.peak_bytes
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    attempted, failed = res["attempted"], res["failed"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": ctx.cpus,
        "commit": source_fingerprint(root),
        "spark": pyspark.__version__,
        "sf": datagen.SF,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    if args.trace:
        layers = res["layers"]
        if layers["trace.phase_sum_err"] > 0.05:
            log(f"FAIL phase table off its wall time by {layers['trace.phase_sum_err']:.1%}")
            failed += 1
        if layers["trace.unattributed_stages"]:
            log(f"FAIL {layers['trace.unattributed_stages']:.0f} stages not attributed to one step")
            failed += 1
        attempted += 2
        layers["session.start_s"] = res["start_s"]
        layers["session.warmup_s"] = res["warmup_s"]
        metrics = {
            name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in per_layer_metrics()
        }
    else:
        values, facts = end_to_end(res, args.workload)
        record.update(facts)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}

    width = max(len(n) for n in metrics)
    for name, m in metrics.items():
        print(f"{name:<{width}}  {m['value']:>16.6g}  {m['unit']}")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
