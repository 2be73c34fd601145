#!/usr/bin/env python
"""Interleaved A/B timing of registry queries between two checkouts.

    python tools_ab.py A_DIR B_DIR --sf DIR --pairs N QUERY...

Each arm run is a fresh ``python`` process started in that checkout, so
it gets a fresh JVM and imports that checkout's engine and
``bench.consume``. It warms each query once, then times one build +
``consume`` of it. The arms alternate which runs first, pair by pair.

Prints one JSON line per query: each arm's median and quartiles of the
timed runs, how many pairs B won, and whether every run of both arms
returned the same xxhash64/bit_xor scalar (``consume``'s result).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

# Runs inside the arm's checkout (cwd): argv = sf_dir, query names.
ARM = r"""
import json, sys, time
sys.path.insert(0, ".")
from bench import consume
from martian_moments_spark.plans import load_all
from martian_moments_spark.session import get_spark

sf_dir, names = sys.argv[1], sys.argv[2:]
registry = load_all()
spark = get_spark(app_name="mm-ab")
out = {}
for name in names:
    fn = registry[name].fn
    consume(fn(spark, sf_dir))
    t0 = time.perf_counter()
    h = consume(fn(spark, sf_dir))
    out[name] = [round(time.perf_counter() - t0, 4), h]
spark.stop()
print(json.dumps(out))
"""


def run_arm(checkout: str, sf_dir: str, queries: list[str]) -> dict[str, list]:
    res = subprocess.run(
        [sys.executable, "-c", ARM, sf_dir, *queries],
        cwd=checkout,
        capture_output=True,
        text=True,
    )
    if res.returncode != 0:
        sys.exit(f"arm {checkout} failed:\n{res.stderr[-4000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def spread(xs: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a_dir")
    ap.add_argument("b_dir")
    ap.add_argument("--sf", required=True, help="scale-factor directory")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    arms = {"a": os.path.abspath(args.a_dir), "b": os.path.abspath(args.b_dir)}
    sf_dir = os.path.abspath(args.sf)

    runs: dict[str, list[dict]] = {"a": [], "b": []}
    for i in range(args.pairs):
        for arm in ("a", "b") if i % 2 == 0 else ("b", "a"):
            runs[arm].append(run_arm(arms[arm], sf_dir, args.queries))

    for q in args.queries:
        t = {arm: [r[q][0] for r in runs[arm]] for arm in arms}
        hashes = {r[q][1] for arm in arms for r in runs[arm]}
        print(
            json.dumps(
                {
                    "query": q,
                    "a": spread(t["a"]),
                    "b": spread(t["b"]),
                    "b_wins": sum(b < a for a, b in zip(t["a"], t["b"])),
                    "pairs": args.pairs,
                    "same_hash": len(hashes) == 1,
                    "hash": runs["a"][0][q][1],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
