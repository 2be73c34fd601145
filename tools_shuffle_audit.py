#!/usr/bin/env python
"""Shuffle-intensity audit: MEASURED bytes-shuffled-per-input-byte per
query family (VERDICT r10 Next-round #8 — the 100 TB sizing note's
empirical basis).

For one representative headline query per family, runs the plan once
through the bench hash-sink on a UI-enabled session and reads the
stage-level execution metrics back from Spark's own REST API
(http://localhost:<ui-port>/api/v1): input bytes actually scanned
(post column-pruning), shuffle write bytes, shuffle read bytes, spill
bytes, and output rows. The ratio shuffle_write / input is the number
that sizes a cluster: it says how many bytes per scanned byte must
cross the network at ANY scale, because both numerator and denominator
grow linearly for the linear-verdict plans in SCALE.md.

Usage:
    python tools_shuffle_audit.py            # writes SHUFFLE_AUDIT.md
    python tools_shuffle_audit.py --sf-dir /root/testdata/sf0.1

Methodology notes:
- Metrics come from /api/v1/applications/<id>/stages?status=complete,
  diffed around each query, so concurrent stages from other work would
  contaminate them — run this on a quiet machine.
- AQE re-uses exchanges within a plan; re-used reads are real traffic
  a cluster would see (they hit the shuffle service), so shuffle READ
  can exceed shuffle WRITE. The sizing ratio uses WRITE (unique bytes
  that must be replicated/stored by the shuffle service).
- The hash-sink adds one final single-row aggregation (~KB); it is
  noise at these sizes and identical across families.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import consume  # noqa: E402
from martian_moments_spark.plans import load_all  # noqa: E402
from martian_moments_spark.session import get_spark  # noqa: E402

# One representative per family; chosen to be the family's bench
# headline (so SCALE.md / BENCH history already pin its wall time).
FAMILIES: list[tuple[str, str]] = [
    ("relational agg/join", "daily_activity"),
    ("relational reconcile", "validation_gaps"),
    ("TPC-H analytics", "tpch_q18_large_volume_customers"),
    ("ordered top-k", "shipping_priority_topk"),
    ("exact dedup", "dedup_exact"),
    ("fuzzy dedup (MinHash/LSH)", "fuzzy_dedup_pipeline"),
    ("edit-distance (FastSS canopy)", "edit_distance_topk"),
    ("span dedup (Lee et al.)", "cross_doc_ngram_spans"),
    ("text quality / LM", "lm_perplexity_filter"),
    ("text stats / BM25", "bm25_probe_ranking"),
    ("embedding ANN (IVF)", "embedding_ann_ivf"),
    ("embedding near-dup (SRP)", "embedding_srp_neardup"),
    ("curation composition", "curation_to_training_mix"),
    ("incremental merge", "incremental_dedup_index"),
    ("streaming window agg", "tumbling_window_agg"),
    ("multimodal decode", "multimodal_jpeg_decode"),
]


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def _stage_totals_once(base: str, app_id: str) -> dict[str, int]:
    totals = {
        "input_bytes": 0,
        "shuffle_write": 0,
        "shuffle_read": 0,
        "spill_bytes": 0,
    }
    for st in _rest(base, f"/api/v1/applications/{app_id}/stages?status=COMPLETE"):
        totals["input_bytes"] += st.get("inputBytes", 0)
        totals["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        totals["shuffle_read"] += st.get("shuffleReadBytes", 0)
        totals["spill_bytes"] += st.get("diskBytesSpilled", 0)
    return totals


def _stage_totals(base: str, app_id: str) -> dict[str, int]:
    """Poll until two consecutive reads agree: the AppStatusListener
    records stage completion ASYNCHRONOUSLY after collect() returns,
    so a single immediate read can miss the last stages of the job
    just finished (first audit run under-counted text-column scans
    this way — the missing bytes then cancelled out of the NEXT
    query's before/after diff, silently deflating inputs)."""
    prev = _stage_totals_once(base, app_id)
    for _ in range(40):
        time.sleep(0.5)
        cur = _stage_totals_once(base, app_id)
        if cur == prev:
            return cur
        prev = cur
    return prev


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024
    return f"{n:.1f} TB"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for i, a in enumerate(sys.argv):
        if a == "--sf-dir":
            sf_dir = sys.argv[i + 1]

    spark = get_spark(
        app_name="mm-spark-shuffle-audit",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4090"},
    )
    app_id = spark.sparkContext.applicationId
    base = "http://localhost:4090"
    registry = load_all()

    rows = []
    for family, qname in FAMILIES:
        spec = registry[qname]
        consume(spec.fn(spark, sf_dir))  # warm: fills footer/broadcast caches
        before = _stage_totals(base, app_id)
        t0 = time.perf_counter()
        consume(spec.fn(spark, sf_dir))
        wall = time.perf_counter() - t0
        after = _stage_totals(base, app_id)
        d = {k: after[k] - before[k] for k in after}
        ratio = d["shuffle_write"] / d["input_bytes"] if d["input_bytes"] else 0.0
        rows.append((family, qname, d, ratio, wall))
        print(
            f"{qname:34s} input={_fmt_bytes(d['input_bytes']):>10s} "
            f"shW={_fmt_bytes(d['shuffle_write']):>10s} "
            f"shR={_fmt_bytes(d['shuffle_read']):>10s} "
            f"spill={_fmt_bytes(d['spill_bytes']):>8s} ratio={ratio:.3f}",
            flush=True,
        )

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SHUFFLE_AUDIT.md")
    with open(out, "w") as f:
        f.write(
            "# SHUFFLE AUDIT — measured bytes-shuffled-per-input-byte\n\n"
            "Generated by `python tools_shuffle_audit.py` at "
            f"`{sf_dir}` (warm second pass per query; stage metrics\n"
            "diffed from Spark's REST API, so input bytes reflect the\n"
            "ACTUAL post-pruning parquet scan). The shuffle-write/input\n"
            "ratio is scale-invariant for the SCALE.md-linear plans: it\n"
            "is the per-byte network cost a cluster must provision.\n\n"
            "| family | query | input | shuffle write | shuffle read |"
            " spill | shW/input |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for family, qname, d, ratio, wall in rows:
            f.write(
                f"| {family} | `{qname}` | {_fmt_bytes(d['input_bytes'])} "
                f"| {_fmt_bytes(d['shuffle_write'])} "
                f"| {_fmt_bytes(d['shuffle_read'])} "
                f"| {_fmt_bytes(d['spill_bytes'])} | {ratio:.3f} |\n"
            )
        f.write(
            "\nSpill column should be zero at this scale; a non-zero "
            "entry means a partition outgrew executor memory and the "
            "query needs its shuffle partition count raised before a "
            "scale-up.\n"
        )
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
