#!/usr/bin/env python
"""Physical-plan audit over the ENTIRE registry — the automated form
of the per-query scale review: build every registered query's plan at
sf0.001, scan the formatted explain output for anti-patterns, and
write PLAN_AUDIT.md (summary table + flag list).

Checks per query:
- CartesianProduct            -> hard flag (nothing in the engine may plan one)
- BroadcastNestedLoopJoin     -> reported; acceptable ONLY for the
                                 1-row broadcast-scalar crossJoin pattern
                                 (count tracked so growth is visible)
- Exchange hashpartitioning   -> shuffle count (the scale currency)
- Window                      -> window-operator count
- WholeStageCodegen           -> present = expression eval stays JVM-compiled
- ArrowEvalPython/MapInPandas/
  FlatMapGroupsInPandas       -> Python boundary count (Arrow seams; must be
                                 deliberate, never row-at-a-time BatchEvalPython)
- BatchEvalPython             -> hard flag (row-at-a-time Python UDF)

Run: python tools_plan_audit.py   (~3-4 min; prints one JSON summary line)

``python tools_plan_audit.py --collects`` instead lists every
driver-side ``.collect()``, ``.toPandas()``, ``.first()`` and ``.take()``
under ``martian_moments_spark/plans/`` and ``llmops/`` (an AST walk, no
Spark), one ``file:line  function  .method()`` line each. The reviewed
list is ``DRIVER_COLLECTS.txt``; ``tests/test_plan_audit.py`` fails on
any call not on it, so a new driver collect is reviewed before it
lands. Refresh it after review with
``python tools_plan_audit.py --collects > DRIVER_COLLECTS.txt``.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

sys.path.insert(0, ".")

from martian_moments_spark.plans import load_all  # noqa: E402
from martian_moments_spark.session import get_spark  # noqa: E402
from tests.test_plans import explain_str  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

PYTHON_SEAMS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# ---------------------------------------------------------------------------
# BNLJ build-side bound audit
#
# A BroadcastNestedLoopJoin is acceptable ONLY when its broadcast side
# is provably bounded — the engine's scalar-subquery / literal-grid
# pattern (watermarks, corpus stats, threshold grids). "Provably
# bounded" is a plan-shape fact: every root-to-leaf path inside the
# build subtree must pass through a GLOBAL aggregate ("Keys: []" in the
# node details => exactly 1 output row) or terminate at a literal leaf
# (LocalTableScan / Range / OneRowRelation). Joins of bounded sides,
# unions of bounded sides, and Generates over bounded input stay
# bounded; a parquet scan with no global agg above it does not.
# ---------------------------------------------------------------------------

_TREE_PREFIX = " :+-|"
# LocalTableScan/Range/OneRowRelation are literal plans; Scan
# ExistingRDD is a driver-created local collection (createDataFrame of
# an in-memory list — bounded by construction, it already fit on the
# driver)
_LITERAL_LEAVES = (
    "LocalTableScan",
    "Range",
    "Scan OneRowRelation",
    "Scan ExistingRDD",
)
_GLOBAL_AGG = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
# global-limit operators cap output at a plan-literal row count
_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")

# Broadcast sides that are bounded by a DATA property the plan cannot
# prove (keyed aggregate over a low-cardinality dimension). Every entry
# must state the bound; anything not provable and not listed here is a
# hard flag — a new unbounded BNLJ cannot slip through silently.
BNLJ_ALLOW: dict[str, str] = {
    "ks_source_length_test": (
        "broadcast side is the per-source totals — a keyed aggregate on "
        "the source dimension (|sources| rows, ≤ dozens); the KS "
        "source×grid matrix is inherent to evaluating both ECDFs at "
        "every jump point"
    ),
}

# Queries allowed to funnel RAW rows through a single-partition stage.
# Same contract as BNLJ_ALLOW: every entry states why. Currently empty:
# every global window/sort in the registry (including the W1 idiom
# global_row_number) runs over a keyed aggregate or bounded metadata,
# never raw rows. Note exact_substring_spans audits clean WITHOUT an
# entry: its prefix-doubling loop runs behind eager localCheckpoints,
# so the heavy in-loop windows never appear in the final audited plan,
# and the remaining in-shard stages are bounded by the corpus-scaled
# shard cap (~200 docs / ~15k suffixes at any corpus size — see the
# query's docstring; the two-phase range rank of
# global_rank_range_partitioned is the named lift if the shard target
# is ever raised past one task).
SP_ALLOW: dict[str, str] = {}


ROOT = os.path.dirname(os.path.abspath(__file__))
COLLECT_ROOTS = ("martian_moments_spark/plans", "martian_moments_spark/llmops")
COLLECT_METHODS = ("collect", "toPandas", "first", "take")
REVIEWED_COLLECTS = os.path.join(ROOT, "DRIVER_COLLECTS.txt")


def driver_collects() -> list[str]:
    """``file:line  function  .method()`` for every call of a
    ``COLLECT_METHODS`` attribute under ``COLLECT_ROOTS``, in file and
    line order; ``function`` is the dotted enclosing def/class path."""
    out = []

    def visit(node, path: str, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in COLLECT_METHODS
            ):
                out.append((path, child.lineno, scope or "<module>", child.func.attr))
            visit(child, path, inner)

    for root in COLLECT_ROOTS:
        for f in sorted(glob.glob(os.path.join(ROOT, root, "**", "*.py"), recursive=True)):
            with open(f) as fh:
                visit(ast.parse(fh.read(), f), os.path.relpath(f, ROOT), "")
    return [f"{p}:{line}  {fn}  .{m}()" for p, line, fn, m in sorted(out)]


def parse_plan_nodes(plan: str):
    """Parse formatted-explain output into (tree, details).

    tree: list of {id, name, depth, children:[ids]} in render order;
    details: {id: detail-block text} from the per-node sections.
    """
    lines = plan.splitlines()
    # tree section: from the first node line to the first blank line
    nodes: list[dict] = []
    for ln in lines:
        m = re.search(r"\((\d+)\)\s*$", ln)
        if not m or "== Physical Plan ==" in ln:
            if nodes and not ln.strip():
                break
            continue
        pad = len(ln) - len(ln.lstrip(_TREE_PREFIX))
        nodes.append(
            {
                "id": int(m.group(1)),
                "name": ln[pad : m.start()].strip(),
                "depth": pad // 3,
                "children": [],
            }
        )
    # children: next nodes one level deeper until depth falls back
    for i, n in enumerate(nodes):
        for m_ in nodes[i + 1 :]:
            if m_["depth"] <= n["depth"]:
                break
            if m_["depth"] == n["depth"] + 1:
                n["children"].append(m_["id"])
    details: dict[int, str] = {}
    cur = None
    for ln in lines:
        m = re.match(r"^\((\d+)\) ", ln)
        if m:
            cur = int(m.group(1))
            details[cur] = ln
        elif cur is not None and ln.strip():
            details[cur] += "\n" + ln
        elif not ln.strip():
            cur = None
    return nodes, details


def _bounded(node_id: int, by_id: dict, details: dict, seen: frozenset = frozenset()):
    """Return a witness string if the subtree at node_id is provably
    bounded, else None."""
    if node_id in seen:  # defensive: reuse cycles
        return None
    node = by_id[node_id]
    name, det = node["name"], details.get(node_id, "")
    if name.startswith(_LITERAL_LEAVES):
        return f"literal leaf {name} ({node_id})"
    if name.startswith("ReusedExchange"):
        m = re.search(r"Reuses operator id: (\d+)", det) or re.search(
            r"\[Reuses operator id: (\d+)\]", name
        )
        if m and int(m.group(1)) in by_id:
            return _bounded(int(m.group(1)), by_id, details, seen | {node_id})
        return None
    if name.startswith(_GLOBAL_AGG) and "Keys: []" in det:
        return f"global aggregate ({node_id})"
    if name.startswith(_LIMIT_NODES):
        return f"global limit {name.split()[0]} ({node_id})"
    if not node["children"]:
        return None  # unbounded leaf (parquet scan, stream source, ...)
    witnesses = []
    for c in node["children"]:
        w = _bounded(c, by_id, details, seen | {node_id})
        if w is None:
            return None
        witnesses.append(w)
    return "; ".join(witnesses)


def _reduced(node_id: int, by_id: dict, details: dict, seen: frozenset = frozenset()):
    """Like _bounded, but also accepts ANY keyed aggregate: output
    cardinality is then the key domain, not the input row count. Used
    to classify single-partition stages — a global window over a keyed
    aggregate is 'reduced' (reviewer judges the key domain, reported in
    the witness), over raw rows it is a scale bug."""
    if node_id in seen:
        return None
    w = _bounded(node_id, by_id, details, seen)
    if w is not None:
        return w
    node = by_id[node_id]
    name, det = node["name"], details.get(node_id, "")
    if name.startswith(_GLOBAL_AGG):
        keys = re.search(r"Keys \[\d+\]: \[([^\]]*)\]", det)
        return f"keyed aggregate on [{keys.group(1) if keys else '?'}] ({node_id})"
    if not node["children"]:
        return None
    parts = []
    for c in node["children"]:
        pw = _reduced(c, by_id, details, seen | {node_id})
        if pw is None:
            return None
        parts.append(pw)
    return "; ".join(parts)


def single_partition_audit(plan: str) -> list[dict]:
    """Every Exchange SinglePartition funnels the stage through ONE
    task — the W1 global-window/sort idiom. Acceptable only when the
    funneled input is metadata-scale: bounded (global agg / literal /
    limit) or at least reduced to an engineered key domain (bucket,
    grid, source, ...). A single-partition stage over RAW rows is a
    scale bug and a hard flag."""
    nodes, details = parse_plan_nodes(plan)
    by_id = {n["id"]: n for n in nodes}
    parent = {}
    for n in nodes:
        for c in n["children"]:
            parent[c] = n
    out = []
    for n in nodes:
        if not n["name"].startswith("Exchange"):
            continue
        if "Arguments: SinglePartition" not in details.get(n["id"], ""):
            continue
        consumer = parent.get(n["id"])
        child = n["children"][0] if n["children"] else None
        w = _reduced(child, by_id, details) if child is not None else None
        out.append(
            {
                "node": n["id"],
                "consumer": consumer["name"].split()[0] if consumer else "?",
                "reduced": w is not None,
                "witness": w or "RAW rows — unbounded single-task stage",
            }
        )
    return out


def bnlj_bound_audit(plan: str) -> list[dict]:
    """For every BroadcastNestedLoopJoin in the plan, return
    {node, build_side, bounded, witness}. Build side defaults to the
    streamed/right child per the BuildLeft/BuildRight tag in the node
    name."""
    nodes, details = parse_plan_nodes(plan)
    by_id = {n["id"]: n for n in nodes}
    out = []
    for n in nodes:
        if not n["name"].startswith("BroadcastNestedLoopJoin"):
            continue
        side = "left" if "BuildLeft" in n["name"] else "right"
        kids = n["children"]
        build = kids[0] if side == "left" else (kids[1] if len(kids) > 1 else None)
        w = _bounded(build, by_id, details) if build is not None else None
        out.append(
            {
                "node": n["id"],
                "build_side": side,
                "bounded": w is not None,
                "witness": w or "UNBOUNDED build side",
            }
        )
    return out


def audit_one(plan: str) -> dict:
    bnlj = bnlj_bound_audit(plan)
    sp = single_partition_audit(plan)
    return {
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "bnlj_audit": bnlj,
        "bnlj_unbounded": sum(1 for b in bnlj if not b["bounded"]),
        "sp_audit": sp,
        "sp_raw": sum(1 for s in sp if not s["reduced"]),
        # formatted mode: node line is "(n) Exchange", the partitioning
        # sits on its "Arguments:" line
        "exchanges": len(re.findall(r"Arguments: hashpartitioning", plan)),
        "range_exchanges": len(re.findall(r"Arguments: rangepartitioning", plan)),
        "windows": len(re.findall(r"\(\d+\) Window", plan)),
        # formatted mode tags compiled operators "[codegen id : N]" —
        # but an AdaptiveSparkPlan defers codegen annotation to
        # runtime, so AQE presence is reported as its own state
        "codegen": "codegen id" in plan,
        "aqe": "AdaptiveSparkPlan" in plan,
        "python_seams": sum(plan.count(s) for s in PYTHON_SEAMS),
        "row_udf": plan.count("BatchEvalPython"),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
    }


def main() -> None:
    registry = load_all()
    spark = get_spark(app_name="mm-plan-audit")
    rows: dict[str, dict] = {}
    failed: dict[str, str] = {}
    for name, spec in sorted(registry.items()):
        try:
            rows[name] = audit_one(explain_str(spec.fn(spark, SF_DIR)))
        except Exception as e:  # noqa: BLE001 - audit must cover the rest
            failed[name] = f"{type(e).__name__}: {e}"

    flags = []
    for name, m in rows.items():
        if m["cartesian"]:
            flags.append(f"{name}: plans {m['cartesian']} CartesianProduct")
        if m["row_udf"]:
            flags.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        for b in m["bnlj_audit"]:
            if not b["bounded"] and name not in BNLJ_ALLOW:
                flags.append(
                    f"{name}: BroadcastNestedLoopJoin node {b['node']} has an "
                    "UNBOUNDED broadcast side (no global aggregate / literal "
                    "leaf on some path, and not allowlisted)"
                )
        for s in m["sp_audit"]:
            if not s["reduced"] and name not in SP_ALLOW:
                flags.append(
                    f"{name}: single-partition Exchange node {s['node']} "
                    f"feeds {s['consumer']} with RAW rows (not allowlisted)"
                )
    for name, err in failed.items():
        flags.append(f"{name}: audit failed — {err}")

    with open("PLAN_AUDIT.md", "w") as f:
        f.write(
            "# PLAN_AUDIT — physical plans of every registered query\n\n"
            "Generated by `python tools_plan_audit.py` (sf0.001 plans; "
            "shuffle/window counts are plan-shape facts, not timings).\n"
            "`seams` = deliberate Arrow/pandas boundaries "
            "(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas); "
            "row-at-a-time BatchEvalPython is a hard flag and appears "
            "only in the Flags section. `exec`: aqe = AdaptiveSparkPlan "
            "(codegen ids assigned at runtime), wsc = whole-stage codegen "
            "visible in the static plan.\n\n"
            f"## Flags ({len(flags)})\n\n"
        )
        if flags:
            for fl in flags:
                f.write(f"- **{fl}**\n")
        else:
            f.write(
                "None. No CartesianProduct and no row-at-a-time Python "
                "UDF anywhere in the registry.\n"
            )
        bnlj_rows = [
            (name, b)
            for name, m in sorted(rows.items())
            for b in m["bnlj_audit"]
        ]
        f.write(
            f"\n## BNLJ bound audit ({len(bnlj_rows)} joins)\n\n"
            "Every BroadcastNestedLoopJoin must have a provably bounded "
            "broadcast side: each root-to-leaf path of the build subtree "
            "passes a global aggregate (`Keys: []` => 1 row) or ends at a "
            "literal leaf. Unbounded sides are hard flags above.\n\n"
        )
        if bnlj_rows:
            f.write("| query | node | build | bound witness |\n|---|---|---|---|\n")
            for name, b in bnlj_rows:
                if b["bounded"]:
                    cell = f"✅ {b['witness']}"
                elif name in BNLJ_ALLOW:
                    cell = f"⚠️ allowlisted: {BNLJ_ALLOW[name]}"
                else:
                    cell = f"❌ {b['witness']}"
                f.write(
                    f"| `{name}` | {b['node']} | {b['build_side']} | {cell} |\n"
                )
        else:
            f.write("No BroadcastNestedLoopJoin anywhere in the registry.\n")
        sp_rows = [
            (name, s) for name, m in sorted(rows.items()) for s in m["sp_audit"]
        ]
        f.write(
            f"\n## Single-partition stage audit ({len(sp_rows)} stages)\n\n"
            "Every `Exchange SinglePartition` funnels its stage through one "
            "task (the global-window/sort idiom). Acceptable only when the "
            "funneled input is metadata-scale — bounded, or reduced by a "
            "keyed aggregate to an engineered key domain (bucket id, length "
            "grid, source, decile). RAW-row funnels are hard flags unless "
            "allowlisted.\n\n"
        )
        if sp_rows:
            f.write("| query | node | feeds | input |\n|---|---|---|---|\n")
            for name, s in sp_rows:
                if s["reduced"]:
                    cell = f"✅ {s['witness']}"
                elif name in SP_ALLOW:
                    cell = f"⚠️ allowlisted: {SP_ALLOW[name]}"
                else:
                    cell = f"❌ {s['witness']}"
                f.write(f"| `{name}` | {s['node']} | {s['consumer']} | {cell} |\n")
        else:
            f.write("No single-partition exchange anywhere in the registry.\n")

        # Skew advisory: the engine's own shuffle-key profiles and the
        # strategy operators/skew.py would pick, recomputed on current
        # data (VERDICT r03 next-round #8).
        try:
            rep = registry["skew_advisor_report"].fn(spark, SF_DIR).collect()
            f.write(
                "\n## Skew advisory (skew_advisor_report @ sf0.001)\n\n"
                "Shuffle-key profiles of the engine's core join grains and "
                "the operators/skew.py strategy each one gets (salt / "
                "broadcast_dim_side / hash_shuffle):\n\n"
                "| join key | rows | keys | max key rows | max share | advice |\n"
                "|---|---|---|---|---|---|\n"
            )
            for r in rep:
                f.write(
                    f"| `{r.join_key}` | {r.n_rows} | {r.n_keys} "
                    f"| {r.max_key_rows} | {r.max_key_share:.4f} | {r.advice} |\n"
                )
        except Exception as e:  # noqa: BLE001 - advisory only
            f.write(f"\n## Skew advisory\n\nunavailable: {e}\n")

        f.write(
            "\n## Per-query plan shape\n\n"
            "| query | shuffles | windows | SMJ | BHJ | BNLJ | seams | exec |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for name, m in sorted(rows.items()):
            f.write(
                f"| `{name}` | {m['exchanges']} | {m['windows']} | {m['smj']} "
                f"| {m['bhj']} | {m['bnlj']} | {m['python_seams']} "
                f"| {'aqe' if m['aqe'] else ('wsc' if m['codegen'] else '—')} |\n"
            )

    n_cart = sum(m["cartesian"] for m in rows.values())
    n_udf = sum(m["row_udf"] for m in rows.values())
    print(
        json.dumps(
            {
                "queries_audited": len(rows),
                "failed": len(failed),
                "cartesian_products": n_cart,
                "row_at_a_time_udfs": n_udf,
                "bnlj_total": sum(m["bnlj"] for m in rows.values()),
                "bnlj_unbounded": sum(m["bnlj_unbounded"] for m in rows.values()),
                "single_partition_raw": sum(m["sp_raw"] for m in rows.values()),
                "avg_shuffles": round(
                    sum(m["exchanges"] for m in rows.values()) / max(len(rows), 1), 2
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:] == ["--collects"]:
        print("\n".join(driver_collects()))
    else:
        main()
