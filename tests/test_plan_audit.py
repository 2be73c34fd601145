"""Registry-wide plan-shape gate: the hard flags from
tools_plan_audit.py enforced in CI — NO query may plan a
CartesianProduct or a row-at-a-time Python UDF (BatchEvalPython).
Arrow seams (MapInPandas / FlatMapGroupsInPandas / ArrowEvalPython)
are the only Python boundaries allowed."""

from __future__ import annotations

import pytest

from martian_moments_spark.plans import load_all
from tests.conftest import SF_DIR_SMALL
from tests.test_plans import explain_str

REGISTRY = load_all()


@pytest.fixture(scope="module")
def all_plans(spark):
    return {
        name: explain_str(spec.fn(spark, SF_DIR_SMALL))
        for name, spec in sorted(REGISTRY.items())
    }


def test_no_cartesian_product_anywhere(all_plans):
    bad = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct planned by: {bad}"


def test_no_row_at_a_time_python_udf_anywhere(all_plans):
    bad = [n for n, p in all_plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF planned by: {bad}"


def test_every_bnlj_broadcast_side_is_bounded(all_plans):
    """A BroadcastNestedLoopJoin is only acceptable as the
    scalar-subquery / literal-grid pattern: its broadcast side must be
    provably bounded (every path through a global aggregate or a
    literal leaf). A crossJoin(broadcast(<table scan>)) would pass the
    cartesian gate but melt at scale — this closes that hole."""
    from tools_plan_audit import BNLJ_ALLOW, bnlj_bound_audit

    bad = [
        (name, b)
        for name, p in all_plans.items()
        for b in bnlj_bound_audit(p)
        if not b["bounded"] and name not in BNLJ_ALLOW
    ]
    assert not bad, f"unbounded BNLJ broadcast sides: {bad}"
    # the allowlist must stay current: every entry still plans a BNLJ
    stale = [n for n in BNLJ_ALLOW if n in all_plans and not bnlj_bound_audit(all_plans[n])]
    assert not stale, f"BNLJ_ALLOW entries with no BNLJ left: {stale}"


def test_no_raw_single_partition_stage_anywhere(all_plans):
    """An Exchange SinglePartition may only funnel metadata-scale
    input (bounded, or reduced by a keyed aggregate to an engineered
    domain like bucket/grid/source). RAW-row funnels — a global window
    or sort over an unreduced table — are the W1 scale ceiling and
    are banned outside the documented allowlist."""
    from tools_plan_audit import SP_ALLOW, single_partition_audit

    bad = [
        (name, s)
        for name, p in all_plans.items()
        for s in single_partition_audit(p)
        if not s["reduced"] and name not in SP_ALLOW
    ]
    assert not bad, f"RAW single-partition stages: {bad}"
    stale = [
        n
        for n in SP_ALLOW
        if n in all_plans
        and not [s for s in single_partition_audit(all_plans[n]) if not s["reduced"]]
    ]
    assert not stale, f"SP_ALLOW entries with no raw single-partition stage left: {stale}"


def test_single_partition_audit_rejects_raw_global_window(spark):
    """The gate must be falsifiable: a global row_number over a raw
    parquet scan is flagged RAW."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from tests.conftest import SF_DIR_SMALL
    from tools_plan_audit import single_partition_audit

    df = spark.read.parquet(f"{SF_DIR_SMALL}/orders.parquet")
    bad = df.withColumn("rn", F.row_number().over(W.orderBy("o_orderkey")))
    audits = single_partition_audit(explain_str(bad))
    assert audits and any(not a["reduced"] for a in audits)


def test_bnlj_bound_audit_rejects_table_scan_broadcast(spark):
    """The gate itself must be falsifiable: a broadcast crossJoin of a
    raw table scan is flagged unbounded."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR_SMALL
    from tools_plan_audit import bnlj_bound_audit

    df = spark.read.parquet(f"{SF_DIR_SMALL}/nation.parquet")
    bad = df.crossJoin(
        F.broadcast(spark.read.parquet(f"{SF_DIR_SMALL}/region.parquet"))
    )
    audits = bnlj_bound_audit(explain_str(bad))
    assert audits and not audits[0]["bounded"]


def test_driver_collects_match_the_reviewed_list():
    """Every driver-side .collect()/.toPandas()/.first()/.take() under
    plans/ and llmops/ is on the reviewed list DRIVER_COLLECTS.txt, and
    every entry there still exists: a new driver collect fails here
    until it is reviewed and the list regenerated with
    ``python tools_plan_audit.py --collects > DRIVER_COLLECTS.txt``.
    Line numbers may drift; file, enclosing function and method may
    not."""
    import re
    from collections import Counter

    from tools_plan_audit import REVIEWED_COLLECTS, driver_collects

    def calls(lines):
        return Counter(re.sub(r":\d+ ", " ", line) for line in lines if line.strip())

    with open(REVIEWED_COLLECTS) as f:
        reviewed = calls(f.read().splitlines())
    listed = calls(driver_collects())
    assert listed == reviewed, (
        f"unreviewed: {sorted((listed - reviewed).elements())}; "
        f"no longer present: {sorted((reviewed - listed).elements())}"
    )
