"""Tests for the round-12 optimizations: each rewrite must produce
results identical to the form it replaced (the optimization contract —
speed changes, answers never), and the plan and probe memos must never
serve a stale answer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tests.conftest import SF_DIR_SMALL


# ---------------------------------------------------------------- #
# _topk_stable: argpartition selection == stable-argsort prefix     #
# ---------------------------------------------------------------- #


def _reference(neg, kk1):
    return np.argsort(neg, axis=1, kind="stable")[:, :kk1]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_topk_stable_matches_stable_argsort(seed):
    from martian_moments_spark.llmops.similarity import _topk_stable

    rng = np.random.default_rng(seed)
    # heavy ties: values drawn from a tiny set, so the k-th boundary is
    # almost always tied — the case argpartition alone gets wrong
    neg = rng.choice([-1.0, -0.5, -0.5, 0.0, 0.25], size=(37, 53))
    # adversarial cells: -inf self-marks, NaN zero-norm columns
    neg[rng.random(neg.shape) < 0.05] = -np.inf
    neg[rng.random(neg.shape) < 0.05] = np.nan
    for kk1 in (1, 3, 7, 52, 53, 60):
        got = _topk_stable(neg.copy(), kk1)
        want = _reference(neg, kk1)
        assert got.shape == want.shape
        np.testing.assert_array_equal(got, want, err_msg=f"kk1={kk1}")


def test_topk_stable_all_nan_and_all_equal_rows():
    from martian_moments_spark.llmops.similarity import _topk_stable

    neg = np.full((3, 9), np.nan)
    neg[1, :] = 0.5  # all-equal row: ties everywhere
    neg[2, :4] = -np.inf  # fewer non-NaN than kk1
    neg[2, 4:] = np.nan
    for kk1 in (2, 6, 9):
        np.testing.assert_array_equal(
            _topk_stable(neg.copy(), kk1), _reference(neg, kk1)
        )


# ---------------------------------------------------------------- #
# deletion-neighborhood candidates: recall on edge-case strings      #
# ---------------------------------------------------------------- #


def test_deletion_candidates_recall(spark):
    """Every true <=2-edit pair inside a block is nominated; nothing
    pairs across blocks; null blocks and null texts are dropped."""
    from martian_moments_spark.llmops.dedup import deletion_neighborhood_candidates

    rows = [
        (1, 1, "hello world"),
        (1, 2, "hallo world"),  # ed 1 of 1
        (1, 3, "hello worl"),  # ed 1 of 1
        (1, 4, "completely different"),
        (1, 5, "hello world"),  # exact dup of 1
        (1, 6, ""),  # empty
        (1, 7, "a"),
        (1, 8, "ab"),
        (1, 9, "b"),
        (1, 10, "naïve café"),  # multi-byte chars
        (1, 11, "naive café"),  # ed 1 of 10
        (1, 12, "aaaaaa"),  # repeated chars: duplicate variants
        (1, 13, "aaaa"),  # ed 2 of 12
        (2, 14, "hello world"),  # other block: must NOT pair with 1
        (2, 15, "hello wörld"),
        (None, 16, "null block dropped"),
        (1, 17, None),  # null text dropped
    ]
    df = spark.createDataFrame(rows, "blk INT, id BIGINT, name STRING")
    out = deletion_neighborhood_candidates(
        df, block_col="blk", id_col="id", text_col="name", k=2
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    for must in [(1, 2), (1, 3), (1, 5), (2, 3), (2, 5), (3, 5), (7, 8),
                 (7, 9), (8, 9), (6, 7), (6, 9), (6, 8), (10, 11), (12, 13)]:
        assert must in got, f"missing true pair {must}"
    assert not any(a == 14 or b == 14 for a, b in got if (a, b) != (14, 15)), (
        "cross-block pair leaked"
    )
    assert not any(16 in p or 17 in p for p in got), "null row paired"


# weighted_median_per_group's two-phase range-bucketed draft was
# MEASURED-REJECTED (0.79x/0.86x both arm orders, 0.84x with phase-1
# checkpointed — tools_r12_ab.py `wm` at commit ba0d9f5) and reverted
# to the attested single-window form; the equivalence tests that pinned
# the draft left with it. The rejection rationale lives in the query
# docstring.


# ---------------------------------------------------------------- #
# connected_components: two-hop fused rounds == single-hop loop      #
# ---------------------------------------------------------------- #


@pytest.mark.parametrize("seed", [0, 7])
def test_cc_two_hop_matches_single_hop(spark, seed):
    """The fused two-hop rounds must reach the identical fixpoint as
    the single-hop instrumented loop (min reachable id per vertex),
    including on long paths (worst-case diameter) and isolated
    vertices."""
    import random

    from martian_moments_spark.llmops.dedup import connected_components

    rng = random.Random(seed)
    n = 60
    edges = []
    # a long path (diameter stress), a dense clique, random noise
    for i in range(20):
        edges.append((i, i + 1))
    for i in range(30, 36):
        for j in range(i + 1, 36):
            edges.append((i, j))
    for _ in range(25):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.append((min(a, b), max(a, b)))
    vdf = spark.createDataFrame([(i,) for i in range(n)], "doc_id BIGINT")
    edf = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")

    def run(**kw):
        out = connected_components(vdf, edf, **kw).collect()
        return sorted((r["doc_id"], r["component_id"]) for r in out)

    fused = run()
    single = run(frontier_sizes=[])
    assert fused == single
    # and both equal the brute-force transitive closure
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted((i, find(i)) for i in range(n))
    assert fused == want


# ---------------------------------------------------------------- #
# parallelize.spread / narrow and the dataset fingerprint            #
# ---------------------------------------------------------------- #


def test_spread_targets_and_identity(spark, monkeypatch):
    from martian_moments_spark.operators import parallelize as P

    para = spark.sparkContext.defaultParallelism
    if para < 2:
        pytest.skip("needs a session with >= 2 cores")
    one = spark.range(0, 1000, numPartitions=1)
    # uncapped: the session's parallelism
    assert P.spread(one, "id").rdd.getNumPartitions() == para
    # capped: a tiny input collapses to the floor min(8, para)
    assert P.spread(one, "id", byte_cap=True).rdd.getNumPartitions() == min(8, para)
    # capped above the floor: one slot per _BYTES_PER_SLOT of estimate
    est = P._est_bytes(one)
    monkeypatch.setattr(P, "_MIN_SLOTS", 1)
    monkeypatch.setattr(P, "_BYTES_PER_SLOT", -(-est // 2))
    assert P.spread(one, "id", byte_cap=True).rdd.getNumPartitions() == 2
    # identity when the input already has >= target partitions
    monkeypatch.setattr(P, "_BYTES_PER_SLOT", est)
    assert P.spread(one, "id", byte_cap=True) is one
    wide = spark.range(0, 1000, numPartitions=para)
    assert P.spread(wide, "id") is wide
    assert P.narrow(wide) is False
    assert P.narrow(one) is True


def test_spread_one_memo_entry_per_key(spark):
    """spread (both targets) and narrow share one probe and one memo
    entry per (dataset, projection), always an (nparts, est_bytes)
    tuple; a memo hit is served without probing again."""
    from martian_moments_spark.catalog import load
    from martian_moments_spark.operators import parallelize as P

    li = load(spark, SF_DIR_SMALL, "lineitem").select("l_orderkey")
    key = SF_DIR_SMALL + ":lineitem"
    P.reset_probe_memo()
    try:
        P.spread(li, "l_orderkey", memo_key=key)
        P.spread(li, "l_orderkey", memo_key=key, byte_cap=True)
        P.narrow(li, memo_key=key)
        assert len(P._PROBE_MEMO) == 1
        ((mkey, (nparts, est)),) = P._PROBE_MEMO.items()
        assert isinstance(nparts, int) and isinstance(est, int)
        # a poisoned entry is served as-is: no re-probe on a hit
        P._PROBE_MEMO[mkey] = (10**6, 0)
        assert P.narrow(li, memo_key=key) is False
        assert P.spread(li, "l_orderkey", memo_key=key) is li
    finally:
        P.reset_probe_memo()


def test_probe_memo_fingerprint_keys(spark):
    from martian_moments_spark.catalog import load
    from martian_moments_spark.operators import parallelize as P

    li = load(spark, SF_DIR_SMALL, "lineitem").select("l_orderkey")
    P.reset_probe_memo()
    try:
        P.spread(li, "l_orderkey", memo_key=SF_DIR_SMALL + ":lineitem", byte_cap=True)
        keys = list(P._PROBE_MEMO)
        assert len(keys) == 1
        memo_key, fp, _, cols = keys[0]
        assert memo_key == SF_DIR_SMALL + ":lineitem"
        assert fp is not None  # real table path -> mtime fingerprint
        assert cols == ("l_orderkey",)
    finally:
        P.reset_probe_memo()


def test_narrow_reprobes_rewritten_directory(spark, tmp_path):
    """A dataset rewritten with more files must not be served the
    stale one-file answer: the probe memo key carries the directory
    fingerprint, not the memo_key string alone."""
    from martian_moments_spark.operators import parallelize as P

    para = spark.sparkContext.defaultParallelism
    if para < 2:
        pytest.skip("needs a session with >= 2 cores")
    path = str(tmp_path / "t.parquet")
    key = f"{tmp_path}:t"
    try:
        spark.range(0, 100, numPartitions=1).write.parquet(path)
        assert P.narrow(spark.read.parquet(path), memo_key=key) is True
        spark.range(0, 100 * para, numPartitions=2 * para).write.mode(
            "overwrite"
        ).parquet(path)
        assert P.narrow(spark.read.parquet(path), memo_key=key) is False
    finally:
        P.reset_probe_memo()


def test_fingerprint_tracks_in_place_file_rewrite(spark, tmp_path):
    """Rewriting one file of a directory dataset in place invalidates
    both the catalog plan memo and the probe memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from martian_moments_spark.catalog import load
    from martian_moments_spark.operators import parallelize as P

    sf = str(tmp_path)
    d = tmp_path / "region.parquet"
    d.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"r": pa.array([i], pa.int64())}), d / f"part-{i}.parquet")
    key = f"{sf}:region"
    try:
        first = load(spark, sf, "region")
        P.narrow(first, memo_key=key)
        assert sorted(r.r for r in first.collect()) == [0, 1]
        pq.write_table(pa.table({"r": pa.array([7, 8], pa.int64())}), d / "part-0.parquet")
        second = load(spark, sf, "region")
        assert second is not first
        assert sorted(r.r for r in second.collect()) == [1, 7, 8]
        P.narrow(second, memo_key=key)
        fps = {k[1] for k in P._PROBE_MEMO if k[0] == key}
        assert len(fps) == 2
    finally:
        P.reset_probe_memo()


def test_load_memo_hit_resets_nanos_conf(spark, tmp_path):
    """load sets the nanos-as-long conf on memo hits too, so a
    memoized events plan executes after the conf was unset between
    loads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from martian_moments_spark.catalog import load

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ts = pa.array([1_700_000_000_123_456_000], pa.timestamp("ns", tz="UTC"))
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()), "ts": ts}),
        tmp_path / "events.parquet",
        version="2.6",
    )
    prior = spark.conf.get(conf, None)
    try:
        first = load(spark, str(tmp_path), "events")
        spark.conf.unset(conf)
        again = load(spark, str(tmp_path), "events")
        assert again is first
        assert spark.conf.get(conf) == "true"
        (row,) = again.select(F.unix_micros("ts").alias("us")).collect()
        assert row.us == 1_700_000_000_123_456
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)
