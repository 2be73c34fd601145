"""Commit-log table format: snapshot isolation, atomic commits,
crashed-writer invisibility, optimistic concurrency, vacuum."""

from __future__ import annotations

import os

import pytest

from martian_moments_spark import lakehouse as lh


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_append_commits_and_crashed_writer_is_invisible(spark, tmp_path):
    table = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
    b = spark.createDataFrame([(3, "c")], "k BIGINT, v STRING")

    assert lh.append(a, table) == 0
    assert lh.append(b, table) == 1
    assert _rows(lh.read_table(spark, table)) == {(1, "a"), (2, "b"), (3, "c")}

    # a writer that stages data but dies before commit: files exist on
    # disk, but no snapshot references them -> readers never see them
    crashed = spark.createDataFrame([(99, "GHOST")], "k BIGINT, v STRING")
    lh._stage_data(crashed, table)
    assert _rows(lh.read_table(spark, table)) == {(1, "a"), (2, "b"), (3, "c")}
    assert lh.current_version(table) == 1


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "old")], "k BIGINT, v STRING"), table)
    v0_files = lh.snapshot_files(table, 0)

    lh.overwrite(spark.createDataFrame([(1, "new"), (2, "x")], "k BIGINT, v STRING"), table)

    # latest sees the replacement; version 0 still reads the old state
    assert _rows(lh.read_table(spark, table)) == {(1, "new"), (2, "x")}
    assert _rows(lh.read_table(spark, table, version=0)) == {(1, "old")}
    # the old version's files were never touched by the new commit
    assert all(os.path.exists(p) for p in v0_files)


def test_merge_upsert_is_transactional(spark, tmp_path):
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, "old", 1) for k in range(1, 5)], "k BIGINT, v STRING, seq BIGINT"
    )
    lh.append(base, table)

    batch = spark.createDataFrame(
        [(3, "new", 2), (3, "newer", 3), (9, "new", 2)], "k BIGINT, v STRING, seq BIGINT"
    )
    v = lh.merge_upsert(spark, batch, table, keys=["k"], order_col="seq")

    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {1: "old", 2: "old", 3: "newer", 4: "old", 9: "new"}
    # pre-merge snapshot still intact (readers mid-scan saw it whole)
    pre = {r["k"]: r["v"] for r in lh.read_table(spark, table, version=v - 1).collect()}
    assert pre == {1: "old", 2: "old", 3: "old", 4: "old"}


def test_commit_race_loser_rebases(spark, tmp_path):
    """A commit against a stale base must fail atomically (version file
    already taken) and the public APIs must retry onto the new base."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)

    # direct low-level check: stale base -> FileExistsError, no
    # corruption of the committed version
    files = lh._stage_data(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), table)
    with pytest.raises(FileExistsError):
        lh._commit(table, files, "append", base_version=None)  # thinks table is empty
    assert _rows(lh.read_table(spark, table)) == {(1, "a")}

    # public API against the same table simply lands on the next version
    lh.append(spark.createDataFrame([(3, "c")], "k BIGINT, v STRING"), table)
    assert _rows(lh.read_table(spark, table)) == {(1, "a"), (3, "c")}


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path):
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "old")], "k BIGINT, v STRING"), table)
    old_files = lh.snapshot_files(table, 0)
    lh.overwrite(spark.createDataFrame([(1, "new")], "k BIGINT, v STRING"), table)
    # stage-and-crash garbage should be swept too
    lh._stage_data(spark.createDataFrame([(9, "GHOST")], "k BIGINT, v STRING"), table)

    deleted = lh.vacuum(table, keep_versions=1, retention_seconds=0)
    assert deleted  # old snapshot + crashed files went away
    assert all(not os.path.exists(p) for p in old_files)
    assert _rows(lh.read_table(spark, table)) == {(1, "new")}
    # expired version is gone from the log as well
    with pytest.raises(FileNotFoundError):
        lh.snapshot_files(table, 0)


def test_streaming_upsert_sink_one_version_per_batch(spark, tmp_path):
    import json as _json

    from martian_moments_spark.streaming.sources import file_json_stream

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "t")
    schema = "k BIGINT, v STRING, seq BIGINT"

    def run(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        q = lh.upsert_sink(
            file_json_stream(spark, str(src), schema),
            table,
            str(tmp_path / "ck"),
            keys=["k"],
            order_col="seq",
        )
        q.awaitTermination(120)

    run("b1.json", [{"k": 1, "v": "old", "seq": 1}, {"k": 2, "v": "old", "seq": 1}])
    run("b2.json", [{"k": 2, "v": "new", "seq": 2}, {"k": 3, "v": "new", "seq": 2}])

    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {1: "old", 2: "new", 3: "new"}
    assert lh.current_version(table) == 1  # one version per micro-batch


def test_compact_commits_new_version_keeps_history(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(4):  # four appends -> many small files
        lh.append(
            spark.createDataFrame([(i, f"v{i}")], "k BIGINT, v STRING"), table
        )
    before = set(lh.snapshot_files(table))
    assert len(before) >= 4

    v = lh.compact(spark, table, target_bytes=1 << 30)
    after = lh.snapshot_files(table)
    assert len(after) == 1  # everything fits one target file
    assert _rows(lh.read_table(spark, table)) == {(i, f"v{i}") for i in range(4)}
    # pre-compaction version still time-travels; its files untouched
    assert _rows(lh.read_table(spark, table, version=v - 1)) == {
        (i, f"v{i}") for i in range(4)
    }
    assert all(os.path.exists(p) for p in before)
    # vacuum drops the pre-compaction layout once history expires
    lh.vacuum(table, keep_versions=1, retention_seconds=0)
    assert all(not os.path.exists(p) for p in before)
    assert _rows(lh.read_table(spark, table)) == {(i, f"v{i}") for i in range(4)}


def test_bucketed_merge_reuses_untouched_files_verbatim(spark, tmp_path):
    """The composed merge: a batch's commit must reference untouched
    buckets' OLD files (same paths, same bytes — never restaged) plus
    new files only for touched buckets, under one atomic version."""
    import hashlib

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, "old", 1) for k in range(1, 41)], "k BIGINT, v STRING, seq BIGINT"
    )
    assert lh.merge_upsert_bucketed(spark, base, table, ["k"], "seq", num_buckets=8) == 0

    def digest(paths):
        out = {}
        for p in paths:
            with open(p, "rb") as f:
                out[p] = hashlib.sha256(f.read()).hexdigest()
        return out

    v0_files = lh.snapshot_files(table, 0)
    before = digest(v0_files)

    delta = spark.createDataFrame(
        [(3, "new", 2), (99, "new", 2)], "k BIGINT, v STRING, seq BIGINT"
    )
    v = lh.merge_upsert_bucketed(spark, delta, table, ["k"], "seq", num_buckets=8)

    from martian_moments_spark.lakehouse import BUCKET_COL
    touched = {
        r[0]
        for r in delta.selectExpr("cast(pmod(xxhash64(k), 8) as int)").distinct().collect()
    }
    v1_files = lh.snapshot_files(table, v)
    carried = [p for p in v1_files if p in set(v0_files)]
    assert carried, "no old files were carried into the new version"
    for p in carried:
        assert lh._bucket_of(os.path.relpath(p, table), BUCKET_COL) not in touched
        with open(p, "rb") as f:
            import hashlib as h
            assert h.sha256(f.read()).hexdigest() == before[p]

    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {k: "old" for k in range(1, 41)} | {3: "new", 99: "new"}
    # time travel still sees the pre-merge state
    pre = {r["k"]: r["v"] for r in lh.read_table(spark, table, version=0).collect()}
    assert pre == {k: "old" for k in range(1, 41)}


def test_append_logs_only_its_own_files(spark, tmp_path):
    """Delta log: an append's commit entry must reference only the new
    files (commit cost independent of table size), yet the reconstructed
    snapshot accumulates everything."""
    import json

    table = str(tmp_path / "t")
    for i in range(3):
        lh.append(spark.createDataFrame([(i, f"v{i}")], "k BIGINT, v STRING"), table)

    entry = lh._read_entry(table, 2)
    v1_state = {os.path.relpath(p, table) for p in lh.snapshot_files(table, 1)}
    assert entry["remove"] == []
    assert entry["add"], "append entry lists its new files"
    assert not (set(entry["add"]) & v1_state), "append entry re-lists old files"
    # full state still reconstructs across the deltas
    assert _rows(lh.read_table(spark, table)) == {(i, f"v{i}") for i in range(3)}


def test_checkpoint_rolls_and_bounds_replay(spark, tmp_path, monkeypatch):
    """Every CHECKPOINT_INTERVAL commits a full-state checkpoint lands;
    reads reconstruct identically from it, and losing a checkpoint only
    degrades to a longer replay (derived state, never authoritative)."""
    monkeypatch.setattr(lh, "CHECKPOINT_INTERVAL", 3)
    table = str(tmp_path / "t")
    for i in range(8):
        lh.append(spark.createDataFrame([(i, f"v{i}")], "k BIGINT, v STRING"), table)

    assert lh._checkpoint_versions(table) == [3, 6]
    want = {(i, f"v{i}") for i in range(8)}
    assert _rows(lh.read_table(spark, table)) == want
    # time travel to a version between checkpoints replays from cp 3
    assert _rows(lh.read_table(spark, table, version=4)) == {
        (i, f"v{i}") for i in range(5)
    }
    # checkpoints are disposable: delete both, state still reconstructs
    for c in (3, 6):
        os.remove(os.path.join(lh._log_path(table), f"{c}.checkpoint.json"))
    assert _rows(lh.read_table(spark, table)) == want


def test_vacuum_checkpoints_the_expiry_boundary(spark, tmp_path, monkeypatch):
    """Expiring delta entries must not orphan the survivors: vacuum
    anchors a checkpoint at the oldest retained version so every
    retained version reads without the expired deltas."""
    monkeypatch.setattr(lh, "CHECKPOINT_INTERVAL", 100)  # no organic checkpoints
    table = str(tmp_path / "t")
    for i in range(5):
        lh.append(spark.createDataFrame([(i, f"v{i}")], "k BIGINT, v STRING"), table)

    lh.vacuum(table, keep_versions=2, retention_seconds=0)
    # versions 0-2 expired; 3 and 4 must both still read correctly
    assert _rows(lh.read_table(spark, table, version=3)) == {
        (i, f"v{i}") for i in range(4)
    }
    assert _rows(lh.read_table(spark, table)) == {(i, f"v{i}") for i in range(5)}
    with pytest.raises(FileNotFoundError):
        lh.snapshot_files(table, 2)
    assert lh._checkpoint_versions(table) == [3]


def test_legacy_snapshot_entries_upgrade_in_place(spark, tmp_path):
    """A round-2 table whose log entries carry the full ``files`` list
    must keep reading, and new delta commits must compose on top."""
    import json

    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    # rewrite version 0's entry into the legacy full-snapshot shape
    entry = lh._read_entry(table, 0)
    legacy = {"version": 0, "op": "append", "files": entry["add"]}
    with open(os.path.join(lh._log_path(table), "0.json"), "w") as f:
        json.dump(legacy, f)

    assert _rows(lh.read_table(spark, table)) == {(1, "a")}
    lh.append(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), table)
    assert _rows(lh.read_table(spark, table)) == {(1, "a"), (2, "b")}
    assert _rows(lh.read_table(spark, table, version=0)) == {(1, "a")}


def test_bucketed_merge_entry_is_touched_scoped(spark, tmp_path):
    """The bucketed merge's LOG ENTRY (not just its data write) must be
    O(touched buckets): removes only touched buckets' files, adds only
    their replacements."""
    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, "old", 1) for k in range(1, 41)], "k BIGINT, v STRING, seq BIGINT"
    )
    lh.merge_upsert_bucketed(spark, base, table, ["k"], "seq", num_buckets=8)
    v0 = {os.path.relpath(p, table) for p in lh.snapshot_files(table, 0)}

    delta = spark.createDataFrame([(3, "new", 2)], "k BIGINT, v STRING, seq BIGINT")
    v = lh.merge_upsert_bucketed(spark, delta, table, ["k"], "seq", num_buckets=8)

    from martian_moments_spark.lakehouse import BUCKET_COL

    touched = {
        r[0]
        for r in delta.selectExpr("cast(pmod(xxhash64(k), 8) as int)").distinct().collect()
    }
    entry = lh._read_entry(table, v)
    assert set(entry["remove"]) <= v0
    assert all(lh._bucket_of(f, BUCKET_COL) in touched for f in entry["remove"])
    assert all(lh._bucket_of(f, BUCKET_COL) in touched for f in entry["add"])


def test_bucketed_merge_full_fallback_on_mixed_layout(spark, tmp_path):
    """A table with a non-bucketed commit cannot prune by bucket: the
    merge must fall back to a (correct) full merge and migrate the
    layout."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "old", 1), (2, "old", 1)],
                                    "k BIGINT, v STRING, seq BIGINT"), table)
    lh.merge_upsert_bucketed(
        spark,
        spark.createDataFrame([(2, "new", 2)], "k BIGINT, v STRING, seq BIGINT"),
        table, ["k"], "seq", num_buckets=4,
    )
    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {1: "old", 2: "new"}
    from martian_moments_spark.lakehouse import BUCKET_COL
    # layout migrated: every live file now carries a bucket dir
    assert all(
        lh._bucket_of(os.path.relpath(p, table), BUCKET_COL) is not None
        for p in lh.snapshot_files(table)
    )
    # and compaction preserves the bucketed layout
    lh.compact(spark, table, target_bytes=1 << 30)
    assert all(
        lh._bucket_of(os.path.relpath(p, table), BUCKET_COL) is not None
        for p in lh.snapshot_files(table)
    )
    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {1: "old", 2: "new"}


def test_append_with_added_column_reads_as_nulls(spark, tmp_path):
    """Additive schema evolution: a later commit may add a column;
    earlier commits' rows read it as NULL (and time travel to the old
    version still sees the old schema's data)."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    lh.append(
        spark.createDataFrame([(2, "b", "extra")], "k BIGINT, v STRING, note STRING"),
        table,
    )
    got = {r["k"]: (r["v"], r["note"]) for r in lh.read_table(spark, table).collect()}
    assert got == {1: ("a", None), 2: ("b", "extra")}
    assert _rows(lh.read_table(spark, table, version=0)) == {(1, "a")}


def test_concurrent_appenders_all_land(spark, tmp_path):
    """Optimistic concurrency under real contention: N threads append
    simultaneously; every commit must land as a distinct version and
    the final state must hold every row exactly once."""
    import threading

    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(0, "seed")], "k BIGINT, v STRING"), table)

    n = 6
    errors = []

    def worker(i):
        try:
            lh.append(
                spark.createDataFrame([(i + 1, f"w{i}")], "k BIGINT, v STRING"), table
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append((i, e))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    assert lh.current_version(table) == n  # seed=0, then n distinct versions
    got = _rows(lh.read_table(spark, table))
    assert got == {(0, "seed")} | {(i + 1, f"w{i}") for i in range(n)}


def test_diff_versions_emits_keyed_change_feed(spark, tmp_path):
    """diff_versions must classify inserts/deletes/updates between two
    snapshots and stay silent on unchanged keys."""
    table = str(tmp_path / "t")
    lh.append(
        spark.createDataFrame(
            [(1, "keep", 1), (2, "old", 1), (3, "gone", 1)],
            "k BIGINT, v STRING, seq BIGINT",
        ),
        table,
    )
    lh.overwrite(
        spark.createDataFrame(
            [(1, "keep", 1), (2, "new", 2), (4, "born", 1)],
            "k BIGINT, v STRING, seq BIGINT",
        ),
        table,
    )
    got = {
        r["k"]: (r["change_type"], r["before"], r["after"])
        for r in lh.diff_versions(spark, table, 0, 1, keys=["k"]).collect()
    }
    assert set(got) == {2, 3, 4}  # key 1 unchanged -> absent
    assert got[2][0] == "update" and '"old"' in got[2][1] and '"new"' in got[2][2]
    assert got[3][0] == "delete" and got[3][2] is None
    assert got[4][0] == "insert" and got[4][1] is None


def test_manifest_stats_prune_files_exactly(spark, tmp_path):
    """Commit entries must carry per-file min/max; read_table_pruned
    must skip non-intersecting files from the manifest alone and still
    return exactly the filtered result."""
    table = str(tmp_path / "t")
    # three commits with disjoint key ranges -> three prunable files
    for base in (0, 100, 200):
        lh.append(
            spark.createDataFrame(
                [(base + i, f"v{base + i}") for i in range(10)], "k BIGINT, v STRING"
            ).coalesce(1),
            table,
        )

    stats = lh.file_stats(table)
    assert len(stats) == 3
    assert all("k" in s["min"] and "k" in s["max"] and s["rows"] == 10 for s in stats.values())

    got = {tuple(r) for r in lh.read_table_pruned(spark, table, "k", 100, 105).collect()}
    assert got == {(100 + i, f"v{100 + i}") for i in range(6)}

    # the pruned plan must reference ONE file (the middle commit's)
    kept = [
        p
        for p in lh.snapshot_files(table)
        if not (stats[os.path.relpath(p, table)]["max"]["k"] < 100
                or stats[os.path.relpath(p, table)]["min"]["k"] > 105)
    ]
    assert len(kept) == 1
    # empty intersection: no rows, schema intact
    empty = lh.read_table_pruned(spark, table, "k", 500, 600)
    assert empty.count() == 0 and empty.columns == ["k", "v"]
    # stats survive checkpointing + vacuum (the manifest stays the
    # planner's only source)
    lh.vacuum(table, keep_versions=1, retention_seconds=0)
    assert len(lh.file_stats(table)) == 3
    got2 = {tuple(r) for r in lh.read_table_pruned(spark, table, "k", 100, 105).collect()}
    assert got2 == got


def test_partial_compaction_rewrites_only_selected_buckets(spark, tmp_path):
    """OPTIMIZE WHERE: compacting a bucket subset must leave every
    other bucket's files byte-identical in the new version and fold
    only the selected buckets' small files."""
    import hashlib

    from martian_moments_spark.lakehouse import BUCKET_COL

    table = str(tmp_path / "t")
    # two merge batches -> each bucket holds >=2 small files
    for seq in (1, 2):
        lh.merge_upsert_bucketed(
            spark,
            spark.createDataFrame(
                [(k, f"v{seq}", seq) for k in range(1, 33)],
                "k BIGINT, v STRING, seq BIGINT",
            ),
            table, ["k"], "seq", num_buckets=4,
        )
    before = {
        os.path.relpath(p, table): hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in lh.snapshot_files(table)
    }
    target = [0, 1]
    v = lh.compact(spark, table, target_bytes=1 << 30, buckets=target)
    after_files = [os.path.relpath(p, table) for p in lh.snapshot_files(table, v)]

    untouched = [f for f in after_files if lh._bucket_of(f, BUCKET_COL) not in target]
    for f in untouched:
        assert f in before  # carried verbatim, never restaged
    compacted = [f for f in after_files if lh._bucket_of(f, BUCKET_COL) in target]
    assert compacted and all(f not in before for f in compacted)
    # the commit entry itself is scoped to the selected buckets
    entry = lh._read_entry(table, v)
    assert entry["op"] == "compact"
    assert all(lh._bucket_of(f, BUCKET_COL) in target for f in entry["remove"])
    assert all(lh._bucket_of(f, BUCKET_COL) in target for f in entry["add"])
    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {k: "v2" for k in range(1, 33)}
    # selecting buckets with no files is a no-op, not an empty commit
    assert lh.compact(spark, table, buckets=[99]) == v


def test_delete_where_rewrites_only_intersecting_files(spark, tmp_path):
    table = str(tmp_path / "t")
    # three appends with disjoint key ranges -> three file sets with
    # disjoint manifest [min, max] stats on k
    lh.append(
        spark.createDataFrame([(k, f"v{k}") for k in range(0, 10)], "k BIGINT, v STRING"),
        table,
    )
    lh.append(
        spark.createDataFrame([(k, f"v{k}") for k in range(10, 20)], "k BIGINT, v STRING"),
        table,
    )
    lh.append(
        spark.createDataFrame([(k, f"v{k}") for k in range(20, 30)], "k BIGINT, v STRING"),
        table,
    )
    before = set(lh.snapshot_files(table, 2))

    v = lh.delete_where(spark, table, "k", 12, 17)
    assert v == 3

    # semantics: exactly the predicate's rows are gone
    got = {r["k"] for r in lh.read_table(spark, table).collect()}
    assert got == set(range(0, 30)) - set(range(12, 17 + 1))

    # write amplification: only the middle commit's files were
    # rewritten; the other two ranges' files carry over BY REFERENCE
    after = set(lh.snapshot_files(table, v))
    carried = before & after
    entry = lh._read_entry(table, v)
    removed = set(entry["remove"])
    stats = lh.file_stats(table, 2)
    for rel in removed:
        assert stats[rel]["min"]["k"] <= 17 and stats[rel]["max"]["k"] >= 12
    for p in carried:
        rel = os.path.relpath(p, table)
        st = stats.get(rel)
        if st and "k" in st["min"]:
            assert st["max"]["k"] < 12 or st["min"]["k"] > 17

    # time travel still sees the deleted rows; old files untouched
    old = {r["k"] for r in lh.read_table(spark, table, version=2).collect()}
    assert old == set(range(0, 30))
    assert all(os.path.exists(p) for p in before)


def test_delete_where_no_possible_match_is_a_noop(spark, tmp_path):
    table = str(tmp_path / "t")
    lh.append(
        spark.createDataFrame([(k, "x") for k in range(5)], "k BIGINT, v STRING"), table
    )
    v = lh.delete_where(spark, table, "k", 100, 200)
    assert v == 0  # no new version: every file's range excludes the predicate
    assert lh.current_version(table) == 0


def test_update_where_applies_only_to_matching_rows_and_files(spark, tmp_path):
    from pyspark.sql import functions as F

    table = str(tmp_path / "t")
    lh.append(
        spark.createDataFrame([(k, 10) for k in range(0, 10)], "k BIGINT, v BIGINT"),
        table,
    )
    lh.append(
        spark.createDataFrame([(k, 10) for k in range(10, 20)], "k BIGINT, v BIGINT"),
        table,
    )
    before = set(lh.snapshot_files(table, 1))

    v = lh.update_where(spark, table, "k", 3, 6, {"v": F.col("v") * 10})
    assert v == 2

    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {k: (100 if 3 <= k <= 6 else 10) for k in range(20)}

    # only the first commit's files (k range 0-9) were rewritten
    entry = lh._read_entry(table, v)
    stats = lh.file_stats(table, 1)
    for rel in entry["remove"]:
        assert stats[rel]["min"]["k"] <= 6 and stats[rel]["max"]["k"] >= 3
    # time travel: pre-update values intact
    old = {r["k"]: r["v"] for r in lh.read_table(spark, table, version=1).collect()}
    assert set(old.values()) == {10}
    assert all(os.path.exists(p) for p in before)


def test_schema_enforcement_rejects_type_conflict_allows_additive(spark):
    import tempfile

    d = tempfile.mkdtemp()
    table = os.path.join(d, "t")
    lh.append(spark.createDataFrame([(1, 5)], "k BIGINT, v BIGINT"), table)

    # type conflict on a shared column -> rejected before any write
    import pytest as _pytest

    with _pytest.raises(lh.SchemaConflictError, match="v: bigint -> string"):
        lh.append(spark.createDataFrame([(2, "oops")], "k BIGINT, v STRING"), table)
    assert lh.current_version(table) == 0  # nothing committed

    # additive evolution -> allowed; old files read the new column as NULL
    lh.append(
        spark.createDataFrame([(3, 7, "x")], "k BIGINT, v BIGINT, extra STRING"), table
    )
    got = {r["k"]: (r["v"], r["extra"]) for r in lh.read_table(spark, table).collect()}
    assert got == {1: (5, None), 3: (7, "x")}

    # the conflict is now also against the accumulated schema
    with _pytest.raises(lh.SchemaConflictError):
        lh.append(spark.createDataFrame([(4, 1.5)], "k BIGINT, extra DOUBLE"), table)

    # overwrite may retype (schema reset), and future appends enforce the NEW schema
    lh.overwrite(spark.createDataFrame([(9, "now-a-string")], "k BIGINT, v STRING"), table)
    lh.append(spark.createDataFrame([(10, "fine")], "k BIGINT, v STRING"), table)
    with _pytest.raises(lh.SchemaConflictError):
        lh.append(spark.createDataFrame([(11, 1)], "k BIGINT, v BIGINT"), table)


def test_delete_where_races_appends_without_losing_either(spark, tmp_path):
    """delete_where's optimistic retry vs concurrent appends: the
    delete must remove exactly its predicate's rows from whatever
    snapshot it lands on, and no append may be lost. Appended rows
    are outside the delete range, so the final state is exact."""
    import threading

    table = str(tmp_path / "t")
    lh.append(
        spark.createDataFrame([(k, "base") for k in range(10)], "k BIGINT, v STRING"),
        table,
    )
    errors = []

    def appender(i):
        try:
            lh.append(
                spark.createDataFrame([(100 + i, f"a{i}")], "k BIGINT, v STRING"), table
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def deleter():
        try:
            lh.delete_where(spark, table, "k", 3, 6)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
    threads.append(threading.Thread(target=deleter))
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    got = _rows(lh.read_table(spark, table))
    expect = {(k, "base") for k in range(10) if not 3 <= k <= 6} | {
        (100 + i, f"a{i}") for i in range(4)
    }
    assert got == expect


def test_vacuum_keep_more_versions_than_exist(spark, tmp_path):
    """keep_versions > committed versions must retain everything — a
    negative expiry slice would delete the log entry of a RETAINED
    version (vs[:-1] when vs=[0,1], keep=3)."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    lh.append(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), table)
    lh.vacuum(table, keep_versions=3, retention_seconds=0)
    # nothing expired: both versions still read
    assert _rows(lh.read_table(spark, table, version=0)) == {(1, "a")}
    assert _rows(lh.read_table(spark, table, version=1)) == {(1, "a"), (2, "b")}


def test_vacuum_retention_horizon_protects_fresh_files(spark, tmp_path):
    """Default retention must not sweep a concurrent writer's freshly
    staged (not-yet-committed) files — they are younger than the
    horizon. retention_seconds=0 (exclusive access) sweeps them."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    staged = lh._stage_data(
        spark.createDataFrame([(9, "STAGED")], "k BIGINT, v STRING"), table
    )
    assert lh.vacuum(table, keep_versions=1) == []  # fresh -> protected
    assert all(os.path.exists(os.path.join(table, rel)) for rel in staged)
    deleted = lh.vacuum(table, keep_versions=1, retention_seconds=0)
    assert sorted(staged) == deleted
    assert all(not os.path.exists(os.path.join(table, rel)) for rel in staged)


def test_read_table_empty_live_set_keeps_schema(spark, tmp_path):
    """A version whose live file set is empty (delete_where removed
    every row) must read as an empty DataFrame with the logged schema,
    not crash in reduce()."""
    table = str(tmp_path / "t")
    lh.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING"), table
    )
    v = lh.delete_where(spark, table, "k", 0, 100)
    df = lh.read_table(spark, table)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    pruned = lh.read_table_pruned(spark, table, "k", 0, 100)
    assert pruned.count() == 0 and pruned.columns == ["k", "v"]
    # time travel to the pre-delete version still sees the rows
    assert _rows(lh.read_table(spark, table, version=v - 1)) == {(1, "a"), (2, "b")}


def _mp_appender(args):
    """Worker for the cross-process contention test: stages one
    pyarrow-written parquet file and races the optimistic commit loop
    (the exact _commit path Spark writers use — staging via pyarrow
    only to keep worker processes JVM-free)."""
    table, worker_id, n_commits = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from martian_moments_spark import lakehouse as wlh

    committed = []
    for i in range(n_commits):
        commit_dir = os.path.join(table, f"data_mp{worker_id}_{i}")
        os.makedirs(commit_dir)
        rel = os.path.join(f"data_mp{worker_id}_{i}", "part-0.parquet")
        pq.write_table(
            pa.table({"k": [worker_id * 1000 + i], "v": [f"w{worker_id}c{i}"]}),
            os.path.join(table, rel),
        )
        while True:
            base = wlh.current_version(table)
            try:
                committed.append(wlh._commit(table, [rel], "append", base))
                break
            except FileExistsError:
                continue
    return worker_id, committed


def test_cross_process_commit_contention(spark, tmp_path):
    """Optimistic concurrency across real OS processes (the 6-thread
    test's gap vs deployments): 4 writer processes x 5 commits racing
    the same table must produce exactly one winner per version, lose
    no update, and leave every snapshot consistent."""
    import multiprocessing as mp

    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(0, "seed")], "k BIGINT, v STRING"), table)

    with mp.get_context("spawn").Pool(4) as pool:
        results = pool.map(_mp_appender, [(table, w, 5) for w in range(4)])

    all_versions = [v for _, vs in results for v in vs]
    # 20 commits + seed -> versions 0..20, each won exactly once
    assert sorted(all_versions) == list(range(1, 21))
    assert lh._versions(table) == list(range(21))
    rows = _rows(lh.read_table(spark, table))
    expect = {(0, "seed")} | {
        (w * 1000 + i, f"w{w}c{i}") for w in range(4) for i in range(5)
    }
    assert rows == expect
    # every intermediate snapshot reads exactly version+1 rows
    for v in (5, 13, 20):
        assert lh.read_table(spark, table, version=v).count() == v + 1


def test_table_history_and_restore(spark, tmp_path):
    """DESCRIBE HISTORY + RESTORE: history reads only the log; restore
    commits a new version equal to the target snapshot while keeping
    every intermediate version time-travelable."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    lh.append(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), table)
    lh.overwrite(spark.createDataFrame([(9, "z")], "k BIGINT, v STRING"), table)

    hist = {r["version"]: r for r in lh.table_history(spark, table).collect()}
    assert set(hist) == {0, 1, 2}
    assert hist[0]["op"] == "append" and hist[0]["rows_added"] == 1
    assert hist[2]["op"] == "overwrite" and hist[2]["n_removed_files"] >= 1
    assert hist[0]["schema_change"]  # first commit records the schema

    v = lh.restore_table(table, 1)
    assert v == 3
    assert _rows(lh.read_table(spark, table)) == {(1, "a"), (2, "b")}
    # nothing lost: the overwritten state is still one time-travel away
    assert _rows(lh.read_table(spark, table, version=2)) == {(9, "z")}
    assert lh.table_history(spark, table).first()["op"] == "restore"
    # restore survives vacuum of expired history (files it references
    # are live in the NEW version)
    lh.vacuum(table, keep_versions=1, retention_seconds=0)
    assert _rows(lh.read_table(spark, table)) == {(1, "a"), (2, "b")}


def test_vacuum_keep_zero_removes_checkpoints_too(spark, tmp_path, monkeypatch):
    """keep_versions=0 must not leave stale checkpoint files: a table
    recreated at the same path would otherwise replay a checkpoint
    referencing vacuumed files."""
    monkeypatch.setattr(lh, "CHECKPOINT_INTERVAL", 2)
    table = str(tmp_path / "t")
    for i in range(4):
        lh.append(spark.createDataFrame([(i, f"v{i}")], "k BIGINT, v STRING"), table)
    assert lh._checkpoint_versions(table)  # interval=2 -> rolled
    lh.vacuum(table, keep_versions=0, retention_seconds=0)
    assert lh._versions(table) == []
    assert lh._checkpoint_versions(table) == []
    # the path is clean for a fresh table
    lh.append(spark.createDataFrame([(9, "new")], "k BIGINT, v STRING"), table)
    assert _rows(lh.read_table(spark, table)) == {(9, "new")}


def test_read_table_asof_timestamp(spark, tmp_path):
    """TIMESTAMP AS OF: each commit records its publish time; an as-of
    read resolves to the newest version at or before the timestamp,
    before-the-beginning raises, and history surfaces the clock."""
    import time as _time

    table = str(tmp_path / "t")
    t_before = _time.time()
    _time.sleep(0.01)
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    _time.sleep(0.01)
    t_mid = _time.time()
    _time.sleep(0.01)
    lh.append(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), table)
    _time.sleep(0.01)
    t_after = _time.time()

    assert lh.version_asof(table, t_mid) == 0
    assert lh.version_asof(table, t_after) == 1
    assert lh.read_table_asof(spark, table, t_mid).count() == 1
    assert lh.read_table_asof(spark, table, t_after).count() == 2
    with pytest.raises(ValueError):
        lh.version_asof(table, t_before)

    hist = lh.table_history(spark, table).collect()
    ts = {r["version"]: r["committed_at"] for r in hist}
    assert ts[0] is not None and ts[1] is not None and ts[0] <= ts[1]


def test_committed_at_clamped_monotone_under_clock_skew(spark, tmp_path, monkeypatch):
    """A writer with a regressed clock must not backdate a later
    version below its predecessor — version_asof's eligibility set
    must stay a prefix of version order."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"), table)
    real = lh.time.time()
    monkeypatch.setattr(lh.time, "time", lambda: real - 3600.0)  # clock jumps back
    lh.append(spark.createDataFrame([(2, "b")], "k BIGINT, v STRING"), table)
    monkeypatch.undo()
    ts = {
        r["version"]: r["committed_at"]
        for r in lh.table_history(spark, table).collect()
    }
    assert ts[1] > ts[0], f"v1 backdated: {ts}"
    # as-of after both commits sees the newest version despite the skew
    assert lh.version_asof(table, lh.time.time()) == 1


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    """SHALLOW CLONE: the clone reads the source snapshot without
    copying a byte (its commit references the source's files by
    absolute path); subsequent writes to either side do not affect
    the other; delete on the clone is copy-on-write and never touches
    source files."""
    import glob

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    lh.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k BIGINT, v STRING"),
        src,
    )
    v = lh.clone_table(src, dst)
    assert v == 0
    # zero-copy: no parquet under the clone dir
    assert not glob.glob(os.path.join(dst, "data_*", "*.parquet"))
    assert sorted(r["k"] for r in lh.read_table(spark, dst).collect()) == list(range(20))

    # clone evolves independently
    lh.append(spark.createDataFrame([(100, "x")], "k BIGINT, v STRING"), dst)
    assert lh.read_table(spark, dst).count() == 21
    assert lh.read_table(spark, src).count() == 20

    # source evolves independently
    lh.append(spark.createDataFrame([(200, "y")], "k BIGINT, v STRING"), src)
    assert lh.read_table(spark, src).count() == 21
    assert lh.read_table(spark, dst).count() == 21

    # copy-on-write delete on the clone: source bytes untouched
    src_files_before = set(lh.snapshot_files(src))
    lh.delete_where(spark, dst, "k", 0, 9)
    assert lh.read_table(spark, dst).count() == 11
    assert all(os.path.exists(p) for p in src_files_before)
    assert lh.read_table(spark, src).count() == 21

    # refusing to clone over an existing table
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        lh.clone_table(src, dst)


def test_bucketed_merge_into_a_shallow_clone(spark, tmp_path):
    """A clone must accept the full write surface: a bucketed merge
    into a clone reads the external references correctly (basePath
    anchored at each file's own commit dir) and copy-on-writes into
    the clone — the source stays untouched."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    lh.append(
        spark.createDataFrame(
            [(i, i, f"v{i}") for i in range(10)], "k BIGINT, seq BIGINT, v STRING"
        ),
        src,
    )
    lh.clone_table(src, dst)
    batch = spark.createDataFrame(
        [(3, 99, "updated"), (42, 1, "new")], "k BIGINT, seq BIGINT, v STRING"
    )
    lh.merge_upsert_bucketed(spark, batch, dst, keys=["k"], order_col="seq")
    got = {r["k"]: r["v"] for r in lh.read_table(spark, dst).collect()}
    assert got[3] == "updated" and got[42] == "new" and len(got) == 11
    assert lh.read_table(spark, src).count() == 10
    src_vals = {r["v"] for r in lh.read_table(spark, src).collect()}
    assert "updated" not in src_vals


def test_clone_inherits_manifest_stats_without_footer_reads(spark, tmp_path):
    """Zero-copy includes the stats: the clone's manifest carries the
    source's per-file min/max (remapped keys), so read_table_pruned
    skips files on the clone immediately."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    lh.append(
        spark.createDataFrame([(i, i * 10) for i in range(100)], "k BIGINT, x BIGINT"),
        src,
    )
    lh.clone_table(src, dst)
    stats = lh.file_stats(dst)
    assert stats, "clone manifest has no stats"
    assert all("x" in st["min"] for st in stats.values())
    got = sorted(r["k"] for r in lh.read_table_pruned(spark, dst, "x", 100, 200).collect())
    assert got == list(range(10, 21))


def test_schema_survives_vacuum_of_the_entries_that_logged_it(spark, tmp_path):
    """After compact + vacuum the newest retained entry is the
    schema-less compact entry; the checkpoint vacuum writes at that
    version must carry the schema, or a retyping append slips through
    and every later read of the table fails."""
    table = str(tmp_path / "t")
    lh.append(spark.createDataFrame([(1, 5)], "k BIGINT, v BIGINT"), table)
    lh.append(spark.createDataFrame([(2, 6)], "k BIGINT, v BIGINT"), table)
    v = lh.compact(spark, table)
    assert lh._read_entry(table, v)["op"] == "compact"
    lh.vacuum(table, keep_versions=1, retention_seconds=0)
    assert lh._versions(table) == [v]
    assert lh._latest_schema(table, v) == {"k": "bigint", "v": "bigint"}
    with pytest.raises(lh.SchemaConflictError, match="v: bigint -> string"):
        lh.append(spark.createDataFrame([(3, "x")], "k BIGINT, v STRING"), table)
    assert lh.current_version(table) == v
    assert _rows(lh.read_table(spark, table)) == {(1, 5), (2, 6)}


def test_read_table_with_logged_schema_starts_no_job(spark, tmp_path):
    """A snapshot read plans from the logged schema: building the
    DataFrame launches no parquet footer-inference job. A table with no
    logged schema (raw ``_commit`` entries) still infers, which does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "t")
    lh.append(
        spark.createDataFrame([(1, "a", 2.0)], "k BIGINT, v STRING, x DOUBLE"), table
    )
    lh.append(spark.createDataFrame([(2, "b", 3.0, 7)],
                                    "k BIGINT, v STRING, x DOUBLE, extra INT"), table)
    raw = str(tmp_path / "raw")
    os.makedirs(os.path.join(raw, "data_raw"))
    pq.write_table(pa.table({"k": [1]}), os.path.join(raw, "data_raw", "p.parquet"))
    lh._commit(raw, [os.path.join("data_raw", "p.parquet")], "append", None)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("logged-schema-read", "logged-schema-read")
        df = lh.read_table(spark, table)
        old = lh.read_table(spark, table, version=0)
        assert list(tracker.getJobIdsForGroup("logged-schema-read")) == []
        sc.setJobGroup("inferred-read", "inferred-read")
        inferred = lh.read_table(spark, raw)
        assert list(tracker.getJobIdsForGroup("inferred-read")) != []
    finally:
        sc.setJobGroup(None, None)
    assert df.columns == ["k", "v", "x", "extra"]
    assert old.columns == ["k", "v", "x"]
    assert _rows(df) == {(1, "a", 2.0, None), (2, "b", 3.0, 7)}
    assert _rows(inferred) == {(1,)}


def test_read_table_infers_when_logged_schema_is_not_ddl(spark, tmp_path):
    """A logged type string that does not parse back as DDL (here a
    nested field name that needs quoting) falls back to inference."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, (2,))], "k BIGINT, s STRUCT<`a b`: INT>")
    lh.append(df, table)
    assert lh._latest_schema(table, 0)["s"] == "struct<a b:int>"
    got = lh.read_table(spark, table).collect()
    assert [(r["k"], r["s"]["a b"]) for r in got] == [(1, 2)]


def test_merge_writes_a_compacted_snapshot(spark, tmp_path):
    """merge_upsert rewrites the whole snapshot at compaction size, so
    the merged table is one file and OPTIMIZE on it is a no-op: same
    version returned, no log entry written. A batch without a size
    estimate (RDD-backed) keeps the plan's partitioning."""
    table = str(tmp_path / "t")
    schema = "k BIGINT, v STRING, seq BIGINT"
    lh.append(
        spark.createDataFrame([(k, "old", 1) for k in range(40)], schema).repartition(4),
        table,
    )
    assert len(lh.snapshot_files(table)) > 1
    # a batch Catalyst can size, like a stream's micro-batch
    batch = spark.range(30, 50).selectExpr("id AS k", "'new' AS v", "2L AS seq")
    v = lh.merge_upsert(spark, batch.repartition(3), table, ["k"], "seq")
    assert len(lh.snapshot_files(table)) == 1
    assert lh.compact(spark, table) == v
    assert lh._versions(table) == [0, v]
    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {k: ("new" if k >= 30 else "old") for k in range(50)}

    rdd_batch = spark.createDataFrame([(k, "rdd", 3) for k in range(5)], schema)
    lh.merge_upsert(spark, rdd_batch.repartition(3), table, ["k"], "seq")
    assert len(lh.snapshot_files(table)) > 1


def test_merge_plan_has_one_row_number_window(spark, tmp_path, monkeypatch):
    """The anti-join takes the raw batch's keys (the same key set as the
    deduplicated batch), so the staged merge plan runs the row_number
    window once, for both the keyed and the bucketed merge."""
    staged = []
    real = lh._stage_data

    def spy(df, table, partition_by=()):
        staged.append(df)
        return real(df, table, partition_by)

    monkeypatch.setattr(lh, "_stage_data", spy)
    schema = "k BIGINT, v STRING, seq BIGINT"
    first = spark.createDataFrame([(1, "a", 1), (2, "a", 1)], schema)
    batch = spark.createDataFrame([(2, "b", 2), (2, "c", 3), (3, "b", 2)], schema)
    want = {1: "a", 2: "c", 3: "b"}
    for name, merge in (
        ("plain", lambda b, t: lh.merge_upsert(spark, b, t, ["k"], "seq")),
        ("bucketed", lambda b, t: lh.merge_upsert_bucketed(
            spark, b, t, ["k"], "seq", num_buckets=4)),
    ):
        table = str(tmp_path / name)
        merge(first, table)
        staged.clear()
        merge(batch, table)
        plan = staged[-1]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Window [") == 1, plan
        got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
        assert got == want


def test_upsert_sink_restarts_exactly_once_on_filesystem_checkpoints(spark, tmp_path):
    """get_spark routes stream checkpoints through the FileSystem-based
    manager (no forked ``readlink`` per rename); a restart from that
    checkpoint processes only files it has not committed: no new
    version without new input, one version for the next file."""
    import json as _json

    from martian_moments_spark.session import _CHECKPOINT_MANAGER
    from martian_moments_spark.streaming.sources import file_json_stream

    ck = str(tmp_path / "ck")
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(ck), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getName() == _CHECKPOINT_MANAGER

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "t")

    def land(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run():
        q = lh.upsert_sink(
            file_json_stream(spark, str(src), "k BIGINT, v STRING, seq BIGINT"),
            table, ck, keys=["k"], order_col="seq",
        )
        assert q.awaitTermination(120)
        assert q.exception() is None

    land("b1.json", [{"k": 1, "v": "a", "seq": 1}, {"k": 2, "v": "a", "seq": 1}])
    run()
    assert lh.current_version(table) == 0
    run()  # restart, nothing new: no batch, no commit
    assert lh.current_version(table) == 0
    land("b2.json", [{"k": 2, "v": "b", "seq": 2}, {"k": 3, "v": "b", "seq": 2}])
    run()
    assert lh.current_version(table) == 1
    commits = os.listdir(os.path.join(ck, "commits"))
    assert sorted(n for n in commits if not n.startswith(".")) == ["0", "1"]
    got = {r["k"]: r["v"] for r in lh.read_table(spark, table).collect()}
    assert got == {1: "a", 2: "b", 3: "b"}


_RACE_SCHEMA = "k BIGINT, v STRING, seq BIGINT"
_RACE_BASE = [(k, "base", 1) for k in range(10)]
_RACE_WINNER = (100, "winner", 1)
_RACE_BATCH = [(3, "merged", 2), (60, "merged", 2)]
_RACE_MERGED = {r for r in _RACE_BASE if r[0] != 3} | {_RACE_WINNER, *_RACE_BATCH}


@pytest.mark.parametrize(
    "op",
    [
        "overwrite",
        "merge_upsert",
        "merge_upsert_bucketed",
        "compact",
        "delete_where",
        "update_where",
        "restore_table",
    ],
)
def test_every_mutation_replans_after_a_lost_race(spark, tmp_path, monkeypatch, op):
    """A competing append publishes between a mutation's snapshot read
    and its commit: the mutation's publish loses, it plans again on the
    winner's snapshot and lands on the next version. Merge, compaction,
    delete and update keep the winner's row; overwrite and restore
    replace it. The overwrite stages its data once."""
    from pyspark.sql import functions as F

    from martian_moments_spark.lakehouse import BUCKET_COL

    table = str(tmp_path / "t")

    def df(rows):
        return spark.createDataFrame(rows, _RACE_SCHEMA)

    if op == "merge_upsert_bucketed":
        lh.merge_upsert_bucketed(spark, df(_RACE_BASE), table, ["k"], "seq", num_buckets=4)
    else:  # two commits: files for compact to fold, a version to restore
        lh.append(df(_RACE_BASE[:5]), table)
        lh.append(df(_RACE_BASE[5:]), table)
    kept = set(_RACE_BASE) | {_RACE_WINNER}
    mutate, want = {
        "overwrite": (lambda: lh.overwrite(df([(50, "new", 1)]), table), {(50, "new", 1)}),
        "merge_upsert": (
            lambda: lh.merge_upsert(spark, df(_RACE_BATCH), table, ["k"], "seq"),
            _RACE_MERGED,
        ),
        "merge_upsert_bucketed": (
            lambda: lh.merge_upsert_bucketed(
                spark, df(_RACE_BATCH), table, ["k"], "seq", num_buckets=4
            ),
            _RACE_MERGED,
        ),
        "compact": (lambda: lh.compact(spark, table, target_bytes=1 << 30), kept),
        "delete_where": (
            lambda: lh.delete_where(spark, table, "k", 3, 6),
            {r for r in kept if not 3 <= r[0] <= 6},
        ),
        "update_where": (
            lambda: lh.update_where(spark, table, "k", 3, 6, {"v": F.lit("upd")}),
            {(k, "upd" if 3 <= k <= 6 else v, s) for k, v, s in kept},
        ),
        "restore_table": (lambda: lh.restore_table(table, 0), set(_RACE_BASE[:5])),
    }[op]

    base = lh.current_version(table)
    real_commit, real_stage = lh._commit, lh._stage_data
    raced, staged = [], []

    def commit(t, add, op_name, base_version, **kwargs):
        if not raced:  # the competing append publishes first, once
            raced.append(base_version)
            lh.append(df([_RACE_WINNER]), table)
        return real_commit(t, add, op_name, base_version, **kwargs)

    def stage(frame, t, partition_by=()):
        staged.append(frame)
        return real_stage(frame, t, partition_by)

    monkeypatch.setattr(lh, "_commit", commit)
    monkeypatch.setattr(lh, "_stage_data", stage)
    v = mutate()
    assert raced == [base]
    assert v == base + 2 == lh.current_version(table)
    assert _rows(lh.read_table(spark, table).drop(BUCKET_COL)) == want
    if op == "overwrite":
        assert len(staged) == 2  # the overwrite's data and the winner's
    if op == "compact":
        assert len(lh.snapshot_files(table)) == 1  # the winner's file folded too
