"""Minimal commit-log table format: snapshot-isolated reads and atomic
commits over plain parquet.

The reference's merge models write into a transactional warehouse
(Snowflake MERGE, flat_manifest_response.sql:1-7); plain parquet
directories have no transaction, so an overwrite exposes readers to
half-written state and a crashed writer leaves garbage that the next
scan picks up. This module adds the smallest useful transaction layer —
the core idea of Delta/Iceberg-style table formats, reduced to what the
engine needs — and it is the engine's only way to mutate a table:
appends, merges, deletes, updates and OPTIMIZE all commit through it,
and so does application state that must move with the data (a rollup's
source watermark, a streaming sketch's batch id ride a commit's
``meta``).

- data files are immutable parquet files with unique names; they are
  NEVER deleted or modified by a commit, only referenced;
- the table state is an append-only log ``_log/<version>.json``; each
  entry is a DELTA — the files the commit adds and the files it
  removes from the live set — so commit cost is O(changed files), not
  O(table): an append to a million-file table logs only its own files;
- every ``CHECKPOINT_INTERVAL`` commits a full-state checkpoint
  (``<version>.checkpoint.json``) is written beside the log, so a
  reader replays at most ``CHECKPOINT_INTERVAL`` deltas from the
  nearest checkpoint instead of the whole history (the Delta/Iceberg
  log-plus-checkpoint design); checkpoints are derived state — losing
  one only means a longer replay;
- a commit is one atomic no-clobber publish (``os.link``) of a staged
  manifest to the next version number; publish-over-existing fails on
  the loser of a race, giving optimistic concurrency;
- readers resolve the highest committed version once, then read
  exactly those files — a concurrent commit can never tear a scan, and
  uncommitted/crashed writer files are invisible because nothing
  references them;
- ``vacuum`` removes unreferenced data files older than the retention
  horizon (here: not referenced by ANY retained version); before
  expiring log entries it checkpoints the oldest retained version so
  everything retained stays reconstructable; a checkpoint also records
  the schema and the version's commit ``meta``, so enforcement, reads
  and application state survive the expiry of the entries that logged
  them;
- reads plan from the schema the log records for the version they
  read, so a snapshot scan starts no parquet footer-inference job
  (tables without a logged schema still infer);
- ``merge_upsert`` rewrites the whole snapshot anyway, so it writes it
  at ``compact``'s target file size: OPTIMIZE on a merged table finds
  nothing to fold and commits nothing.

The protocol is three primitives:

- ``_snapshot`` is the one log replay: from the nearest checkpoint up
  to a version, into an immutable record of the live files (in the
  form the log stores them), their stats, the schema and that
  version's commit ``meta``. Every reader and every writer starts from
  one;
- ``_transact`` is the one optimistic commit loop: a mutation is a
  ``plan(snapshot) -> (add, remove, schema)`` (``None`` commits
  nothing), planned again on the winner's snapshot whenever another
  writer publishes first;
- ``_rewrite`` is the one copy-on-write of a subset of a snapshot's
  files, keeping the bucketed layout: compaction, the touched buckets
  of a bucketed merge, ``delete_where`` and ``update_where`` use it.

Legacy round-2 entries that carry a complete ``files`` list are read
as implicit checkpoints (state := files), so existing tables upgrade
in place.

On a real object store the rename becomes a conditional PUT
(if-absent), which S3/GCS/ABFS all support today; everything else is
unchanged.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_DIR = "_log"

# Write a full-state checkpoint every N commits. Replay cost for any
# read is bounded by N log entries; N trades commit-time checkpoint
# writes against read-time replay. Tests shrink it to exercise rolls.
CHECKPOINT_INTERVAL = 10

# Target size of a rewritten data file: ``compact`` sizes its output by
# it, and so does ``merge_upsert``, which rewrites the whole snapshot
# anyway — a merged table is then already compacted.
TARGET_FILE_BYTES = 128 * 1024 * 1024

#: Name of the derived hash-bucket partition column a bucketed-merge
#: table is laid out by. It is a physical-layout detail but surfaces in
#: the read-back schema (as any partition column does).
BUCKET_COL = "__part"


def bucket_expr(keys: list[str], num_buckets: int):
    """Deterministic bucket assignment for a merge key: every version
    of a key lands in the same bucket, so a bucketed merge only ever
    rewrites the buckets its batch touches."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast("int")


def _log_path(table: str) -> str:
    return os.path.join(table, LOG_DIR)


def _versions(table: str) -> list[int]:
    logd = _log_path(table)
    if not os.path.isdir(logd):
        return []
    out = []
    for name in os.listdir(logd):
        if name.endswith(".json") and not name.endswith(".tmp.json"):
            stem = name[: -len(".json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def current_version(table: str) -> int | None:
    vs = _versions(table)
    return vs[-1] if vs else None


def _checkpoint_versions(table: str) -> list[int]:
    logd = _log_path(table)
    if not os.path.isdir(logd):
        return []
    suffix = ".checkpoint.json"
    out = []
    for name in os.listdir(logd):
        if name.endswith(suffix) and name[: -len(suffix)].isdigit():
            out.append(int(name[: -len(suffix)]))
    return sorted(out)


def _read_entry(table: str, version: int) -> dict:
    with open(os.path.join(_log_path(table), f"{version}.json")) as f:
        return json.load(f)


class _Snapshot(NamedTuple):
    """One version of a table as a single log replay sees it.
    ``files`` are sorted and in stored form: table-relative for files
    under the table root, absolute for a shallow clone's external
    references. ``stats`` covers the live files committed with stats,
    ``meta`` is the version's own commit metadata. ``version`` is None
    (and every field empty) for a table without commits. Treat the
    dicts as read-only."""

    table: str
    version: int | None
    files: tuple[str, ...]
    stats: dict
    schema: dict | None
    meta: dict

    def paths(self, files=None) -> list[str]:
        """``files`` (default: the live set) as readable paths."""
        return [os.path.join(self.table, p) for p in (self.files if files is None else files)]


def _snapshot(table: str, version: int | None = None) -> _Snapshot:
    """Replay the log up to ``version`` (default: the latest) once:
    start from the nearest checkpoint at or below it (else empty) and
    apply each delta in order, carrying per-file stats, the newest
    logged schema (schemas only accumulate, so the newest record is
    the table schema) and the version's commit ``meta``. A legacy
    full-``files`` entry resets the live set wholesale (no stats).
    Raises FileNotFoundError for a version the log does not hold
    (expired by vacuum, or never committed)."""
    v = current_version(table) if version is None else version
    if v is None:
        return _Snapshot(table, None, (), {}, None, {})
    cp: dict = {"files": []}
    cps = [c for c in _checkpoint_versions(table) if c <= v]
    if cps:
        with open(os.path.join(_log_path(table), f"{cps[-1]}.checkpoint.json")) as f:
            cp = json.load(f)
    live, stats, schema = set(cp["files"]), cp.get("stats", {}), cp.get("schema")
    try:
        entries = [_read_entry(table, u) for u in range(cps[-1] + 1 if cps else 0, v + 1)]
        if entries:
            meta = entries[-1].get("meta") or {}
        elif "meta" in cp:  # a checkpoint at ``v`` carries v's meta
            meta = cp["meta"]
        else:  # one written before checkpoints did: read the entry
            meta = _read_entry(table, v).get("meta") or {}
    except FileNotFoundError:
        raise FileNotFoundError(f"version {v} of {table!r} does not exist (expired?)") from None
    for e in entries:
        if "files" in e:  # legacy snapshot entry = implicit checkpoint
            live, stats = set(e["files"]), {}
        else:
            live = (live - set(e["remove"])) | set(e["add"])
            stats.update(e.get("stats", {}))
        if e.get("schema") is not None:
            schema = e["schema"]
    if schema is None and cps:
        schema = _schema_at_or_below(table, cps[-1])
    files = tuple(sorted(live))
    return _Snapshot(table, v, files, {p: stats[p] for p in files if p in stats}, schema, meta)


def _schema_at_or_below(table: str, version: int) -> dict | None:
    """The newest schema that a log entry or checkpoint at or below
    ``version`` still on disk records: the schema of a table whose
    checkpoint predates checkpoints recording one."""
    for v in range(version, -1, -1):
        for name in (f"{v}.json", f"{v}.checkpoint.json"):
            try:
                with open(os.path.join(_log_path(table), name)) as f:
                    sch = json.load(f).get("schema")
            except FileNotFoundError:
                continue
            if sch is not None:
                return sch
    return None


def _committed(snap: _Snapshot) -> _Snapshot:
    """``snap``, or FileNotFoundError for a table without commits."""
    if snap.version is None:
        raise FileNotFoundError(f"no committed version in {snap.table!r}")
    return snap


def _latest_schema(table: str, version: int) -> dict | None:
    """The table's column->type mapping as of ``version``."""
    return _snapshot(table, version).schema


def file_stats(table: str, version: int | None = None) -> dict:
    """Per-file column min/max/rows of a version's live files, straight
    from the manifest (no footer reads). Files committed without stats
    (legacy entries) are absent."""
    return _committed(_snapshot(table, version)).stats


def _write_checkpoint(table: str, version: int) -> None:
    """Materialize the full live set (and its stats) at ``version``
    beside the log. Derived state: written via tmp+rename (idempotent —
    any writer producing it computes identical content), safe to lose."""
    snap = _snapshot(table, version)
    state = {"version": version, "files": list(snap.files), "stats": snap.stats, "meta": snap.meta}
    if snap.schema is not None:
        # the schema must outlive the entries that recorded it: after
        # compact + vacuum the newest retained entry is often a
        # schema-less compact entry anchored by this checkpoint
        state["schema"] = snap.schema
    logd = _log_path(table)
    tmp = os.path.join(logd, f"{version}.{uuid.uuid4().hex[:8]}.cptmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(logd, f"{version}.checkpoint.json"))


def snapshot_files(table: str, version: int | None = None) -> list[str]:
    """The live data files of ``version`` (default: latest committed).
    Absolute paths. Raises FileNotFoundError on an empty table or a
    vacuum-expired version."""
    return _committed(_snapshot(table, version)).paths()


def _read_files(spark: SparkSession, snap: _Snapshot, files) -> DataFrame:
    """Scan ``files`` (stored form) of ``snap``, per commit dir with
    that dir as basePath so hive-partition columns (the bucketed-merge
    layout) are recovered; a commit dir without partition dirs
    contributes no extra columns.

    The scan plans from the snapshot's logged schema: no footer-
    inference job runs, and the data columns follow the logged order
    (hive-partition columns last, as Spark places them). A table
    without a logged schema (legacy entries, raw ``_commit`` callers)
    falls back to inference, as does a logged schema that does not
    parse as DDL."""
    if not files:
        raise ValueError(
            f"empty file list for {snap.table!r} — an empty snapshot must be "
            "handled by the caller (_read_snapshot returns a schema-correct "
            "empty DataFrame from the commit log)"
        )

    def commit_dir(p: str) -> str:
        # nearest data_<id> ancestor — every lakehouse data file lives
        # under one (_stage_data); anchoring basePath there recovers
        # hive-partition columns identically for files INSIDE this
        # table and for external files referenced by a shallow clone.
        anc = os.path.dirname(p)
        while anc and not os.path.basename(anc).startswith("data_"):
            parent = os.path.dirname(anc)
            if parent == anc:
                break
            anc = parent
        return anc if os.path.basename(anc).startswith("data_") else os.path.dirname(p)

    by_dir: dict[str, list[str]] = {}
    for p in snap.paths(files):
        by_dir.setdefault(commit_dir(p), []).append(p)
    reader = spark.read
    if snap.schema is not None:
        try:
            reader = spark.read.schema(_schema_ddl(snap.schema))
        except ParseException:
            pass  # no DDL spelling (a UDT, a nested name needing quotes)
    parts = [
        reader.option("basePath", d).parquet(*fs)
        for d, fs in sorted(by_dir.items())
    ]
    # additive schema evolution: a commit may carry columns older
    # commits lack (never the reverse — columns are only added);
    # missing columns read as NULL, like parquet mergeSchema.
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _schema_ddl(sch: dict) -> str:
    """The DDL string of a logged column->type mapping."""
    return ", ".join(
        "`{}` {}".format(name.replace("`", "``"), typ) for name, typ in sch.items()
    )


def _read_snapshot(spark: SparkSession, snap: _Snapshot) -> DataFrame:
    """Scan every live file of ``snap``. A version whose live set is
    empty (e.g. delete_where removed every row) still has a schema in
    the log, so it reads as an empty DataFrame, not a reduce() crash."""
    if snap.files:
        return _read_files(spark, snap, snap.files)
    if not snap.schema:
        raise FileNotFoundError(
            f"version {snap.version} of {snap.table!r} has no files and no recorded schema"
        )
    return spark.createDataFrame([], _schema_ddl(snap.schema))


def read_table(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """Snapshot read: resolve the version's exact file list, then scan
    only those files. Time travel via ``version``. A version with an
    empty live set reads as an empty DataFrame with the logged schema."""
    return _read_snapshot(spark, _committed(_snapshot(table, version)))


def version_asof(table: str, ts: float) -> int:
    """The newest version whose recorded publish time is <= ``ts``
    (Delta's ``TIMESTAMP AS OF``). Scans the retained log entries —
    O(retained versions), no data files opened. Entries from before
    this field existed are treated as eligible (old tables resolve to
    their newest retained version); vacuum-expired entries are
    SKIPPED (their clock is gone — they cannot qualify). Commit
    clocks are clamped monotone at publish (_commit), so eligibility
    is a prefix of version order. Raises ValueError if every retained
    commit is newer than ``ts``."""
    best = None
    for v in _versions(table):
        try:
            e = _read_entry(table, v)
        except FileNotFoundError:
            continue  # expired by vacuum
        if e.get("committed_at", float("-inf")) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no commit of {table!r} at or before timestamp {ts}"
        )
    return best


def read_table_asof(spark: SparkSession, table: str, ts: float) -> DataFrame:
    """Snapshot read AS OF a wall-clock timestamp: resolve the version
    via ``version_asof`` then do an ordinary version read. Commit
    timestamps are advisory (writer clocks), version order stays the
    conflict truth — same contract as Delta time travel."""
    return read_table(spark, table, version=version_asof(table, ts))


def _range_candidates(snap: _Snapshot, col: str, lo, hi) -> list[str]:
    """The live files of ``snap`` that can hold a row with
    ``lo <= col <= hi``, judged from the manifest alone (no footer is
    opened): a file whose committed [min, max] for ``col`` misses
    [lo, hi], or that committed zero rows, is skipped. A file without
    committed stats is never skipped, so correctness does not depend
    on stats coverage."""
    keep = []
    for p in snap.files:
        st = snap.stats.get(p)
        if st is not None:
            if st.get("rows") == 0:
                continue
            if col in st["min"] and col in st["max"] and (
                st["max"][col] < lo or st["min"][col] > hi
            ):
                continue
        keep.append(p)
    return keep


def read_table_pruned(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with MANIFEST-level file skipping: files whose
    committed [min, max] for ``col`` cannot intersect [lo, hi] are
    dropped from the scan before Spark ever lists them — no footer is
    opened for a skipped file. The residual filter is still applied, so
    the result equals ``read_table(...).filter(lo <= col <= hi)``
    exactly; a file without committed stats is never skipped.

    This is the planner's half of zorder_write: clustering narrows
    per-file ranges, the manifest prunes on them, and at 100 TB the
    scan cost follows the predicate's selectivity instead of the
    table size."""
    snap = _committed(_snapshot(table, version))
    keep = _range_candidates(snap, col, lo, hi)
    if keep:
        return _read_files(spark, snap, keep).filter(F.col(col).between(lo, hi))
    # preserve the schema: read nothing via an always-false filter
    return _read_snapshot(spark, snap).filter(F.lit(False))


def _stage_data(
    df: DataFrame, table: str, partition_by: tuple[str, ...] = ()
) -> list[str]:
    """Write ``df`` as new immutable data files under a unique commit
    dir (optionally hive-partitioned); returns table-relative paths.
    Invisible until committed."""
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table, f"data_{commit_id}")
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    rel = []
    for dirpath, _dirs, files in os.walk(data_dir):
        for name in files:
            if name.endswith(".parquet"):
                rel.append(os.path.relpath(os.path.join(dirpath, name), table))
    return sorted(rel)


def _collect_stats(table: str, rel_paths: list[str]) -> dict:
    """Per-file column min/max/rows harvested from the just-written
    parquet footers, recorded in the commit entry so scan planning can
    skip files from the MANIFEST alone — at 100 TB the planner must
    not open a million footers to prune a predicate. Only scalar
    leaf columns with usable stats are kept; stats are advisory
    (a file without stats is never skipped)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rel_paths:
        md = pq.ParquetFile(os.path.join(table, rel)).metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        ok: set[str] = set()
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                name = col.path_in_schema
                if st is None or not st.has_min_max:
                    continue
                lo, hi = st.min, st.max
                if not isinstance(lo, (int, float, str, bool)):
                    continue
                ok.add(name)
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        out[rel] = {
            "rows": md.num_rows,
            "min": {k: mins[k] for k in sorted(ok)},
            "max": {k: maxs[k] for k in sorted(ok)},
        }
    return out


class SchemaConflictError(ValueError):
    """An incoming write's column types conflict with the table's."""


def _enforced_schema(snap: _Snapshot, df: DataFrame, reset: bool = False) -> dict:
    """Schema enforcement on write (the table-format contract parquet
    directories lack): shared columns must keep their exact type —
    a conflicting append raises instead of poisoning the table for
    every future reader — while NEW columns are additive evolution
    (read_table fills them as NULL for old files). ``reset=True``
    (overwrite) replaces the schema wholesale: a full rewrite may
    legitimately retype. Returns the merged mapping the commit entry
    records."""
    new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    prev = snap.schema
    if reset or prev is None:
        return new
    conflicts = {
        k: (prev[k], new[k]) for k in prev.keys() & new.keys() if prev[k] != new[k]
    }
    if conflicts:
        raise SchemaConflictError(
            f"type conflicts vs table schema of {snap.table!r}: "
            + ", ".join(f"{k}: {a} -> {b}" for k, (a, b) in sorted(conflicts.items()))
        )
    return {**prev, **new}


def _commit(
    table: str,
    add: list[str],
    op: str,
    base_version: int | None,
    remove: list[str] = (),
    schema: dict | None = None,
    meta: dict | None = None,
    precomputed_stats: dict | None = None,
) -> int:
    """Atomically publish a delta (``add``/``remove`` table-relative
    paths) as the next version, harvesting per-file stats for the
    added files into the entry (manifest-level file skipping).
    Optimistic: if someone committed after ``base_version``, the
    publish target exists and this raises FileExistsError — re-read
    and retry. Every CHECKPOINT_INTERVAL-th version also rolls a
    full-state checkpoint (after the commit is durable; a crash
    between the two only costs replay length)."""
    logd = _log_path(table)
    os.makedirs(logd, exist_ok=True)
    next_v = 0 if base_version is None else base_version + 1
    # commit clock, clamped monotone over the predecessor (Delta-style
    # max(prev + eps, now)): version_asof resolves by this field, and
    # without the clamp a skew-backdated later version would make the
    # eligible set a non-prefix of version order — an as-of read could
    # then include data published after its timestamp.
    committed_at = time.time()
    if base_version is not None:
        try:
            prev_ts = _read_entry(table, base_version).get("committed_at")
            if prev_ts is not None and committed_at <= prev_ts:
                committed_at = prev_ts + 1e-6
        except FileNotFoundError:
            pass  # predecessor expired by vacuum — raw clock stands
    staged = os.path.join(logd, f"{next_v}.{uuid.uuid4().hex[:8]}.tmp.json")
    entry = {
        "version": next_v,
        "op": op,
        "add": sorted(add),
        "remove": sorted(remove),
        "stats": (
            precomputed_stats
            if precomputed_stats is not None
            else _collect_stats(table, sorted(add))
        ),
        # wall-clock publish time: the AS-OF-timestamp resolution key
        # (time travel). Version order is the source of truth for
        # conflicts; this is advisory metadata like Delta's timestamp.
        "committed_at": committed_at,
    }
    if schema is not None:
        entry["schema"] = schema
    if meta is not None:
        # application metadata rides the atomic commit (e.g. a
        # materialized view's source watermark) — state that must move
        # with the data can never be torn from it by a crash
        entry["meta"] = meta
    with open(staged, "w") as f:
        json.dump(entry, f)
    final = os.path.join(logd, f"{next_v}.json")
    try:
        # atomic publish; os.link + unlink refuses to clobber an
        # existing version (os.rename would silently overwrite the
        # race winner on POSIX).
        os.link(staged, final)
    except FileExistsError:
        os.remove(staged)
        raise
    os.remove(staged)
    if next_v > 0 and next_v % CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(table, next_v)
    return next_v


def _transact(table: str, op: str, plan, meta: dict | None = None) -> int:
    """The one optimistic commit loop: take the latest snapshot, let
    ``plan(snapshot)`` return ``(add, remove, schema)`` — or ``None``
    for a provable no-op, which returns the snapshot's version and
    commits nothing — and publish it as the next version. A lost
    publish race plans again on the winner's snapshot, so no writer's
    commit is ever silently dropped: a merge, compaction, delete or
    update composes with the winner's rows, an overwrite or restore
    replaces them."""
    while True:
        snap = _snapshot(table)
        step = plan(snap)
        if step is None:
            return snap.version
        add, remove, schema = step
        try:
            return _commit(table, add, op, snap.version, remove=remove, schema=schema, meta=meta)
        except FileExistsError:
            continue


def _rewrite(spark: SparkSession, snap: _Snapshot, files, fn) -> list[str]:
    """Copy-on-write of ``files`` (stored form) of ``snap``: scan them,
    transform the scan with ``fn`` and stage the result as new files,
    hive-partitioned by ``BUCKET_COL`` whenever the result carries it,
    so a bucketed table keeps its layout. Returns the staged paths;
    the commit that removes ``files`` carries every other live file
    over by reference, its bytes untouched."""
    df = fn(_read_files(spark, snap, files))
    part = (BUCKET_COL,) if BUCKET_COL in df.columns else ()
    return _stage_data(df, snap.table, partition_by=part)


def append(df: DataFrame, table: str, meta: dict | None = None) -> int:
    """Transactional append. The commit logs ONLY the new files (an
    add-delta): append cost is independent of table size — the shape
    that matters at 100 TB where the live set is millions of files.
    Returns the committed version."""
    new: list[str] = []

    def plan(snap: _Snapshot):
        # checked before the first write, and again against every race
        # winner; the data is staged once and composes with any winner
        sch = _enforced_schema(snap, df)
        if not new:
            new.extend(_stage_data(df, table))
        return new, (), sch

    return _transact(table, "append", plan, meta)


def overwrite(df: DataFrame, table: str, meta: dict | None = None) -> int:
    """Transactional full replace (the commit shape a MERGE resolves
    to): the delta removes the previous live set and adds the new
    files; old files stay on disk for older versions until vacuumed.
    The data is staged once; a lost race only re-reads the live set
    it replaces."""
    new = _stage_data(df, table)
    return _transact(
        table, "overwrite",
        lambda snap: (new, snap.files, _enforced_schema(snap, df, reset=True)),
        meta,
    )


def _latest_per_key(batch_df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Last-writer-wins dedup of a merge batch: one row per key, the
    one with the greatest ``order_col`` (the SURVEY §7.4.2 tie-break)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    spark: SparkSession,
    batch_df: DataFrame,
    table: str,
    keys: list[str],
    order_col: str,
) -> int:
    """Transactional keyed MERGE: the anti-join + union rewrite (X2)
    reading from the current snapshot and committing the merged state
    as one atomic version — readers see the old or the new table,
    never a mix, and a crash before commit leaves only unreferenced
    files (invisible, vacuumable). Optimistic-retry on concurrent
    commits: the merge re-reads the NEW snapshot and re-merges, so a
    lost race never silently drops the winner's rows.

    The merged snapshot is written as ceil(bytes / TARGET_FILE_BYTES)
    files, the layout ``compact`` would produce, so a merged table
    needs no OPTIMIZE; the bytes are those of the replaced snapshot's
    files plus Catalyst's estimate of the batch."""
    from martian_moments_spark.operators.parallelize import _est_bytes

    def plan(snap: _Snapshot):
        batch = _latest_per_key(batch_df, keys, order_col)
        merged = batch
        if snap.version is not None:
            # the raw batch has the deduplicated batch's key set; anti-
            # joining on it keeps a second row_number window (and its
            # shuffle) out of the plan
            survivors = _read_snapshot(spark, snap).join(batch_df.select(*keys), keys, "left_anti")
            merged = batch.unionByName(survivors)
        # the merge rewrites the whole snapshot, so it writes at
        # compaction size and OPTIMIZE finds nothing to fold. The
        # batch's Catalyst estimate joins the replaced bytes so a large
        # batch is never squeezed into too few writers; a batch without
        # an estimate (an RDD-backed one reports Long.MaxValue) keeps
        # the plan's own partitioning.
        out_bytes = sum(os.path.getsize(p) for p in snap.paths()) + _est_bytes(batch_df)
        n_files = max(1, math.ceil(out_bytes / TARGET_FILE_BYTES))
        if n_files < 1 << 31:
            merged = merged.coalesce(n_files)
        sch = _enforced_schema(snap, batch)
        return _stage_data(merged, table), snap.files, sch

    return _transact(table, "merge", plan)


def upsert_sink(
    stream_df: DataFrame,
    table: str,
    checkpoint: str,
    keys: list[str],
    order_col: str,
):
    """Streaming keyed upsert (E8): ``merge_upsert`` per micro-batch,
    so each batch is one atomic version and readers never see a
    partly merged table. That commit entry is the batch's
    load-complete record (E9): it names the op, the added files with
    their row counts and ``committed_at``, and it lands or not with the
    data. A batch replayed after a crash re-merges idempotently, and a
    restart with no new input runs no batch and commits nothing.
    Returns the started query."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, batch_df, table, keys, order_col)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _bucket_of(rel_path: str, bucket_col: str) -> int | None:
    """Bucket id encoded in a file's hive-partition path, or None."""
    marker = f"{bucket_col}="
    for seg in rel_path.split(os.sep):
        if seg.startswith(marker):
            return int(seg[len(marker):])
    return None


def merge_upsert_bucketed(
    spark: SparkSession,
    batch_df: DataFrame,
    table: str,
    keys: list[str],
    order_col: str,
    num_buckets: int = 16,
) -> int:
    """The 100 TB merge: partition-scoped write amplification in one
    snapshot-isolated commit. The table is laid out by the
    deterministic hash bucket of the merge key (``bucket_expr``,
    hive-partition dirs inside each commit); a batch reads only its
    touched buckets' files (pruned by path, no scan of the rest),
    anti-joins, and stages replacement files for exactly those buckets.
    The new version references the untouched buckets' OLD files
    verbatim plus the new ones — an untouched bucket's bytes are never
    rewritten, and the whole swap is one atomic commit with optimistic
    retry.

    ``merge_upsert`` rewrites the full snapshot per batch; this writes
    O(touched/num_buckets) of the table per batch and commits once."""

    def plan(snap: _Snapshot):
        batch = _latest_per_key(batch_df, keys, order_col).withColumn(
            BUCKET_COL, bucket_expr(keys, num_buckets)
        )
        sch = _enforced_schema(snap, batch)
        files = []
        if snap.version is not None:
            touched = {r[0] for r in batch.select(BUCKET_COL).distinct().collect()}
            if any(_bucket_of(f, BUCKET_COL) is None for f in snap.files):
                # a non-bucketed commit is mixed in: its files may hold
                # any key, so bucket pruning is unsound — fall back to a
                # full merge (correct, just not partition-scoped) which
                # also migrates the table to the bucketed layout.
                files = list(snap.files)
            else:
                files = [f for f in snap.files if _bucket_of(f, BUCKET_COL) in touched]
        if not files:
            return _stage_data(batch, table, partition_by=(BUCKET_COL,)), files, sch

        def merged_with(target: DataFrame) -> DataFrame:
            # (re)derive the bucket deterministically from the keys:
            # uniform whether the source commit was bucketed or not
            # (the mixed-layout fallback reads unbucketed files).
            if BUCKET_COL in target.columns:
                target = target.drop(BUCKET_COL)
            target = target.withColumn(BUCKET_COL, bucket_expr(keys, num_buckets))
            return batch.unionByName(target.join(batch_df.select(*keys), keys, "left_anti"))

        # delta commit: only the touched buckets' files are removed and
        # only their replacements added — the untouched buckets carry
        # over implicitly, so the LOG ENTRY (not just the data write)
        # is O(touched), matching the write amplification.
        return _rewrite(spark, snap, files, merged_with), files, sch

    return _transact(table, "merge_bucketed", plan)


def compact(
    spark: SparkSession,
    table: str,
    target_bytes: int = TARGET_FILE_BYTES,
    buckets: list[int] | None = None,
) -> int:
    """Transactional OPTIMIZE: rewrite the (selected part of the)
    current snapshot into ceil(bytes/target) files and commit the
    compacted layout as a new version. Nothing is renamed or
    overwritten in place: readers hold the old snapshot until the
    single commit lands, a crash leaves only unreferenced (vacuumable)
    files, and time travel to the pre-compaction version still works.

    ``buckets`` is the OPTIMIZE WHERE form for bucketed-merge tables:
    only the named buckets' files rewrite; everything else carries
    over untouched in the delta commit — at 100 TB compaction runs
    incrementally over the buckets whose small-file count crossed a
    threshold, never the whole table. Returns the new version, or the
    current one without committing when the selected files are already
    no more than the target count (as a merge's output normally is)."""

    chosen = None if buckets is None else set(buckets)

    def plan(snap: _Snapshot):
        files = _committed(snap).files
        if chosen is not None:
            files = [f for f in files if _bucket_of(f, BUCKET_COL) in chosen]
        total = sum(os.path.getsize(p) for p in snap.paths(files))
        n_files = max(1, math.ceil(total / target_bytes))
        if len(files) <= n_files:
            return None  # nothing to fold; no commit
        return _rewrite(spark, snap, files, lambda df: df.coalesce(n_files)), files, None

    return _transact(table, "compact", plan)


def _rewrite_where(spark: SparkSession, table: str, op: str, col: str, lo, hi, fn) -> int:
    """Row-level copy-on-write over ``lo <= col <= hi``: the manifest's
    per-file [min, max] for ``col`` selects the candidate files that
    can hold a matching row, and only those are read, transformed by
    ``fn`` and restaged (``_rewrite``). Returns the new version, or the
    current one when no file can match — a provable no-op commits
    nothing."""

    def plan(snap: _Snapshot):
        candidates = _range_candidates(_committed(snap), col, lo, hi)
        if not candidates:
            return None
        return _rewrite(spark, snap, candidates, fn), candidates, None

    return _transact(table, op, plan)


def delete_where(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
) -> int:
    """Transactional row-level DELETE (``DELETE WHERE col BETWEEN lo
    AND hi``) by copy-on-write: the candidate files are read, filtered
    to their surviving rows, and restaged — every other file carries
    over by reference in the delta commit, its bytes untouched. Readers
    hold the old snapshot until the single commit lands; time travel
    to the pre-delete version still sees the deleted rows until vacuum.

    Write amplification is O(files whose range intersects the
    predicate), which after zorder_write clustering tracks the
    predicate's selectivity, not the table size — the property a
    100 TB GDPR-erasure or retention pass needs. A candidate whose
    rows all survive (range overlap, no actual match) rewrites
    byte-equivalent content; avoiding that would take per-file matched
    counts, one more scan — the stats prune is the cheap 99% of the
    win. A file committed without stats is always a candidate (never
    skipped), so correctness does not depend on stats coverage.

    Returns the new version (or the current one when no file can
    match — a provable no-op commits nothing)."""
    return _rewrite_where(
        spark, table, "delete", col, lo, hi, lambda df: df.filter(~F.col(col).between(lo, hi))
    )


def update_where(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    assignments: dict,
) -> int:
    """Transactional row-level UPDATE (``UPDATE SET c = expr WHERE col
    BETWEEN lo AND hi``), same copy-on-write shape as
    ``delete_where``: the candidate files are read and restaged with
    ``assignments`` (column name -> Column expression) applied to the
    matching rows, everything else carries over by reference in the
    delta commit. Readers flip atomically from the old snapshot to the
    new; the pre-update version stays time-travelable until vacuum.

    Write amplification is O(range-intersecting files) — after
    clustering, the cost of a backfill/correction pass follows the
    predicate, not the table size. Returns the new version (current
    version when no file can match)."""
    matched = F.col(col).between(lo, hi)

    def assign(df: DataFrame) -> DataFrame:
        for name, expr in assignments.items():
            df = df.withColumn(name, F.when(matched, expr).otherwise(F.col(name)))
        return df

    return _rewrite_where(spark, table, "update", col, lo, hi, assign)


def vacuum(
    table: str, keep_versions: int = 1, retention_seconds: float = 3600.0
) -> list[str]:
    """Delete data files referenced by NO retained version (the last
    ``keep_versions`` log entries). Uncommitted leftovers from crashed
    writers are also swept. Files younger than ``retention_seconds``
    (mtime, Delta-style retention horizon) are never deleted: a live
    writer's staged-but-uncommitted files, and the files of a commit
    that lands between the version listing and the directory walk, are
    all younger than the horizon, so vacuum is safe to run alongside
    writers. Pass ``retention_seconds=0`` only with exclusive access to
    the table. Before expiring log entries, the oldest retained version
    is checkpointed so every retained version remains reconstructable
    without the expired deltas; checkpoints older than the horizon are
    dropped with them. Returns deleted paths."""
    vs = _versions(table)
    retained = vs[-keep_versions:] if keep_versions > 0 else []
    mtime_horizon = time.time() - retention_seconds
    live: set[str] = set()
    for v in retained:
        live.update(_snapshot(table, v).files)
    deleted = []
    for dirpath, _dirs, files in os.walk(table):
        if os.path.basename(dirpath) == LOG_DIR:
            continue
        for name in files:
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, table)
            if (
                name.endswith(".parquet")
                and rel not in live
                and os.path.getmtime(p) <= mtime_horizon
            ):
                os.remove(p)
                deleted.append(rel)
    # anchor replay for the survivors, THEN drop expired log entries so
    # time travel matches what is on disk
    if retained:
        _write_checkpoint(table, retained[0])
    expired = vs[: max(len(vs) - keep_versions, 0)] if keep_versions > 0 else vs
    for v in expired:
        os.remove(os.path.join(_log_path(table), f"{v}.json"))
    for c in _checkpoint_versions(table):
        # keep_versions=0 retains nothing: every checkpoint must go
        # too, or a table recreated at this path would replay a stale
        # checkpoint referencing vacuumed files
        if not retained or c < retained[0]:
            os.remove(os.path.join(_log_path(table), f"{c}.checkpoint.json"))
    return sorted(deleted)


def diff_versions(
    spark: SparkSession,
    table: str,
    v_old: int,
    v_new: int,
    keys: list[str],
) -> DataFrame:
    """Keyed change feed between two committed versions: one row per
    key whose state differs, with change_type insert / delete / update
    and the before/after images serialized as JSON. The CDC shape a
    downstream incremental consumer reads instead of re-scanning the
    table.

    Scale: one full-outer shuffle join on the key across the two
    snapshots — at 100 TB both versions share the bucketed layout, so
    the join co-locates, and because commits are deltas a smarter
    implementation could diff only files the log says changed; this
    row-level form is the semantics those optimizations must match."""
    old = read_table(spark, table, v_old)
    new = read_table(spark, table, v_new)
    val_cols = [c for c in old.columns if c not in keys]
    o = old.select(*keys, F.struct(*val_cols).alias("__o"))
    n = new.select(*keys, F.struct(*val_cols).alias("__n"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("__o").isNull(), F.lit("insert"))
        .when(F.col("__n").isNull(), F.lit("delete"))
        .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            F.to_json("__o").alias("before"),
            F.to_json("__n").alias("after"),
        )
    )


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY analog: one row per retained commit, newest
    first — version, operation, files added/removed, rows added (from
    the committed stats), and whether the commit recorded a schema
    (evolution point). Reads ONLY the log (no data files opened), so
    it is O(retained versions) regardless of table size."""
    rows = []
    for v in _versions(table):
        try:
            e = _read_entry(table, v)
        except FileNotFoundError:
            continue  # expired by vacuum
        stats = e.get("stats", {})
        rows.append(
            (
                v,
                e.get("op", "unknown"),
                len(e.get("add", [])),
                len(e.get("remove", [])),
                sum(int(s.get("rows", 0)) for s in stats.values()),
                "schema" in e,
                float(e["committed_at"]) if "committed_at" in e else None,
            )
        )
    return spark.createDataFrame(
        sorted(rows, reverse=True),
        "version INT, op STRING, n_added_files INT, n_removed_files INT, "
        "rows_added BIGINT, schema_change BOOLEAN, committed_at DOUBLE",
    )


def restore_table(table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION: commit a NEW version whose live
    file set equals the target version's — history is preserved (the
    restore is itself a commit; nothing is rewritten or deleted, so
    the restored-from state stays time-travelable and vacuum keeps
    honoring retention). Optimistic-retry like every writer. Returns
    the new version."""
    target = _committed(_snapshot(table, version))

    def plan(snap: _Snapshot):
        current, wanted = set(_committed(snap).files), set(target.files)
        return sorted(wanted - current), sorted(current - wanted), target.schema

    return _transact(table, "restore", plan)


def clone_table(src_table: str, dst_table: str, version: int | None = None) -> int:
    """Shallow (zero-copy) clone — Delta's ``CREATE TABLE ... SHALLOW
    CLONE``: the destination's v0 commit REFERENCES the source
    version's data files by absolute path; no bytes are copied. The
    clone then lives its own life: appends/merges/deletes commit
    normally (copy-on-write writes new files under the CLONE; removing
    a referenced file merely drops the reference), so dev/test
    branches of a 100 TB table cost one manifest write.

    Caveat (same as Delta's): ``vacuum`` on the SOURCE does not know
    about clones — it can expire files a clone still references once
    the source's own retention drops them. Clone from a version the
    source retains, or compact the clone (rewriting references into
    its own files) before vacuuming the source aggressively.

    Returns the clone's version (0)."""
    src = os.path.abspath(src_table)
    # one snapshot: the file list, stats, schema and recorded
    # cloned_version all describe the same version even while the
    # source keeps committing concurrently
    snap = _committed(_snapshot(src, version))
    os.makedirs(dst_table, exist_ok=True)
    if _versions(dst_table):
        raise FileExistsError(f"{dst_table!r} already has commits — not cloning over it")
    # zero-copy includes the STATS: remap the source manifest's
    # per-file min/max to the clone's stored keys instead of re-opening
    # every referenced footer (_collect_stats would read O(files));
    # os.path.join passes absolute keys (clone-of-clone) through
    stats = {os.path.abspath(os.path.join(src, p)): st for p, st in snap.stats.items()}
    return _commit(
        dst_table,
        sorted(os.path.abspath(p) for p in snap.paths()),
        "clone",
        None,
        schema=snap.schema,
        meta={"cloned_from": src, "cloned_version": snap.version},
        precomputed_stats=stats,
    )
