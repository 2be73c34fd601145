"""Incrementally-maintained materialized rollups over lakehouse tables.

The engine-level form of Snowflake materialized views / Databricks DLT
aggregate tables, built directly on the commit log: because lakehouse
commits are ADD/REMOVE file deltas, the rows appended between two
versions are exactly the union of the ADDED files — no change-capture
column, no full diff join. An incremental refresh therefore:

1. reads ONLY the files appended since the recorded watermark version
   (O(delta), never O(source));
2. partial-aggregates that delta (map-side combine, one small shuffle);
3. merges the partials into the current rollup by the same algebraic
   merge discipline as ``operators.skew.salted_agg`` (sum/min/max —
   ``count`` partials merge by SUM; non-decomposable aggregates are
   rejected loudly rather than silently wrong);
4. overwrites the rollup table with the source watermark RIDING THE
   COMMIT (lakehouse ``meta``): the watermark and the data it
   describes are one atomic publish, so no crash point can leave a
   rollup that silently re-applies (double-counts) a delta.

Any break in the incremental premise falls back to a full recompute —
correct for every workload, merely less incremental: a source commit
that REMOVED files (overwrite, merge, delete, restore), source log
entries expired by vacuum, or a source whose version went BACKWARD
(table recreated at the same path). The refresh-equals-recompute
invariant is pinned in tests/test_materialized.py, including through
every fallback path.

Reference analog: the dbt incremental models the reference materializes
in Snowflake (models/marts/*.sql) — here the maintenance is explicit,
exact, and engine-owned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from martian_moments_spark import lakehouse as lh
from martian_moments_spark.operators.skew import MERGES, check_merges


class MaterializedRollup:
    """An aggregate view ``SELECT keys, aggs FROM source GROUP BY keys``
    maintained incrementally against a lakehouse source table.

    ``aggs`` maps output column -> (phase1 expression, merge name from
    ``operators.skew.MERGES``). The merge is explicit because it cannot
    be inferred (a count partial merges by sum; averaging averages is
    wrong): an avg is carried as (sum, count) and divided at read
    time."""

    def __init__(
        self,
        source_table: str,
        rollup_table: str,
        keys: Sequence[str],
        aggs: dict[str, tuple[Column, str]],
    ) -> None:
        check_merges(aggs)
        self.source_table = source_table
        self.rollup_table = rollup_table
        self.keys = list(keys)
        self.aggs = dict(aggs)

    # -- internals ----------------------------------------------------

    def _aggregate(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.keys).agg(
            *[expr.alias(name) for name, (expr, _) in self.aggs.items()]
        )

    def _merge_partials(self, parts: DataFrame) -> DataFrame:
        return parts.groupBy(*self.keys).agg(
            *[
                MERGES[merge](F.col(name)).alias(name)
                for name, (_, merge) in self.aggs.items()
            ]
        )

    def _appended_since(self, from_version: int, to_version: int) -> list[str] | None:
        """The files (stored form) the source's commits after
        ``from_version`` added, or None on anything that breaks the
        incremental premise: removals, legacy full-snapshot entries, a
        backward-moving source (recreated table), or log entries
        expired by vacuum."""
        if to_version < from_version:
            return None
        added: list[str] = []
        try:
            for v in range(from_version + 1, to_version + 1):
                entry = lh._read_entry(self.source_table, v)
                if "files" in entry or entry.get("remove"):
                    return None
                added.extend(entry["add"])
        except FileNotFoundError:
            return None  # vacuum expired the delta trail
        return added

    # -- API ----------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict:
        """Bring the rollup up to the source's current version.
        Incremental when every commit since the watermark was a pure
        append; full recompute otherwise (or on first run). Returns
        {"mode": "noop"|"incremental"|"full", "source_version": v}.

        The watermark is the source version the rollup reflects, read
        from the ``meta`` of the rollup snapshot the refresh merges
        onto: it rode that commit, so it can never disagree with the
        committed data.

        No localCheckpoint before the overwrite: lakehouse commits
        never delete data files (only vacuum does, behind a retention
        horizon), so a plan that reads the current rollup snapshot
        stays valid while its replacement stages — the read-after-
        supersede race the materialization would guard against cannot
        occur in this table format. An empty delta (an append of an
        empty DataFrame stages zero files) degenerates to re-committing
        the current rollup with the advanced watermark."""
        src_v = lh.current_version(self.source_table)
        if src_v is None:
            raise FileNotFoundError(f"no committed version in {self.source_table!r}")
        rollup = lh._snapshot(self.rollup_table)
        wm = rollup.meta.get("source_version")
        if wm == src_v:
            return {"mode": "noop", "source_version": src_v}

        meta = {"source_table": self.source_table, "source_version": src_v}
        src = lh._snapshot(self.source_table, src_v)
        added = None if wm is None else self._appended_since(wm, src_v)
        if added is not None:
            merged = lh._read_snapshot(spark, rollup)
            if added:
                merged = self._merge_partials(
                    self._aggregate(lh._read_files(spark, src, added)).unionByName(merged)
                )
            lh.overwrite(merged, self.rollup_table, meta=meta)
            mode = "incremental"
        else:
            full = self._aggregate(lh._read_snapshot(spark, src))
            if rollup.version is None:
                lh.append(full, self.rollup_table, meta=meta)
            else:
                lh.overwrite(full, self.rollup_table, meta=meta)
            mode = "full"
        return {"mode": mode, "source_version": src_v}

    def read(self, spark: SparkSession) -> DataFrame:
        return lh.read_table(spark, self.rollup_table)
