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

import os
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

    def _watermark(self) -> int | None:
        """The source version the rollup currently reflects — read from
        the rollup's own commit log (it rode the commit, so it can
        never disagree with the committed data)."""
        v = lh.current_version(self.rollup_table)
        if v is None:
            return None
        meta = lh._read_entry(self.rollup_table, v).get("meta") or {}
        return meta.get("source_version")

    def _source_is_append_only_since(self, from_version: int, to_version: int) -> bool:
        """False on anything that breaks the incremental premise:
        removals, legacy full-snapshot entries, a backward-moving
        source (recreated table), or log entries expired by vacuum."""
        if to_version < from_version:
            return False
        try:
            for v in range(from_version + 1, to_version + 1):
                entry = lh._read_entry(self.source_table, v)
                if "files" in entry or entry.get("remove"):
                    return False
        except FileNotFoundError:
            return False  # vacuum expired the delta trail
        return True

    def _delta_files(self, from_version: int, to_version: int) -> list[str]:
        added: list[str] = []
        for v in range(from_version + 1, to_version + 1):
            added.extend(lh._read_entry(self.source_table, v).get("add", []))
        return [os.path.join(self.source_table, p) for p in added]

    # -- API ----------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict:
        """Bring the rollup up to the source's current version.
        Incremental when every commit since the watermark was a pure
        append; full recompute otherwise (or on first run). Returns
        {"mode": "noop"|"incremental"|"full", "source_version": v}.

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
        wm = self._watermark()
        if wm is not None and wm == src_v:
            return {"mode": "noop", "source_version": src_v}

        meta = {"source_table": self.source_table, "source_version": src_v}
        incremental = wm is not None and self._source_is_append_only_since(wm, src_v)
        if incremental:
            delta_files = self._delta_files(wm, src_v)
            current = lh.read_table(spark, self.rollup_table)
            if delta_files:
                merged = self._merge_partials(
                    self._aggregate(
                        lh._read_files(
                            spark, self.source_table, delta_files, src_v
                        )
                    ).unionByName(current)
                )
            else:
                merged = current
            lh.overwrite(merged, self.rollup_table, meta=meta)
            mode = "incremental"
        else:
            full = self._aggregate(lh.read_table(spark, self.source_table, src_v))
            if lh.current_version(self.rollup_table) is None:
                lh.append(full, self.rollup_table, meta=meta)
            else:
                lh.overwrite(full, self.rollup_table, meta=meta)
            mode = "full"
        return {"mode": mode, "source_version": src_v}

    def read(self, spark: SparkSession) -> DataFrame:
        return lh.read_table(spark, self.rollup_table)
