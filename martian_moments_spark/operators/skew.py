"""Skew mitigation: salted two-phase aggregation and salted joins.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; salting is the explicit form for the cases AQE can't touch —
a single hot GROUP BY key whose partial aggregate still bottlenecks
one task, or a broadcast-ineligible join against a hot key. Results
are identical to the unsalted plan (the final phase re-aggregates);
only the shuffle distribution changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join for when the small side is too large to
    broadcast and the big side has hot keys: the big side gets a
    deterministic row-hash salt appended to the join key, the small
    side is replicated once per salt value, and the join runs on
    (keys + salt) — a hot key's rows spread over ``n_salts`` tasks
    instead of one straggler. Results are identical to the unsalted
    join; only the shuffle distribution changes (the small side pays a
    ``n_salts``x replication, which is the explicit cost dial).

    AQE's skew-join split (on in session.py) handles most of this at
    runtime; salting is the static form for engines/paths where AQE
    cannot split (e.g. a skewed build side feeding a stateful stage).
    The salt is a hash of the big side's full row — deterministic, so
    retries and speculative tasks re-deal identically.

    Only join types that never emit an unmatched SMALL-side row are
    allowed: the small side is replicated ``n_salts`` times, so a
    right/full outer join would emit each unmatched small-side row once
    per salt — n_salts duplicates, not the unsalted result. Same guard
    discipline as bloom_prefilter_join."""
    allowed = (
        "inner",
        "left",
        "left_outer",
        "leftouter",
        "left_semi",
        "leftsemi",
        "semi",
        "left_anti",
        "leftanti",
        "anti",
    )
    if how not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            f"small side would duplicate unmatched rows (allowed: inner, "
            f"left, left_semi, left_anti)"
        )
    salt_b = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    big_s = big.withColumn("__salt", salt_b)
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    return big_s.join(small_s, [*keys, "__salt"], how).drop("__salt")


#: Phase-2 merge functions by name: how a per-salt partial re-aggregates
#: into the true per-key value. Only decomposable (algebraic) aggregates
#: belong here — the same set Catalyst does partial aggregation for.
#: Note ``count`` partials merge by SUM, and a mean must be carried as
#: (sum, count) partials and divided after phase 2 — there is
#: deliberately no 'avg' entry.
MERGES: dict[str, object] = {"sum": F.sum, "min": F.min, "max": F.max}


def check_merges(aggs: dict[str, tuple[Column, str]]) -> None:
    """Reject an ``aggs`` spec whose phase-2 merge is missing or not in
    ``MERGES``: the merge cannot be inferred safely, so a bare
    expression or an unknown name raises rather than guessing."""
    for name, spec in aggs.items():
        if not (isinstance(spec, tuple) and len(spec) == 2):
            raise TypeError(
                f"aggs[{name!r}] must be (phase1_expr, merge_name); "
                f"got {type(spec).__name__} — the phase-2 merge is explicit"
            )
        if spec[1] not in MERGES:
            raise ValueError(
                f"aggs[{name!r}]: unknown merge {spec[1]!r} "
                f"(supported: {sorted(MERGES)}); non-decomposable aggregates "
                "(avg, count distinct, percentiles) have no phase-2 merge"
            )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, str]],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase aggregate over a salted key: phase 1 groups by
    (keys + salt) — the hot key's rows spread over ``n_salts`` tasks —
    phase 2 merges the partials by the true keys.

    ``aggs`` maps output column → ``(phase1_expr, merge)`` where
    ``merge`` names the phase-2 re-aggregation from ``MERGES``
    ('sum' | 'min' | 'max'). The merge is explicit because it cannot be
    inferred safely: a ``count`` partial merges by SUM, an ``avg``
    partial merges by *nothing* (averaging averages is wrong — carry
    sum and count separately and divide afterwards). An unknown merge
    name raises rather than guessing.

    The salt is deterministic (hash of ``salt_source`` or a stable row
    fingerprint, never rand()) so retries/speculation don't re-deal
    rows — the same determinism rule as everywhere in this engine."""
    check_merges(aggs)
    salt = (
        F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts))
        if salt_source
        else F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[expr.alias(f"__p_{name}") for name, (expr, _) in aggs.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[MERGES[merge](F.col(f"__p_{name}")).alias(name) for name, (_, merge) in aggs.items()]
    )
