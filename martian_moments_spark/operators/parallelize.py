"""The one scan-parallelism operator.

Spark sizes scan partitions by input bytes, so a kilobyte-scale scan
runs as one task and serializes whatever CPU follows it on one core.
``spread`` hash-repartitions such a scan-shaped input onto more
partitions when, and only when, it arrives in fewer than the target;
``narrow`` answers the same question for callers that place their own
repartition. At real scale the scan already has more splits than
cores, so both are the identity there.

Two targets:

- uncapped, ``defaultParallelism``: fan-out stages (deletion
  variants, per-bit majority votes, codec decodes) amplify CPU per
  input byte 30-200x, so input bytes under-state their work;
- ``byte_cap=True``, ``min(para, max(min(8, para), ceil(est / 1 MiB)))``
  with ``est`` Catalyst's size estimate: for ~O(1)-per-byte relational
  scan work a full-parallelism spread of a small input pays more in
  task scheduling and the exchange than it recovers (five such queries
  ran faster at 8 cores than 32). Below 8 slots the exchange never
  amortizes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from martian_moments_spark.catalog import fingerprint

_BYTES_PER_SLOT = 1 << 20
_MIN_SLOTS = 8


def _est_bytes(df: DataFrame) -> int:
    """Catalyst's logical-plan size estimate for ``df`` in bytes
    (file size scaled by the projected row-width ratio — the same
    estimate the planner's broadcast decisions run on)."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # py4j maps scala BigInt to a python int on this build; older
    # bridges hand back the Java object — take either.
    return size if isinstance(size, int) else int(size.toString())


#: probe memo: (memo_key, dataset fingerprint, parallelism, columns) ->
#: (scan partition count, Catalyst size estimate). The split count of
#: a table's scan depends only on its files; the size estimate also
#: depends on the projection, hence the column tuple in the key.
_PROBE_MEMO: dict = {}


def reset_probe_memo() -> None:
    """Drop all memoized scan probes."""
    _PROBE_MEMO.clear()


def _probe(df: DataFrame, memo_key: str | None, parallelism: int) -> tuple[int, int]:
    """(partition count, estimated bytes) for ``df``. Both touch the
    JVM planner, so plan builders pass ``memo_key="<sf_dir>:<table>"``
    to pay them once per dataset and projection; the table's files
    are fingerprinted so an in-place rewrite re-probes."""
    if memo_key is None:
        return df.rdd.getNumPartitions(), _est_bytes(df)
    sf_dir, _, table = memo_key.rpartition(":")
    fp = fingerprint(os.path.join(sf_dir, table + ".parquet")) if sf_dir else None
    key = (memo_key, fp, parallelism, tuple(df.columns))
    ent = _PROBE_MEMO.get(key)
    if ent is None:
        ent = (df.rdd.getNumPartitions(), _est_bytes(df))
        _PROBE_MEMO[key] = ent
    return ent


def narrow(df: DataFrame, memo_key: str | None = None) -> bool:
    """Whether ``df`` arrives in fewer partitions than the session's
    default parallelism."""
    para = df.sparkSession.sparkContext.defaultParallelism
    return _probe(df, memo_key, para)[0] < para


def spread(
    df: DataFrame, *keys: str, memo_key: str | None = None, byte_cap: bool = False
) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` onto the target partition
    count (see the module docstring) unless it already has at least
    that many partitions.

    - Call it on a scan-shaped input (scan + filter + narrow project)
      BEFORE the expensive stage: the probe plans ``df`` physically,
      which is cheap there and would not be after joins.
    - The keys are real columns, so retried map tasks reproduce the
      same row placement. Add columns when the natural key has too
      few distinct values to spread evenly; where a downstream
      groupBy/join keys on the same columns, it reuses the spread's
      exchange instead of adding one.
    - The partition count is explicit: a bare ``repartition(col)`` is
      AQE-coalescible and would be folded back into one task.
    """
    para = df.sparkSession.sparkContext.defaultParallelism
    nparts, est = _probe(df, memo_key, para)
    target = para
    if byte_cap:
        target = min(para, max(min(_MIN_SLOTS, para), -(-est // _BYTES_PER_SLOT)))
    if nparts >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in keys])


# An r11 draft also carried ``repartition_for_key`` (pre-materialize
# the exchange that keyed consumers would insert, hoping ReuseExchange
# collapses sibling subtrees). Measured and REMOVED: column pruning
# gives sibling consumers different projections below the exchange, so
# the subtrees never canonicalize equal and nothing is reused — and
# when the consumer is a broadcast join the keyed exchange serves no
# one at all (cross_doc_ngram_spans benched 1.80 s with it vs 1.20 s
# without, same session, interleaved). Exchange sharing that actually
# fires comes from IDENTICAL subtrees (this module's spread qualifies:
# both consumers read the same spread shuffle files).
