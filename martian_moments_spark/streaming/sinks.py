"""Streaming sinks: the exactly-once parquet append and the
algebraic-sketch sinks.

``foreachBatch`` is the micro-batch ≈ DAG-run equivalence (E1). The
keyed upsert sink (E8) is ``lakehouse.upsert_sink``: each micro-batch
is one commit-log version, and that commit entry is the load-complete
record the reference publishes to Kafka after every COPY
(src/utils/snowflake.py:61-65, E9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def append_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint: str, partition_by: tuple[str, ...] = ()
):
    """Exactly-once append to parquet — dbt 'append' strategy (E7) with
    the checkpoint as the high-watermark. Returns the started query."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.trigger(availableNow=True).start()


def cms_sketch_sink(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    key_col: str,
    weight_col: str | None = None,
):
    """Maintain a running count-min sketch over a stream — the
    bounded-memory heavy-hitter summary at unbounded key cardinality
    (functions/sketches.py). Each micro-batch builds its own D x W
    sketch and cell-wise sums it into the persisted grid; because the
    CMS is algebraic (merge == sketch-of-union, pinned in
    test_sketches.py), the running sketch after N batches is exactly
    the sketch of everything that streamed through, regardless of
    batch boundaries.

    foreachBatch is at-least-once and this update is additive, so the
    state is kept in per-batch VERSIONED directories
    (``batch_<id>/`` + Spark's ``_SUCCESS`` marker) rather than one
    overwritten file: a replayed batch re-reads the state as of the
    PREVIOUS batch (never its own partial output — double-count-safe),
    and a crash mid-write leaves only an incomplete dir that the next
    attempt rewrites. The grid is at most D*W rows, so rewriting it
    per batch is a few thousand integers. Read the current grid with
    ``read_cms_sketch``. Returns the started query."""
    from martian_moments_spark.functions.sketches import cms_build, cms_merge

    return algebraic_sketch_sink(
        stream_df,
        sketch_path,
        checkpoint,
        build_fn=lambda df: cms_build(df, key_col, weight_col=weight_col),
        merge_fn=cms_merge,
    )


def hist_sketch_sink(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    units_col: str,
    lo: int,
    hi: int,
    group_cols: tuple[str, ...] = (),
):
    """Maintain running per-group quantile histograms over a stream
    (functions/sketches.py hist_*): the incremental-percentile sink.
    Same versioned-state discipline as the CMS sink; the persisted
    state is at most groups*bins cells. Returns the started query."""
    from martian_moments_spark.functions.sketches import hist_build, hist_merge

    return algebraic_sketch_sink(
        stream_df,
        sketch_path,
        checkpoint,
        build_fn=lambda df: hist_build(df, units_col, lo, hi, group_cols=group_cols),
        merge_fn=lambda a, b: hist_merge(a, b, group_cols=group_cols),
    )


def algebraic_sketch_sink(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    build_fn,
    merge_fn,
):
    """Maintain ANY algebraic summary over a stream: ``build_fn``
    sketches one micro-batch, ``merge_fn`` folds it into the running
    state. Sound whenever merge(sketch(A), sketch(B)) ==
    sketch(A ++ B) — the law all the engine's sketches pin in tests.

    State is per-batch versioned dirs (``batch_<id>/`` + ``_SUCCESS``)
    because foreachBatch is at-least-once and merges are additive: a
    replayed batch reads the state as of the PREVIOUS batch (never its
    own partial output), and a torn write leaves only an incomplete
    dir the retry rewrites. Returns the started query."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sketch = build_fn(batch_df)
        prev_dir = _latest_cms_dir(sketch_path, before=batch_id)
        if prev_dir is not None:
            merged = merge_fn(spark.read.parquet(prev_dir), batch_sketch)
        else:
            merged = batch_sketch
        out_dir = os.path.join(sketch_path, f"batch_{batch_id:020d}")
        merged.coalesce(1).write.mode("overwrite").parquet(out_dir)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _latest_cms_dir(sketch_path: str, before: int | None = None) -> str | None:
    """Newest COMPLETE (``_SUCCESS``-marked) batch dir, optionally
    restricted to batch ids strictly below ``before`` (the replay
    case: a batch must never read its own prior partial output)."""
    if not os.path.isdir(sketch_path):
        return None
    best = None
    for name in os.listdir(sketch_path):
        if not name.startswith("batch_"):
            continue
        try:
            bid = int(name.split("_", 1)[1])
        except ValueError:
            continue
        if before is not None and bid >= before:
            continue
        if not os.path.exists(os.path.join(sketch_path, name, "_SUCCESS")):
            continue
        if best is None or bid > best[0]:
            best = (bid, name)
    return os.path.join(sketch_path, best[1]) if best else None


def read_cms_sketch(spark, sketch_path: str) -> DataFrame:
    """The current cumulative sketch (latest complete batch version)."""
    d = _latest_cms_dir(sketch_path)
    if d is None:
        raise FileNotFoundError(f"no complete CMS sketch under {sketch_path}")
    return spark.read.parquet(d)
