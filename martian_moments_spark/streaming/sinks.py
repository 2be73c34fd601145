"""Streaming sinks: the exactly-once parquet append and the
algebraic-sketch sinks.

``foreachBatch`` is the micro-batch ≈ DAG-run equivalence (E1). The
keyed upsert sink (E8) is ``lakehouse.upsert_sink``: each micro-batch
is one commit-log version, and that commit entry is the load-complete
record the reference publishes to Kafka after every COPY
(src/utils/snowflake.py:61-65, E9). The sketch sinks keep their running
state in a lakehouse table too: one commit per micro-batch, carrying
the batch id in its ``meta``, so a replayed batch is recognised and
commits nothing (the idempotent-per-batch sink of Structured
Streaming's exactly-once design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from martian_moments_spark import lakehouse


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

    The state is a lakehouse table at ``sketch_path`` (see
    ``algebraic_sketch_sink`` for the replay rule); the grid is at most
    D*W rows, so rewriting it per batch is a few thousand integers.
    Read the current grid with ``read_cms_sketch``. Returns the started
    query."""
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
    Same committed-state discipline as the CMS sink; the persisted
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

    The running state is a lakehouse table at ``sketch_path``: each
    micro-batch commits its merged sketch as one ``overwrite`` whose
    ``meta`` carries the batch id. foreachBatch is at-least-once and
    the merge is additive, so a replayed batch whose id the current
    version already holds commits nothing, and any other batch merges
    onto the current version — a crash before its commit leaves the
    previous batch's version current, so the replay merges onto
    exactly that. Superseded versions are ordinary table history,
    reclaimed by ``lakehouse.vacuum``. Returns the started query."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        snap = lakehouse._snapshot(sketch_path)
        if snap.meta.get("batch_id") == batch_id:
            return  # a replay of the batch the table already holds
        sketch = build_fn(batch_df)
        if snap.version is not None:
            sketch = merge_fn(lakehouse._read_snapshot(batch_df.sparkSession, snap), sketch)
        lakehouse.overwrite(sketch.coalesce(1), sketch_path, meta={"batch_id": batch_id})

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def read_cms_sketch(spark, sketch_path: str) -> DataFrame:
    """The current cumulative sketch: the latest version of the sink's
    table."""
    return lakehouse.read_table(spark, sketch_path)
