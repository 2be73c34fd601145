"""Count-min sketch laws: mergeability (the streaming/incremental
property), the never-underestimate guarantee, and partition
invariance. Oracle parity proves the registered query; these pin the
algebra the query can't show."""

from __future__ import annotations

import pyspark.sql.functions as F

from martian_moments_spark.catalog import load
from martian_moments_spark.functions.sketches import (
    CMS_SEEDS,
    CMS_WIDTH,
    cms_build,
    cms_estimate,
    cms_merge,
)
from martian_moments_spark.llmops.textops import tokens

SF_DIR = "/root/testdata/sf0.001"


def _tok_counts(spark, which=None):
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    if which == "even":
        docs = docs.filter(F.col("doc_id") % 2 == 0)
    elif which == "odd":
        docs = docs.filter(F.col("doc_id") % 2 == 1)
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _cells(df):
    return {(r["row"], r["bucket"]): r["total"] for r in df.collect()}


def test_cms_merge_equals_sketch_of_union(spark):
    """Cell-wise sum of two half-corpus sketches == the sketch of the
    whole corpus — the algebraic property that lets per-batch/stream
    sketches combine without reprocessing."""
    whole = cms_build(_tok_counts(spark), "tok", weight_col="n")
    even = cms_build(_tok_counts(spark, "even"), "tok", weight_col="n")
    odd = cms_build(_tok_counts(spark, "odd"), "tok", weight_col="n")
    merged = cms_merge(even, odd)
    assert _cells(whole) == _cells(merged)


def test_cms_never_underestimates_and_is_tight_for_heavy_keys(spark):
    cnt = _tok_counts(spark)
    sketch = cms_build(cnt, "tok", weight_col="n")
    est = cms_estimate(sketch, cnt.select("tok"), "tok")
    rows = cnt.join(est, "tok").collect()
    assert rows
    assert all(r["cms_estimate"] >= r["n"] for r in rows), "CMS underestimated"
    # the classic error bound: overcount <= e/W * total mass (w.h.p.);
    # assert the much looser deterministic sanity that SOME keys are
    # exact and the mean overcount is small next to the corpus
    total = sum(r["n"] for r in rows)
    overs = [r["cms_estimate"] - r["n"] for r in rows]
    assert min(overs) == 0
    assert sum(overs) / len(overs) < total / CMS_WIDTH * len(CMS_SEEDS)


def test_cms_partition_invariant(spark):
    cnt = _tok_counts(spark)
    a = cms_build(cnt, "tok", weight_col="n")
    b = cms_build(cnt.repartition(13), "tok", weight_col="n")
    assert _cells(a) == _cells(b)


def test_streaming_cms_sink_matches_batch_sketch(spark, tmp_path):
    """Stream the documents' tokens through the CMS sink in file-batch
    order; the persisted grid must equal the one-shot batch sketch —
    batch boundaries invisible, per the merge law."""
    from martian_moments_spark.streaming.sinks import cms_sketch_sink

    src = str(tmp_path / "src")
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    # two input files -> availableNow processes them as (>=1) batches
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/batch=a"
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/batch=b"
    )
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch=*")
        .select(F.explode(tokens("text")).alias("tok"))
    )
    q = cms_sketch_sink(
        stream,
        str(tmp_path / "sketch"),
        str(tmp_path / "ckpt"),
        key_col="tok",
    )
    assert q.awaitTermination(300), "streaming CMS query did not finish"
    from martian_moments_spark.streaming.sinks import read_cms_sketch

    got = {
        (r["row"], r["bucket"]): r["total"]
        for r in read_cms_sketch(spark, str(tmp_path / "sketch")).collect()
    }
    want = _cells(cms_build(_tok_counts(spark), "tok", weight_col="n"))
    assert got == want


def test_cms_estimate_unseen_key_is_zero_not_dropped(spark):
    cnt = _tok_counts(spark)
    sketch = cms_build(cnt, "tok", weight_col="n")
    keys = spark.createDataFrame(
        [("the",), ("__never_in_any_document__",)], "tok STRING"
    )
    rows = {r["tok"]: r["cms_estimate"] for r in cms_estimate(sketch, keys, "tok").collect()}
    assert set(rows) == {"the", "__never_in_any_document__"}
    # an unseen key may collide into nonzero cells, but with 4 rows of
    # 1024 buckets over a small vocabulary at least one cell is empty
    assert rows["__never_in_any_document__"] == 0


def test_sketch_sink_replayed_batch_commits_once_and_merges(spark, tmp_path):
    """foreachBatch is at-least-once: the sink's batch function run
    twice with the same batch id commits once (the replay finds its id
    in the table's current commit meta), and the next id merges onto
    that state, so the grid is the sketch of both batches."""
    from martian_moments_spark import lakehouse as lh
    from martian_moments_spark.streaming.sinks import cms_sketch_sink, read_cms_sketch

    captured = {}

    class Writer:
        def foreachBatch(self, fn):
            captured["apply"] = fn
            return self

        def option(self, *args, **kwargs):
            return self

        outputMode = trigger = option

        def start(self):
            return None

    class Stream:
        writeStream = Writer()

    path = str(tmp_path / "sketch")
    cms_sketch_sink(Stream(), path, str(tmp_path / "ckpt"), key_col="tok")
    apply = captured["apply"]
    b0 = spark.createDataFrame([("a",), ("b",), ("a",)], "tok STRING")
    b1 = spark.createDataFrame([("b",), ("c",)], "tok STRING")
    apply(b0, 0)
    apply(b0, 0)
    assert lh.current_version(path) == 0
    apply(b1, 1)
    assert lh.current_version(path) == 1
    assert _cells(read_cms_sketch(spark, path)) == _cells(cms_build(b0.unionByName(b1), "tok"))


def test_hist_merge_equals_hist_of_union_and_error_bound(spark):
    """Histogram-quantile laws: merge == build-of-union, and the p50
    estimate is within one bin width of the exact median."""
    from martian_moments_spark.functions.sketches import (
        HIST_BINS,
        hist_build,
        hist_merge,
        hist_quantile,
    )

    lo, hi = 0, 50_000_000
    u = load(spark, SF_DIR, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    whole = hist_build(u, "pu", lo, hi, group_cols=("o_orderpriority",))
    even = hist_build(
        u.filter(F.col("pu") % 2 == 0), "pu", lo, hi, group_cols=("o_orderpriority",)
    )
    odd = hist_build(
        u.filter(F.col("pu") % 2 == 1), "pu", lo, hi, group_cols=("o_orderpriority",)
    )
    merged = hist_merge(even, odd, group_cols=("o_orderpriority",))
    key = lambda d: {
        (r["o_orderpriority"], r["bin"]): r["cnt"] for r in d.collect()
    }
    assert key(whole) == key(merged)

    est = {
        r["o_orderpriority"]: r["est"]
        for r in hist_quantile(
            whole, 0.5, lo, hi, group_cols=("o_orderpriority",)
        ).collect()
    }
    exact = {
        r["o_orderpriority"]: r["m"]
        for r in u.groupBy("o_orderpriority")
        .agg(F.percentile("pu", F.lit(0.5)).alias("m"))
        .collect()
    }
    width = (hi - lo) / HIST_BINS
    for k in exact:
        assert abs(est[k] - exact[k]) <= width, (k, est[k], exact[k])


def test_streaming_hist_sink_matches_batch_histogram(spark, tmp_path):
    """The generic algebraic sink with the histogram sketch: streamed
    per-batch merges equal the one-shot per-group histogram."""
    from martian_moments_spark.functions.sketches import hist_build
    from martian_moments_spark.streaming.sinks import (
        hist_sketch_sink,
        read_cms_sketch,
    )

    lo, hi = 0, 50_000_000
    src = str(tmp_path / "src")
    u = load(spark, SF_DIR, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    u.filter(F.col("pu") % 2 == 0).coalesce(1).write.parquet(src + "/batch=a")
    u.filter(F.col("pu") % 2 == 1).coalesce(1).write.parquet(src + "/batch=b")
    stream = (
        spark.readStream.schema("o_orderpriority STRING, pu BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch=*")
    )
    q = hist_sketch_sink(
        stream,
        str(tmp_path / "sketch"),
        str(tmp_path / "ckpt"),
        units_col="pu",
        lo=lo,
        hi=hi,
        group_cols=("o_orderpriority",),
    )
    assert q.awaitTermination(300), "streaming histogram query did not finish"
    got = {
        (r["o_orderpriority"], r["bin"]): r["cnt"]
        for r in read_cms_sketch(spark, str(tmp_path / "sketch")).collect()
    }
    want = {
        (r["o_orderpriority"], r["bin"]): r["cnt"]
        for r in hist_build(u, "pu", lo, hi, group_cols=("o_orderpriority",)).collect()
    }
    assert got == want
