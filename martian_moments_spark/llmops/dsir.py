"""Hashed n-gram importance weights for data selection — the full
DSIR estimator (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling") re-expressed in the engine's exact
integer-rational arithmetic so the DuckDB oracle hash-matches.

DSIR proper scores a raw document by the likelihood ratio of two
bag-of-hashed-ngram unigram models — one fit on a target (high
quality) slice, one on the raw pool — and resamples proportionally.
The estimator here is that pair of models verbatim; only the pooling
deviates, in the same way the repo's LM tier deviates from log-space
CCNet (llmops/lm.py): instead of summing per-feature LOG ratios
(libm log differs across engines in the last ulp, which would break
the value-hash gate), we micro-average each model's smoothed hit
mass over the document's features and take ONE ratio:

    t_num = sum over doc features f of (ct(f) + 1)   # target hits
    r_num = sum over doc features f of (cr(f) + 1)   # raw hits

    weight = (t_num * (Tr + B)) / (r_num * (Tt + B))

where ct/cr are the target/raw bucket counts, Tt/Tr the total target/
raw feature mass, and B the hash-bucket domain. Each side of the
ratio is the add-one-smoothed pooled probability of the document's
feature bag under that model (the per-document feature count n_f
cancels), so weight > 1 iff the pooled model evidence favors the
target slice. Two int64 sums, two int64 products, one IEEE double
division — bit-identical in Spark and DuckDB. The keep verdict never
touches a float: integer cross-multiplication
``t_num * (Tr + B) >= r_num * (Tt + B)``.

Features are HASHED bigrams — ``portable_hash31(bigram) % B`` — the
paper's hashing trick that bounds both model tables at B rows
regardless of corpus vocabulary, which is exactly what makes the
method 100 TB-shaped: the two models fit one broadcast (B = 512 rows
here; the paper uses 10k — a dial, not a mechanism), so scoring is
one corpus-sized bigram explode, one BROADCAST join, and one
map-side-combinable groupBy(doc_id). No shuffle keyed on anything
wider than doc_id, no second corpus pass (both models fit in the same
single pass via conditional aggregation on the gate flag).

Target slice: the repo's standard heuristic reference gate
(llmops/lm.py lm_gate — >= 10 tokens, distinct ratio >= 0.3), the
same slice the LM-perplexity tier trains on, so the two quality
filters are directly comparable document by document.

Overflow bound (documented like lm.py): t_num <= n_f * (ct_max + 1)
and the verdict multiplies it by (Tr + B); int64 holds while
n_f * (ct_max + 1) * (Tr + B) < 2^63. For a document under 2^20
features against models whose hottest bucket holds under 2^21
occurrences, that allows Tr up to ~2^22 — beyond that, renormalize
the model counts (divide both models by a common factor; the ratio
estimator is scale-invariant) exactly as lm.py prescribes for its
reference slice. A second, tighter cliff applies to the REPORTED
``weight`` column only: each int64 product is cast to double before
the divide, so once t_num * (Tr + B) or r_num * (Tt + B) exceeds
2^53 the two roundings silently degrade the printed ratio (the
``keep`` verdict stays exact — it compares the integer products
directly, never the doubles; the DuckDB oracle mirrors the cast so
parity holds regardless). The remedy is the same renormalization.

Sharp invariants (property-tested in tests/test_properties.py):
  * a document whose bigrams all hash to buckets with zero target
    mass scores t_num == n_f exactly (every term is 0 + 1);
  * planting a document's bigrams into the target slice strictly
    increases its t_num (monotonicity of the evidence sum).

Reference parity anchor: the reference repo has no data-selection
tier — this is an extension operator of the LLM-curation family,
upgrading the lexical hit-ratio form already registered as
``importance_weighted_sampling`` (queries_curation.py) to the paper's
two-model hashed-feature estimator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from martian_moments_spark.llmops.lm import lm_gate, sql_lm_gate
from martian_moments_spark.llmops.textops import (
    portable_hash31,
    sql_portable_hash31,
    sql_tokens,
    tokens,
)

#: hash-bucket domain of the feature space. Bounds BOTH model tables
#: at this many rows (broadcast-sized at any corpus scale). 512 keeps
#: bucket collisions meaningful at test scale; production DSIR runs
#: ~10k. A dial, not a mechanism.
DSIR_BUCKETS = 512

_BG = (
    "transform(sequence(0, size(t) - 2), "
    "i -> concat(t[i], ' ', t[i+1]))"
)


def _doc_feature_rows(toks: DataFrame) -> DataFrame:
    """(doc_id, is_ref, bucket): one row per document bigram, bucketed
    by the portable hash. The size >= 2 guard mirrors lm._doc_bigrams
    (sequence(0, -1) runs DESCENDING and would fabricate bigrams for
    1-token docs)."""
    bgs = F.when(F.size("t") >= 2, F.expr(_BG)).otherwise(
        F.expr("CAST(array() AS array<string>)")
    )
    return toks.select(
        "doc_id", "is_ref", F.explode(bgs).alias("bg")
    ).select(
        "doc_id",
        "is_ref",
        (portable_hash31(F.col("bg")) % DSIR_BUCKETS).alias("bucket"),
    )


def dsir_weights(docs: DataFrame, memo_key: str | None = None) -> DataFrame:
    """Score every document of (doc_id, text) by the DSIR hashed-ngram
    importance estimator. One row per input document: (doc_id,
    n_features, t_num, r_num, weight, keep). Documents with fewer than
    2 tokens have no features: zero sums, NULL weight, keep = false
    (mirrors the LM tier's verdict for featureless documents).

    The tokenize+bigram pipeline has three consumers (model counts,
    per-doc scoring, the doc spine) that each re-derived it from the
    scan's one split at gate scale (r11 profile: 0.5-0.66 s serial
    single-task stages); the docs are spread once first so every
    branch reads the shared spread exchange at full parallelism —
    the bigram_lm_scores pattern. Identity at real scale."""
    from martian_moments_spark.operators.parallelize import spread

    toks = spread(docs, "doc_id", memo_key=memo_key).select(
        "doc_id", tokens("text").alias("t")
    ).withColumn("is_ref", lm_gate(F.col("t")))
    feats = _doc_feature_rows(toks)
    # both models in ONE corpus pass: raw counts every row, target
    # counts the gate-passing subset. <= DSIR_BUCKETS rows out.
    model = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("long").alias("ct"),
        F.count(F.lit(1)).cast("long").alias("cr"),
    )
    totals = model.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cr").cast("long").alias("tr"),
    )
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum(F.col("ct") + 1).cast("long").alias("t_num"),
            F.sum(F.col("cr") + 1).cast("long").alias("r_num"),
        )
    )
    has_f = F.col("n_features").isNotNull()
    b = F.lit(DSIR_BUCKETS)
    return (
        toks.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.coalesce("n_features", F.lit(0).cast("long")).alias("n_features"),
            F.coalesce("t_num", F.lit(0).cast("long")).alias("t_num"),
            F.coalesce("r_num", F.lit(0).cast("long")).alias("r_num"),
            F.when(
                has_f,
                (F.col("t_num") * (F.col("tr") + b)).cast("double")
                / (F.col("r_num") * (F.col("tt") + b)).cast("double"),
            ).alias("weight"),
            F.coalesce(
                F.when(
                    has_f,
                    F.col("t_num") * (F.col("tr") + b)
                    >= F.col("r_num") * (F.col("tt") + b),
                ),
                F.lit(False),
            ).alias("keep"),
        )
    )


def sql_dsir_ctes() -> str:
    """DuckDB CTE chain mirroring dsir_weights exactly, ending in
    ``dsir`` (one row per document, same columns). Composable: queries
    append their own SELECT. range(1, len(t)) is the LIST-valued form
    (empty for len < 2)."""
    bg = "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])"
    bucket = f"{sql_portable_hash31('bg')} % {DSIR_BUCKETS}"
    return f"""
        toks AS (
            SELECT doc_id, t, {sql_lm_gate("t")} AS is_ref
            FROM (SELECT doc_id, {sql_tokens("text")} AS t FROM documents)
        ),
        feats AS (
            SELECT doc_id, is_ref, {bucket} AS bucket
            FROM (SELECT doc_id, is_ref, UNNEST({bg}) AS bg FROM toks)
        ),
        model AS (
            SELECT bucket,
                   CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(COUNT(*) AS BIGINT) AS cr
            FROM feats GROUP BY bucket
        ),
        totals AS (
            SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                   CAST(SUM(cr) AS BIGINT) AS tr
            FROM model
        ),
        scored AS (
            SELECT f.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_features,
                   CAST(SUM(m.ct + 1) AS BIGINT) AS t_num,
                   CAST(SUM(m.cr + 1) AS BIGINT) AS r_num
            FROM feats f JOIN model m USING (bucket)
            GROUP BY f.doc_id
        ),
        dsir AS (
            SELECT t.doc_id,
                   CAST(COALESCE(s.n_features, 0) AS BIGINT) AS n_features,
                   CAST(COALESCE(s.t_num, 0) AS BIGINT) AS t_num,
                   CAST(COALESCE(s.r_num, 0) AS BIGINT) AS r_num,
                   CASE WHEN s.n_features > 0
                        THEN CAST(s.t_num * (x.tr + {DSIR_BUCKETS}) AS DOUBLE)
                             / CAST(s.r_num * (x.tt + {DSIR_BUCKETS}) AS DOUBLE)
                        ELSE NULL END AS weight,
                   CASE WHEN s.n_features > 0
                        THEN s.t_num * (x.tr + {DSIR_BUCKETS})
                             >= s.r_num * (x.tt + {DSIR_BUCKETS})
                        ELSE FALSE END AS keep
            FROM toks t
            LEFT JOIN scored s USING (doc_id)
            CROSS JOIN totals x
        )
    """
