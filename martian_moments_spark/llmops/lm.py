"""Statistical language-model scoring for corpus quality filtering —
the CCNet-style perplexity gate (Wenzek et al. 2020) re-expressed as
exact integer-rational arithmetic so the DuckDB oracle hash-matches.

Model: add-one-smoothed bigram LM trained on the corpus's own
high-quality reference slice (the repo's standard heuristic gate:
>= 10 whitespace tokens and distinct-token ratio >= 0.3 — the same
predicate source_mix_report reports on). Scoring never takes a log:
per-document we accumulate the two INTEGER sums

    score_num = sum over doc bigrams of (cb + 1)        # smoothed hits
    score_den = sum over doc bigrams of (cu + V)        # context mass

where cb = reference count of the bigram, cu = reference count of the
left token as a bigram context (sum of its continuations), and V = the
reference vocabulary size. Each per-bigram term (cb+1)/(cu+V) is the
add-one conditional probability; the pooled ratio

    ppl_proxy = score_den / score_num                   # ONE division

is the micro-averaged inverse probability — a monotone perplexity
proxy (1/ppl_proxy is the pooled P(w_i | w_{i-1})). Logs are the
textbook form but libm log/exp differ across engines in the last ulp,
which would break the value-hash gate; two int64 sums followed by one
IEEE double division are bit-identical in Spark and DuckDB. The keep
verdict never touches a float at all: integer cross-multiplication
``score_den <= score_num * PPL_MAX`` (the memory-bank exactness trick
family: ECE integer numerators, MRR single division).

Sharp invariants (property-tested in tests/test_properties.py):
  * an all-out-of-vocabulary document scores ppl_proxy == V exactly
    (every term is (0+1)/(0+V));
  * a document made of a template planted in the reference slice
    scores strictly below V whenever the template bigram count >= 1.

Overflow bound (documented like textops.SPAN_PACK): score_den <=
n_doc_bigrams * (max_context_count + V), and the verdict multiplies
score_num (<= score_den) by PPL_MAX. int64 holds while
n_doc_bigrams * (max_context_count + V) * PPL_MAX < 2^63 — satisfied
for any document under 2^20 tokens against a reference slice under
2^37 (~137 B) tokens at PPL_MAX = 29. Beyond that, shard or
count-renormalize the reference model.

Scale: the model and context tables are vocabulary-bounded (model
rows <= distinct bigrams of the reference slice, with full map-side
combine on the count); scoring is one corpus-sized bigram explode and
two hash equi-joins on token-string keys — collision-bounded, never
all-pairs — plus a broadcast of the single-row vocabulary scalar. The
context table derives from the model table (vocabulary-scale input),
not from a second corpus pass.

Reference parity anchor: the reference repo has no LM tier — this is
an extension operator of the LLM-curation family (VERDICT r07
Next-round #1), same exactness contract as the rest of llmops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from martian_moments_spark.llmops.textops import tokens
from martian_moments_spark.operators.parallelize import spread

#: the repo's standard heuristic quality gate (source_mix_report):
#: docs passing it form the LM's reference (training) slice.
LM_GATE_MIN_TOKENS = 10
LM_GATE_MIN_DISTINCT = 0.3

#: keep verdict: ppl_proxy <= PPL_MAX, evaluated as the integer
#: cross-multiplication score_den <= score_num * PPL_MAX. 29 sits at
#: the measured sf0.01 corpus median (ppl_proxy spans ~27.5-30.5 on
#: the synthetic near-uniform corpus; an all-OOV doc scores V = 31),
#: so the verdict is non-trivial at every test scale.
BIGRAM_PPL_MAX = 29

_BG_PAIRS = (
    "transform(sequence(0, size(t) - 2), "
    "i -> struct(t[i] AS lw, concat(t[i], ' ', t[i+1]) AS bg))"
)


def lm_gate(t: Column) -> Column:
    """The heuristic reference-slice gate over a token-array column.
    n >= 10 first: the ratio division is only evaluated on non-empty
    arrays, and int/int double division is exact cross-engine."""
    n = F.size(t)
    return (n >= LM_GATE_MIN_TOKENS) & (
        F.size(F.array_distinct(t)).cast("double") / n.cast("double")
        >= LM_GATE_MIN_DISTINCT
    )


def sql_lm_gate(t: str = "t") -> str:
    """DuckDB twin of lm_gate over a list-valued expression."""
    return (
        f"len({t}) >= {LM_GATE_MIN_TOKENS} AND "
        f"CAST(len(list_distinct({t})) AS DOUBLE) / CAST(len({t}) AS DOUBLE) "
        f">= {LM_GATE_MIN_DISTINCT}"
    )


def _doc_bigrams(toks: DataFrame) -> DataFrame:
    """(doc_id, lw, bg): adjacent-token bigrams with the left token
    carried separately so the context join needs no re-split. The
    size >= 2 guard matters: Spark's sequence() runs DESCENDING for
    sequence(0, -1), which would fabricate bigrams for 1-token docs."""
    pairs = F.when(F.size("t") >= 2, F.expr(_BG_PAIRS)).otherwise(
        F.expr("CAST(array() AS array<struct<lw:string,bg:string>>)")
    )
    return toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.lw", "p.bg"
    )


def bigram_lm_scores(docs: DataFrame, ppl_max: int = BIGRAM_PPL_MAX) -> DataFrame:
    """Score every document of (doc_id, text) against the add-one
    bigram LM trained on the gate-passing reference slice. One row per
    input document: (doc_id, n_bigrams, n_hit_bigrams, score_num,
    score_den, ppl_proxy, keep). Documents with fewer than 2 tokens
    have no bigrams: zero sums, NULL ppl_proxy, keep = false (a 0/1
    token document is never training-worthy)."""
    # spread: the model branch, the context branch and the scoring
    # bigram explode all re-derived the tokenize from their own copy of
    # the one-split scan — serial single-task stages at bench scale
    # (r11 profile: 0.62 + 0.53 + 0.46 s). One keyed repartition of the
    # raw docs runs every branch's tokenize/explode at full
    # parallelism; identity at real scale (spread), where the
    # scan itself has enough splits. (The former 4th consumer — a
    # doc-id spine left-joined back — was removed by the explode_outer
    # rewrite below.)
    toks = spread(docs, "doc_id").select(
        "doc_id", tokens("text").alias("t")
    )
    ref = toks.filter(lm_gate(F.col("t")))
    v = ref.select(F.explode("t").alias("tok")).agg(
        F.count_distinct("tok").cast("long").alias("v")
    )
    # DO-NOT-RETRY (r08, same-session 4-run A/B at sf0.1): eager
    # localCheckpoint of this stage — narrow, consumed by both ctx and
    # the scoring join, so a checkpoint-law candidate — measured 1.54 s
    # vs 1.42 s baseline: Spark already reuses the groupBy exchange for
    # both consumers, and the eager materialization only adds a
    # blocking job.
    model = (
        _doc_bigrams(ref)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    # context counts from the vocabulary-scale model table (sum of a
    # context's continuations) — not a second corpus-wide pass; the
    # bigram never contains internal whitespace (tokens are produced
    # by splitting on \s+), so the first space is the separator.
    ctx = (
        model.select(F.split(F.col("bg"), " ", 2).getItem(0).alias("lw"), "cb")
        .groupBy("lw")
        .agg(F.sum("cb").cast("long").alias("cu"))
    )
    # r11 (guide §2.1 remove shuffles outright): the scoring explode is
    # OUTER, so a 0/1-token document keeps one (lw=NULL, bg=NULL) row
    # and survives the per-doc aggregate with n_bigrams = count(bg) = 0
    # — which removes the former doc-spine branch (a 4th read of the
    # corpus) AND its final left join back (one whole shuffle join).
    # Per-row equivalence with the join form: bg is never NULL for a
    # real pair (tokens are non-empty), so count(bg) == count(1) there,
    # and the when(bg-present) guards make the null row contribute
    # NULL sums exactly like the old left-join miss did.
    pairs = F.when(F.size("t") >= 2, F.expr(_BG_PAIRS)).otherwise(
        F.expr("CAST(array() AS array<struct<lw:string,bg:string>>)")
    )
    sc_rows = toks.select(
        "doc_id", F.explode_outer(pairs).alias("p")
    ).select("doc_id", "p.lw", "p.bg")
    has_pair = F.col("bg").isNotNull()
    scored = (
        sc_rows
        .join(model, "bg", "left")
        .join(ctx, "lw", "left")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("bg").cast("long").alias("n_bigrams"),
            F.count("cb").cast("long").alias("n_hit_bigrams"),
            F.sum(F.when(has_pair, F.coalesce(F.col("cb"), F.lit(0)) + 1))
            .cast("long")
            .alias("score_num"),
            F.sum(
                F.when(has_pair, F.coalesce(F.col("cu"), F.lit(0)) + F.col("v"))
            )
            .cast("long")
            .alias("score_den"),
        )
    )
    has_bg = F.col("n_bigrams") > 0
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_hit_bigrams",
        F.coalesce("score_num", F.lit(0).cast("long")).alias("score_num"),
        F.coalesce("score_den", F.lit(0).cast("long")).alias("score_den"),
        F.when(
            has_bg,
            F.col("score_den").cast("double")
            / F.col("score_num").cast("double"),
        ).alias("ppl_proxy"),
        F.coalesce(
            F.when(
                has_bg, F.col("score_den") <= F.col("score_num") * ppl_max
            ),
            F.lit(False),
        ).alias("keep"),
    )


def sql_bigram_lm_ctes(ppl_max: int = BIGRAM_PPL_MAX) -> str:
    """DuckDB CTE chain mirroring bigram_lm_scores exactly, ending in
    ``lm`` (one row per document, same columns). Composable: queries
    append their own SELECT. range(1, len(t)) is the LIST-valued form
    (empty for len < 2 — the table-function form errors; memory-bank
    DuckDB 1.0 gotcha)."""
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
    bg = "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])"
    return f"""
        toks AS (SELECT doc_id, {toks} AS t FROM documents),
        ref AS (SELECT doc_id, t FROM toks WHERE {sql_lm_gate("t")}),
        ref_bg AS (SELECT UNNEST({bg}) AS bg FROM ref),
        model AS (
            SELECT bg, CAST(COUNT(*) AS BIGINT) AS cb
            FROM ref_bg GROUP BY bg
        ),
        ctx AS (
            SELECT string_split(bg, ' ')[1] AS lw,
                   CAST(SUM(cb) AS BIGINT) AS cu
            FROM model GROUP BY 1
        ),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT UNNEST(t) AS tok FROM ref)
        ),
        doc_bg AS (
            SELECT doc_id, string_split(bg, ' ')[1] AS lw, bg
            FROM (SELECT doc_id, UNNEST({bg}) AS bg FROM toks)
        ),
        scored AS (
            SELECT d.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(COUNT(m.cb) AS BIGINT) AS n_hit_bigrams,
                   CAST(SUM(COALESCE(m.cb, 0) + 1) AS BIGINT) AS score_num,
                   CAST(SUM(COALESCE(c.cu, 0) + (SELECT v FROM vocab))
                        AS BIGINT) AS score_den
            FROM doc_bg d
            LEFT JOIN model m USING (bg)
            LEFT JOIN ctx c USING (lw)
            GROUP BY d.doc_id
        ),
        lm AS (
            SELECT t.doc_id,
                   CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(COALESCE(s.n_hit_bigrams, 0) AS BIGINT) AS n_hit_bigrams,
                   CAST(COALESCE(s.score_num, 0) AS BIGINT) AS score_num,
                   CAST(COALESCE(s.score_den, 0) AS BIGINT) AS score_den,
                   CASE WHEN s.n_bigrams > 0
                        THEN CAST(s.score_den AS DOUBLE)
                             / CAST(s.score_num AS DOUBLE)
                        ELSE NULL END AS ppl_proxy,
                   CASE WHEN s.n_bigrams > 0
                        THEN s.score_den <= s.score_num * {ppl_max}
                        ELSE FALSE END AS keep
            FROM toks t LEFT JOIN scored s USING (doc_id)
        )
    """
